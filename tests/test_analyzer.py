"""Analyzer facade: the reference's get_dd_analyzer -> analyze() surface."""

from __future__ import annotations

import pytest

from deepdoctection_spark import get_analyzer
from deepdoctection_spark.sources.transcripts import build_transcripts


def test_analyze_matches_direct_pipeline(spark, sf_small):
    an = get_analyzer()
    t = build_transcripts(spark, sf_small)
    out = an.analyze(t)
    assert out.count() == t.count()
    assert "extracted_text" in out.columns and "blocks" in out.columns
    convs = an.conversations(out)
    assert convs.count() == t.select("conv_id").distinct().count()
    ch = an.chunks(out)
    assert {"span_id", "category", "reading_order"} <= set(ch.columns)


def test_analyze_path_roundtrip(spark, sf_small, tmp_path):
    t = build_transcripts(spark, sf_small).limit(64)
    p = str(tmp_path / "t")
    t.write.mode("overwrite").parquet(p)
    out = get_analyzer(with_words=False).analyze_path(spark, p)
    assert out.count() == 64


def test_config_overwrite_validated():
    an = get_analyzer(config_overwrite={"link_density_threshold": 0.7})
    assert an.cfg.link_density_threshold == 0.7
    with pytest.raises(ValueError, match="unknown config keys"):
        get_analyzer(config_overwrite={"nope": 1})
    # a retired field is unknown too, not silently accepted
    with pytest.raises(ValueError, match="unknown config keys"):
        get_analyzer(config_overwrite={"shingle_k": 5})
    with pytest.raises(ValueError, match="link_density_threshold"):
        get_analyzer(config_overwrite={"link_density_threshold": 3.0})


def test_config_changes_behavior(spark, sf_small):
    """Permissive density thresholds keep nav/footer blocks that the
    defaults drop — BOTH boilerplate config knobs actually reach the
    kernels (nav is held out by link density AND tag density, so each
    must be relaxed for it to survive)."""
    t = build_transcripts(spark, sf_small).where("tool = 'browser'").limit(16)
    strict = get_analyzer().analyze(t).agg({"n_blocks": "sum"}).collect()[0][0]
    loose = (
        get_analyzer(
            config_overwrite={
                "link_density_threshold": 1.0,
                "tag_density_threshold": 0.0,
            }
        )
        .analyze(t)
        .agg({"n_blocks": "sum"})
        .collect()[0][0]
    )
    assert loose > strict
    # relaxing only ONE of the two signals keeps nav/footer dropped
    link_only = (
        get_analyzer(config_overwrite={"link_density_threshold": 1.0})
        .analyze(t)
        .agg({"n_blocks": "sum"})
        .collect()[0][0]
    )
    assert link_only == strict


def test_gt_cache_clear_releases_blocks(spark, sf_small):
    """After a metric query + clear_gt_cache(), no persisted RDD blocks
    remain (the driver-sweep cache-leak guard, VERDICT r2 #8)."""
    from deepdoctection_spark.plans import evaluation

    def persisted_ids() -> set[int]:
        it = spark.sparkContext._jsc.sc().getPersistentRDDs().keySet().iterator()
        ids = set()
        while it.hasNext():
            ids.add(it.next())
        return ids

    # Track the EXACT RDD ids the gt cache adds: other suites' lingering
    # localCheckpoint blocks can be GC-unpersisted at any moment, so a raw
    # before/after count comparison is racy.
    before = persisted_ids()
    evaluation._gt(spark, sf_small).count()
    added = persisted_ids() - before
    assert added  # the gt persist created block(s)
    evaluation.clear_gt_cache()
    assert not (persisted_ids() & added)  # ...and clear released them all
    assert evaluation._GT_CACHE == {}


def test_analyze_ice_matches_parquet_input(spark, sf_small, tmp_path):
    """Round-3 facade: extraction over an IceTable snapshot read (with a
    manifest predicate) equals extraction over the same rows from parquet."""
    from pyspark.sql import functions as F

    from deepdoctection_spark.analyzer import get_analyzer
    from deepdoctection_spark.sources.transcripts import build_transcripts
    from deepdoctection_spark.sources.icetable import IceTable

    an = get_analyzer(with_words=False)
    tr = build_transcripts(spark, sf_small)
    t = IceTable(str(tmp_path / "tbl"))
    for k in range(2):
        t.append(tr.where(F.pmod(F.xxhash64("conv_id"), F.lit(2)) == k))
    got = sorted(
        (r["conv_id"], r["turn_idx"], r["extracted_text"])
        for r in an.analyze_ice(spark, str(tmp_path / "tbl"),
                                predicate=("turn_idx", "<", 2)).collect()
    )
    want = sorted(
        (r["conv_id"], r["turn_idx"], r["extracted_text"])
        for r in an.analyze(tr.where("turn_idx < 2")).collect()
    )
    assert got == want and got


def test_dedup_conversations_facade(spark, sf_small):
    from deepdoctection_spark.analyzer import get_analyzer
    from deepdoctection_spark.sources.transcripts import build_transcripts

    an = get_analyzer(with_words=False)
    ex = an.analyze(build_transcripts(spark, sf_small))
    exact = an.dedup_conversations(ex)
    rows = exact.collect()
    assert rows and all(r["is_kept"] and r["group_size"] == 1 for r in rows)
    # unique synthetic convs -> near-dup pairs empty but the plan runs
    assert an.dedup_conversations(ex, near=True).count() == 0

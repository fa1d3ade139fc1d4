"""Tests of the event-log fold over a small captured log.

``testdata/eventlog_small.jsonl`` is the event log of one tiny session:
``extract_transcripts`` over 40 seeded turns in 4 partitions into the noop
sink (job description ``perfbench:1:extract``), then the same turns through
``reassemble_conversations`` (``perfbench:2:reassemble``), with the bulky
fields the fold does not read stripped. Regenerate it with

    python3 perfbench/test_eventlog.py --capture

and run the tests with ``python3 -m pytest perfbench``.
"""

from __future__ import annotations

import json
import os
import sys

import eventlog
from eventlog import fold, load

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE = os.path.join(HERE, "testdata", "eventlog_small.jsonl")
N_TURNS = 40


def _queries():
    queries = load(FIXTURE)
    by_desc: dict[str, list] = {}
    for q in queries:
        by_desc.setdefault(q.description, []).append(q)
    return queries, by_desc


def test_queries_carry_their_job_descriptions():
    _, by_desc = _queries()
    assert set(by_desc) == {"perfbench:1:extract", "perfbench:2:reassemble"}
    for qs in by_desc.values():
        assert all(q.end_ms is not None and q.end_ms >= q.start_ms for q in qs)


def test_arrow_node_metrics_are_folded_per_query():
    _, by_desc = _queries()
    for desc in by_desc:
        qs = by_desc[desc]
        rows = sum(q.metric("MapInArrow", "number of output rows") for q in qs)
        assert rows == N_TURNS
        assert sum(q.metric("MapInArrow", "data sent to Python workers") for q in qs) > 0
        assert sum(q.metric("MapInArrow", "data returned from Python workers") for q in qs) > 0
        run_s = sum(q.metric("MapInArrow", "time to run Python workers") for q in qs)
        assert 0 < run_s < 600  # timings are folded to seconds, not ms


def test_stages_and_tasks():
    _, by_desc = _queries()
    extract = [st for q in by_desc["perfbench:1:extract"] for st in q.stages]
    arrow = [st for st in extract if "MapInArrow" in st.nodes]
    assert len(arrow) == 1 and len(arrow[0].tasks) == 4
    assert not arrow[0].writes_shuffle  # noop sink: nothing after the extraction
    reassemble = [st for q in by_desc["perfbench:2:reassemble"] for st in q.stages]
    reduce = [st for st in reassemble if "MapInArrow" not in st.nodes and st.reads_shuffle]
    assert reduce, "the reassembly's aggregation reads the extraction's shuffle output"
    written = sum(t.shuffle_write_bytes for st in reassemble for t in st.tasks if "MapInArrow" in st.nodes)
    assert written > 0
    for st in reassemble:
        assert st.skew() >= 1.0
        for t in st.tasks:
            assert 0 <= t.run_s <= t.duration_s + 1e-9


def test_rolling_directory_layout(tmp_path):
    lines = open(FIXTURE).readlines()
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    half = len(lines) // 2
    # numbered files are read in number order, not name order
    (d / "events_10_local-1").write_text("".join(lines[half:]))
    (d / "events_2_local-1").write_text("".join(lines[:half]))
    (d / "appstatus_local-1").write_text("")
    assert eventlog.find_log(str(tmp_path)) == str(d)
    rolled = load(str(d))
    single = load(FIXTURE)
    assert [(q.execution_id, q.metrics) for q in rolled] == [(q.execution_id, q.metrics) for q in single]


def test_unlabelled_stages_are_dropped():
    lines = [
        json.dumps({"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 7, "Submission Time": 1}}),
        json.dumps({"Event": "SparkListenerTaskEnd", "Stage ID": 7,
                    "Task Info": {"Launch Time": 1, "Finish Time": 5, "Accumulables": []},
                    "Task Metrics": {"Executor Run Time": 3}}),
    ]
    assert fold(lines) == []


# Top-level keys the fold never reads, dropped from the captured fixture.
_STRIP = {"physicalPlanDescription", "details", "Details", "RDD Info", "Stage Infos",
          "Task Executor Metrics", "Properties"}


def _strip_plan(info: dict) -> dict:
    return {"nodeName": info["nodeName"], "metrics": info.get("metrics", []),
            "children": [_strip_plan(c) for c in info.get("children", [])]}


def _strip(ev: dict) -> dict | None:
    kind = ev["Event"]
    if kind in ("SparkListenerEnvironmentUpdate", "SparkListenerTaskStart",
                "SparkListenerBlockManagerAdded", "SparkListenerResourceProfileAdded"):
        return None
    out = {}
    for k, v in ev.items():
        if k == "Properties" and kind == "SparkListenerJobStart":
            out[k] = {p: v[p] for p in ("spark.sql.execution.id", "spark.job.description") if p in v}
        elif k == "sparkPlanInfo":
            out[k] = _strip_plan(v)
        elif k == "Task Info":  # internal accumulables repeat "Task Metrics"
            out[k] = dict(v, Accumulables=[a for a in v["Accumulables"]
                                           if not a["Name"].startswith("internal.")])
        elif k == "Stage Info":
            out[k] = {s: v[s] for s in ("Stage ID", "Submission Time", "Completion Time") if s in v}
        elif k not in _STRIP:
            out[k] = v
    return out


def capture() -> None:
    """Write the fixture from a tiny local session."""
    import shutil
    import tempfile

    repo = os.path.dirname(HERE)
    sys.path[:0] = [repo]
    os.environ["PYTHONPATH"] = repo
    import inputs
    import run
    from deepdoctection_spark.config import get_spark
    from deepdoctection_spark.operators.extraction import extract_transcripts
    from deepdoctection_spark.operators.reassembly import reassemble_conversations
    from deepdoctection_spark.sources.transcripts import build_transcripts

    work = tempfile.mkdtemp(dir=os.path.join(HERE, ".work") if os.path.isdir(os.path.join(HERE, ".work")) else None)
    try:
        for sub in ("local", "tmp", "events", "docs"):
            os.makedirs(os.path.join(work, sub))
        inputs.write_documents(os.path.join(work, "docs", "documents.parquet"), seed=0, n_docs=N_TURNS)
        spark = get_spark(master="local[2]", app_name="eventlog-fixture",
                          extra_conf=run.spark_conf(work, trace=True))
        t = build_transcripts(spark, os.path.join(work, "docs"), partitions=4)
        spark.sparkContext.setJobDescription("perfbench:1:extract")
        extract_transcripts(t).write.format("noop").mode("overwrite").save()
        spark.sparkContext.setJobDescription("perfbench:2:reassemble")
        reassemble_conversations(extract_transcripts(t, with_words=False)).write.format("noop").mode("overwrite").save()
        spark.stop()
        os.makedirs(os.path.dirname(FIXTURE), exist_ok=True)
        with open(FIXTURE, "w") as out:
            for fn in eventlog.event_files(eventlog.find_log(os.path.join(work, "events"))):
                with open(fn) as f:
                    for line in f:
                        ev = _strip(json.loads(line))
                        if ev is not None:
                            out.write(json.dumps(ev) + "\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__" and "--capture" in sys.argv:
    capture()

"""The workloads: input set-up, one trial, and the correctness check.

Every workload is a batch job in a closed loop on ``local[cores]`` with
3×cores input partitions: the next trial starts when the previous one
finishes. The program sees only the DataFrame built here from the seeded
documents table, through the package's public entry points.

- ``extract_mixed``: 120k turns (5000 documents × 24 replicas), one third
  each plain / HTML / PDF-like, ``extract_transcripts(with_words=True)`` into
  the noop sink. The kernels and the Arrow boundary do the work; nothing is
  shuffled after the input repartition.
- ``reassemble_skewed``: 120k plain-text turns, ~30% moved to one
  mega-conversation, ``extract_transcripts(with_words=False)`` →
  ``reassemble_conversations`` (two-phase) → noop. The shuffle, aggregation
  and skew handling do the work; the HTML and PDF kernels do none, so a
  kernel change should not move it.
- ``resume_commit``: 60k mixed turns materialized once as an ``IceTable``;
  each trial reads the snapshot and runs ``run_resumable_extract`` into a
  fresh directory with an injected crash after two committed waves, then
  resumes to completion: the write, commit and resume path. BENCHMARK.json
  does not list it (two workloads fit the run budget); the traced
  ``extract_mixed`` run measures its layers with one such trial, and
  ``--workload resume_commit`` runs it on its own.
"""

from __future__ import annotations

import functools
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import inputs
from probes import Tracer

from deepdoctection_spark.jobs.resumable import (
    ResumableResult,
    load_extracted,
    read_manifest,
    run_resumable_extract,
)
from deepdoctection_spark.operators.extraction import extract_transcripts
from deepdoctection_spark.operators.reassembly import reassemble_conversations
from deepdoctection_spark.sources.icetable import IceTable
from deepdoctection_spark.sources.transcripts import TURNS_PER_CONV, replicated_transcripts


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


class Check:
    """Output rows compared with the expected rows: ``failed`` counts rows
    that are wrong, carry an ``error`` or are missing, and rows that should
    not exist."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.examples: list[str] = []

    def compare(self, expected: dict, got: dict, errors: int = 0) -> None:
        self.attempted += len(expected)
        bad = [k for k, v in expected.items() if got.get(k) != v]
        extra = [k for k in got if k not in expected]
        self.failed += len(bad) + len(extra) + errors
        for k in (bad + extra)[:3]:
            self.examples.append(f"{k}: expected {expected.get(k)} got {got.get(k)}")
        if errors:
            self.examples.append(f"{errors} rows carry an error")


def _turn_digests(out: DataFrame) -> tuple[dict, int]:
    rows = out.select(
        "conv_id", "turn_idx", F.md5("extracted_text").alias("h"), "n_blocks",
        F.size("words").alias("nw"), F.col("error").isNotNull().alias("err"),
    ).toArrow().to_pylist()
    got = {}
    for r in rows:
        key = (r["conv_id"], r["turn_idx"])
        # a duplicated key is an extra row, not a silent overwrite
        got[key if key not in got else (key, len(got))] = (r["h"], r["n_blocks"], r["nw"])
    return got, sum(r["err"] for r in rows)


class Workload:
    name = ""
    repl = 24
    plain_only = False
    with_words = True

    def __init__(self, spark: SparkSession, work: str, seed: int, partitions: int, tracer: Tracer) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.partitions, self.tracer = partitions, tracer
        self.docs_dir = os.path.join(work, "docs")
        self.docs: list[dict] = []

    # -- set-up -----------------------------------------------------------
    def write_documents(self) -> None:
        """(Re)write the seeded documents table from scratch."""
        shutil.rmtree(self.docs_dir, ignore_errors=True)
        os.makedirs(self.docs_dir)
        self.docs = inputs.write_documents(
            os.path.join(self.docs_dir, "documents.parquet"), self.seed, self.plain_only
        )

    def materialize(self) -> None:
        """Spark-side input materialization, after the workers are warm."""

    def synthesized(self) -> DataFrame:
        with self.tracer.span("sources.replicated_transcripts"):
            return replicated_transcripts(self.spark, self.docs_dir, self.repl, partitions=self.partitions)

    def transcripts(self) -> DataFrame:
        """The DataFrame the program receives."""
        return self.synthesized()

    @property
    def n_turns(self) -> int:
        return len(self.docs) * self.repl

    @property
    def n_convs(self) -> int:
        return len({inputs.base_key(d["doc_id"])[0] for d in self.docs}) * self.repl

    def payloads(self) -> list[tuple[str, str]]:
        """The distinct (text, tool) payloads of the input (replicas repeat them)."""
        return [inputs.payload(d) for d in self.docs]

    # -- one trial and its check -----------------------------------------
    def job(self) -> DataFrame:
        with self.tracer.span("operators.extract_transcripts"):
            return extract_transcripts(self.transcripts(), with_words=self.with_words)

    def trial(self) -> None:
        df = self.job()
        with self.tracer.span("sink.noop"):
            noop(df)

    def check(self, chk: Check) -> None:
        with self.tracer.span("check"):
            got, errors = _turn_digests(self.job())
        chk.compare(inputs.expected_turns(self.docs, self.repl), got, errors)


class ExtractMixed(Workload):
    name = "extract_mixed"


class ReassembleSkewed(Workload):
    name = "reassemble_skewed"
    plain_only = True
    with_words = False

    def transcripts(self) -> DataFrame:
        t = self.synthesized()
        with self.tracer.span("inputs.skew"):
            key = F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string"), F.lit(str(self.seed)))
            hot = F.pmod(F.crc32(key), F.lit(10)) < 3
            parts = F.split("conv_id", "-")
            mega_turn = (
                parts[2].cast("int") * inputs.HOT_STRIDE
                + parts[1].cast("int") * TURNS_PER_CONV + F.col("turn_idx")
            )
            return t.select(
                F.when(hot, F.lit(inputs.HOT_CONV)).otherwise(F.col("conv_id")).alias("conv_id"),
                F.when(hot, mega_turn).otherwise(F.col("turn_idx")).cast("int").alias("turn_idx"),
                "role", "text", "tool", "ts",
            )

    def job(self) -> DataFrame:
        extracted = super().job()
        with self.tracer.span("operators.reassemble_conversations"):
            return reassemble_conversations(extracted)

    @property
    def n_convs(self) -> int:
        return len(self.expected)

    @functools.cached_property
    def expected(self) -> dict[str, tuple[int, str]]:
        return inputs.expected_conversations(self.docs, self.repl, self.seed)

    def check(self, chk: Check) -> None:
        with self.tracer.span("check"):
            rows = self.job().select(
                "conv_id", "n_turns", F.md5("conv_text").alias("h")
            ).toArrow().to_pylist()
        got = {}
        for r in rows:
            got[r["conv_id"] if r["conv_id"] not in got else (r["conv_id"], len(got))] = (r["n_turns"], r["h"])
        chk.compare(self.expected, got)


class ResumeCommit(Workload):
    name = "resume_commit"
    repl = 12
    n_buckets, wave_size, fail_after_waves = 64, 16, 2

    def __init__(self, *a, **kw) -> None:
        super().__init__(*a, **kw)
        self.table = IceTable(os.path.join(self.work, "ice"))
        self.out_dir = os.path.join(self.work, "out")
        self.resumed: list[ResumableResult] = []
        self.committed_rows = 0

    def materialize(self) -> None:
        with self.tracer.span("icetable.overwrite"):
            self.table.overwrite(self.synthesized())

    def transcripts(self) -> DataFrame:
        with self.tracer.span("icetable.read"):
            return self.table.read(self.spark)

    def trial(self) -> None:
        shutil.rmtree(self.out_dir, ignore_errors=True)
        df = self.transcripts()
        args = (self.spark, df, self.out_dir, self.n_buckets, self.wave_size)
        with self.tracer.span("jobs.run_resumable_extract.first_attempt"):
            try:
                run_resumable_extract(*args, fail_after_waves=self.fail_after_waves)
            except RuntimeError as exc:
                if "injected failure" not in str(exc):
                    raise
            else:
                raise RuntimeError("the injected crash did not happen")
        with self.tracer.span("jobs.run_resumable_extract.resume"):
            self.resumed.append(run_resumable_extract(*args))

    def check(self, chk: Check) -> None:
        """Checks what the last trial committed, as ``load_extracted`` reads it."""
        with self.tracer.span("check"):
            got, errors = _turn_digests(load_extracted(self.spark, self.out_dir))
        self.committed_rows = sum(1 for key in got if isinstance(key[0], str))  # distinct keys
        chk.compare(inputs.expected_turns(self.docs, self.repl), got, errors)

    def manifest(self) -> list[dict]:
        return read_manifest(self.out_dir)


BY_NAME = {w.name: w for w in (ExtractMixed, ReassembleSkewed, ResumeCommit)}

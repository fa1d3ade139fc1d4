"""Per-layer metrics of a traced run.

Each layer is measured from outside, by timing calls into its public
functions (spans) and by folding Spark's event log for the SQL executions
those calls issued. Metrics describe the median warm trial (every trial but
the first), like ``wall_s``. ``memory.peak_rss_mb`` is the summed peak RSS
of the JVM and its Python workers over set-up and trials.

Layer → metrics → the end-to-end metric each should move:

- ``config``: ``session_start_s``, ``worker_warm_s`` → ``setup_s``;
  ``first_trial_s``, the cold trial right after set-up, reported here
  because across runs it is bimodal (some first trials run as fast as
  warm ones).
- ``sources.transcripts``: ``sources.synth_s``, a noop over the generated
  input alone → ``turns_per_s`` on ``extract_mixed``.
- ``sources.icetable``: ``icetable.write_s``, ``icetable.read_s`` →
  ``setup_s``, ``turns_per_s`` on ``resume_commit``.
- ``kernels``: single process, no Spark, over the workload's own payloads →
  ``turns_per_s`` on ``extract_mixed``, not on ``reassemble_skewed``.
- ``operators.extraction``: the MapInArrow node's Python worker metrics and
  its stages' task times → ``wall_s``, ``turns_per_s``.
- ``operators.reassembly``: shuffle, spill and reduce-task skew of the
  stages after the extraction → ``convs_per_s`` and the JVM part of
  ``memory.peak_rss_mb`` on ``reassemble_skewed``.
- ``jobs.resumable``: attempt walls and the commit manifest →
  ``turns_per_s``, ``wall_s`` on ``resume_commit``.

Executor CPU time is not used: it excludes the Python workers' CPU, which
is most of an extraction stage's work.
"""

from __future__ import annotations

import statistics

import probes
import workloads

ARROW_NODE = "MapInArrow"
_PY = {
    "extraction.python_run_s": "time to run Python workers",
    "extraction.python_init_s": "time to initialize Python workers",
    "extraction.python_start_s": "time to start Python workers",
    "extraction.bytes_to_python": "data sent to Python workers",
    "extraction.bytes_from_python": "data returned from Python workers",
}


def _median_span(tracer, name: str, skip_first: bool = False) -> float:
    """Median duration of the spans called ``name``; ``skip_first`` drops
    the first when there are more."""
    spans = tracer.named(name)
    if skip_first and len(spans) > 1:
        spans = spans[1:]
    return statistics.median(s.seconds for s in spans) if spans else 0.0


def traced_extras(wl, tracer, chk, repeats: int = 3):
    """Layer measurements a traced run takes after its trials: noop scans
    of the input, the single-process kernel bench and, on
    ``extract_mixed``, one crash-and-resume job over an IceTable of 60k of
    its turns (the ``resume_commit`` trial), whose committed output is
    checked into ``chk``. Returns (metrics, the workload that ran the
    resumable job or None)."""
    out = {}
    resume = wl if isinstance(wl, workloads.ResumeCommit) else None
    for _ in range(repeats):
        with tracer.span("sources.synth"):
            # resume_commit's program input is the IceTable read, timed below
            workloads.noop(wl.synthesized() if resume else wl.transcripts())
    out["sources.synth_s"] = _median_span(tracer, "sources.synth")
    with tracer.span("kernels.bench"):
        out.update({f"kernels.{k}": v for k, v in probes.kernel_bench(wl.payloads()).items()})
    if isinstance(wl, workloads.ExtractMixed):
        resume = workloads.ResumeCommit(wl.spark, wl.work, wl.seed, wl.partitions, tracer)
        resume.docs = wl.docs  # the same seeded documents table
        resume.materialize()
        resume.trial()
        resume.check(chk)
    if resume:
        for _ in range(repeats):
            with tracer.span("icetable.read_scan"):
                workloads.noop(resume.transcripts())
        out["icetable.read_s"] = _median_span(tracer, "icetable.read_scan")
    return out, resume


def _span_of(description: str) -> int | None:
    parts = description.split(":")
    if len(parts) >= 3 and parts[0] == "perfbench":
        return int(parts[1])
    return None


def fold(wl, resume, tracer, queries, extras: dict, n_cores: int):
    """(per-layer metrics, notes on unexercised metrics, layer split of the
    warm trial wall)."""
    parent = {s.span_id: s.parent for s in tracer.spans}
    trials = tracer.named("trial")
    trial_ids = {s.span_id for s in trials}

    def trial_of(q) -> int | None:
        sid = _span_of(q.description)
        while sid is not None and sid not in trial_ids:
            sid = parent[sid]
        return sid

    by_trial: dict[int, list] = {t.span_id: [] for t in trials}
    for q in queries:
        tid = trial_of(q)
        if tid is not None:
            by_trial[tid].append(q)

    kernel_core_s = wl.n_turns / extras["kernels.turns_per_s_core"]
    reassembles = isinstance(wl, workloads.ReassembleSkewed)
    per_trial = [_trial_metrics(by_trial[t.span_id], t.seconds, n_cores, kernel_core_s, reassembles)
                 for t in trials[1:]]
    out = {k: statistics.median(m[0][k] for m in per_trial) for k in per_trial[0][0]}
    split = {k: statistics.median(m[1][k] for m in per_trial) for k in per_trial[0][1]}
    out.update(extras)
    notes = {}
    if resume:
        out.update(_resumable(resume, tracer))
        out["icetable.write_s"] = _median_span(tracer, "icetable.overwrite")
    else:
        for k in ("icetable.write_s", "icetable.read_s", "resumable.first_attempt_s",
                  "resumable.resume_s", "resumable.waves", "resumable.skipped_buckets",
                  "resumable.rows_quarantined", "resumable.useful_ratio"):
            out[k] = 0.0
            notes[k] = f"0: not measured on {wl.name}; the traced extract_mixed run measures it"
    if not reassembles:
        for k in out:
            if k.startswith("reassembly."):
                notes[k] = f"0: {wl.name} does not reassemble conversations"
    for fam, k in (("browser", "kernels.html_us_per_turn"), ("pdf_reader", "kernels.pdf_us_per_turn"),
                   ("", "kernels.plain_us_per_turn")):
        if not any(tool == fam for _, tool in wl.payloads()):
            notes[k] = f"0: {wl.name} has no such payloads"
    if not out["extraction.python_start_s"]:
        notes["extraction.python_start_s"] = "0: no Python worker was started in a warm trial"
    return out, notes, split


def _trial_metrics(queries, wall: float, n_cores: int, kernel_core_s: float, reassembles: bool):
    stages = [st for q in queries for st in q.stages]
    arrow = [st for st in stages if ARROW_NODE in st.nodes]
    # after the extraction, only the reassembly shuffles; elsewhere a stage
    # reading a shuffle is input repartitioning or commit bookkeeping
    reduce = [st for st in stages if ARROW_NODE not in st.nodes and st.reads_shuffle] if reassembles else []
    other = [st for st in stages if st not in arrow and st not in reduce]
    m = {k: sum(q.metric(ARROW_NODE, name) for q in queries) for k, name in _PY.items()}
    m["extraction.kernel_share"] = kernel_core_s / m["extraction.python_run_s"] if m["extraction.python_run_s"] else 0.0
    durations = [t.duration_s for st in arrow for t in st.tasks]
    m["extraction.task_p50_s"] = statistics.median(durations) if durations else 0.0
    m["extraction.task_max_s"] = max(durations, default=0.0)
    m["extraction.gc_s"] = sum(t.gc_s for st in arrow for t in st.tasks)
    after = arrow + reduce if reassembles else []  # the extraction's output exchange and downstream
    m["reassembly.shuffle_write_bytes"] = sum(t.shuffle_write_bytes for st in after for t in st.tasks)
    m["reassembly.shuffle_read_bytes"] = sum(t.shuffle_read_bytes for st in reduce for t in st.tasks)
    m["reassembly.spill_bytes"] = sum(t.spill_bytes for st in after for t in st.tasks)
    m["reassembly.fetch_wait_s"] = sum(t.fetch_wait_s for st in reduce for t in st.tasks)
    m["reassembly.reduce_skew"] = max((st.skew() for st in reduce if len(st.tasks) > 1), default=0.0)

    def busy(sts) -> float:
        return sum(t.duration_s for st in sts for t in st.tasks)

    # Core-seconds of the trial, split by layer. Python time outside the
    # kernel estimate is the Arrow boundary and per-row glue of
    # operators.extraction; what no task covers is Spark driver, scheduling and
    # idle cores.
    capacity = wall * n_cores
    arrow_busy = busy(arrow)
    split = {
        "capacity_core_s": capacity,
        "kernels_core_s": kernel_core_s,
        "extraction_boundary_core_s": arrow_busy - kernel_core_s,
        "reassembly_core_s": busy(reduce),
        "sources_and_bookkeeping_core_s": busy(other),
    }
    split["unattributed_core_s"] = capacity - busy(stages)
    m["trace.attributed_share"] = busy(stages) / capacity
    return m, split


def _resumable(wl, tracer) -> dict[str, float]:
    manifest = wl.manifest()  # the last trial's commits
    extracted = sum(e["rows"] for e in manifest)
    last = wl.resumed[-1]
    return {
        "resumable.first_attempt_s": _median_span(
            tracer, "jobs.run_resumable_extract.first_attempt", skip_first=True),
        "resumable.resume_s": _median_span(tracer, "jobs.run_resumable_extract.resume", skip_first=True),
        "resumable.waves": len({(e["job_id"], e["wave"]) for e in manifest}),
        "resumable.skipped_buckets": last.skipped_buckets,
        "resumable.rows_quarantined": sum(e["quarantined"] for e in manifest),
        "resumable.useful_ratio": wl.committed_rows / extracted if extracted else 0.0,
    }

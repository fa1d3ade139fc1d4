"""Repository benchmark: seeded workloads against the package's public entry
points, every output checked against ground truth.

    python3 perfbench/run.py --workload extract_mixed --seed 1 --seconds 5 --trace 0

Run from the repository root (the workloads are described in
``workloads.py``). ``--trace 0`` prints the end-to-end metrics. ``--trace 1``
also writes Spark's event log and sets each SQL execution's description to
the benchmark span that issued it, then prints the per-layer metrics; it
ends by re-running the trials in a session without tracing, for the tracing
overhead. The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it is a
JSON report: per-trial walls, set-up parts, the machine-speed control, the
layer split of the wall and notes on metrics a workload does not exercise.
The report, with the spans, is also written to ``perfbench/.work/reports/``.
The exit code is non-zero when any output row is wrong, quarantined or
missing.

Inputs, Spark scratch space, event logs and job outputs live under
``perfbench/.work/`` and are removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK_ROOT = os.path.join(HERE, ".work")

# workloads.BY_NAME's keys; named here because importing workloads needs the
# package, which main() checks for first
WORKLOADS = ("extract_mixed", "reassemble_skewed", "resume_commit")
# The documents table is written this many times in set-up; setup_s takes
# the median.
DOC_WRITES = 3
# A run measures at least the cold first trial and one warm trial.
MIN_TRIALS = 2


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    """Keep every file Spark writes inside the work directory; with tracing,
    write the uncompressed event log there (the default zstd log needs a
    decoder that is not installed)."""
    return {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": str(trace).lower(),
        "spark.eventLog.compress": "false",
        "spark.eventLog.dir": os.path.join(work, "events"),
    }


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(REPO, "deepdoctection_spark", "__init__.py")):
        print(f"perfbench: no deepdoctection_spark package under {REPO}", file=sys.stderr)
        return 2
    # The Python workers import the package too: put the repository on their
    # path, whatever directory the benchmark is started from.
    sys.path[:0] = [REPO, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")]))
    n_cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(n_cores)
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    for sub in ("local", "tmp", "events"):
        os.makedirs(os.path.join(work, sub))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        result, report = measure(args, work, n_cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    reports = os.path.join(WORK_ROOT, "reports")
    os.makedirs(reports, exist_ok=True)
    with open(os.path.join(reports, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps({k: v for k, v in report.items() if k != "spans"}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


class Session:
    """One Spark session running one workload: set-up, then trials."""

    def __init__(self, args, work: str, n_cores: int, trace: bool, tracer) -> None:
        import workloads
        from deepdoctection_spark.config import get_spark

        self.tracer = tracer
        with tracer.span("config.get_spark") as s:
            self.spark = get_spark(app_name=f"perfbench-{args.workload}",
                                   extra_conf=spark_conf(work, trace))
        self.session_start_s = s.seconds
        self.wl = workloads.BY_NAME[args.workload](self.spark, work, args.seed, 3 * n_cores, tracer)

    def warm_workers(self) -> float:
        """A tiny extraction over 3×cores partitions: starts every Python
        worker and loads the extraction code in it."""
        import workloads
        from deepdoctection_spark.operators.extraction import extract_transcripts
        from deepdoctection_spark.sources.transcripts import build_transcripts

        with self.tracer.span("config.worker_warm") as s:
            workloads.noop(extract_transcripts(
                build_transcripts(self.spark, self.wl.docs_dir).limit(256)
                .repartition(self.wl.partitions)))
        return s.seconds

    def trials(self, seconds: float, at_least: int = MIN_TRIALS) -> list[float]:
        """Closed loop: the next trial starts when the previous one ends,
        until ``seconds`` have passed and at least ``at_least`` have run."""
        walls: list[float] = []
        t0 = time.monotonic()
        while len(walls) < at_least or time.monotonic() - t0 < seconds:
            with self.tracer.span("trial") as s:
                self.wl.trial()
            walls.append(s.seconds)
        return walls


def measure(args, work: str, n_cores: int) -> tuple[dict, dict]:
    import probes
    import workloads
    from probes import RssSampler, Tracer
    from pyspark.sql import SparkSession

    control = probes.control_probe(n_cores)

    def set_label(label: str | None) -> None:
        active = SparkSession.getActiveSession()
        if active is not None:  # spans open before the session exists
            active.sparkContext.setJobDescription(label)

    tracer = Tracer(on_label=set_label if args.trace else None)
    with RssSampler() as rss:
        sess = Session(args, work, n_cores, bool(args.trace), tracer)
        wl = sess.wl
        doc_writes = []
        for _ in range(DOC_WRITES):
            with tracer.span("setup.write_documents") as s:
                wl.write_documents()
            doc_writes.append(s.seconds)
        warm_s = sess.warm_workers()
        with tracer.span("setup.materialize") as s_mat:
            wl.materialize()
        setup = {"session_start_s": sess.session_start_s, "write_documents_s": doc_writes,
                 "worker_warm_s": warm_s, "materialize_s": s_mat.seconds}
        setup_s = sess.session_start_s + statistics.median(doc_writes) + warm_s + s_mat.seconds
        trials = sess.trials(args.seconds)
    chk = workloads.Check()
    wl.check(chk)
    wall = statistics.median(trials[1:])
    metrics = {
        "setup_s": setup_s,
        "wall_s": wall,
        "turns_per_s": wl.n_turns / wall,
        "convs_per_s": wl.n_convs / wall,
        "worker_rss_mb": rss.peak_bytes(workers_only=True) / 2**20,
        "correct_frac": 1 - chk.failed / chk.attempted,
    }
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "cores": n_cores,
        "turns": wl.n_turns, "conversations": wl.n_convs,
        "trials_s": trials, "wall_samples": len(trials) - 1, "setup": setup,
        "control_md5_tasks_per_s": control, "peak_rss_mb_by_process": rss.by_command(),
    }
    if args.trace:
        import layers

        extras, resume = layers.traced_extras(wl, tracer, chk)
        sess.spark.stop()
        import eventlog

        queries = eventlog.load(eventlog.find_log(os.path.join(work, "events")))
        per_layer, notes, split = layers.fold(wl, resume, tracer, queries, extras, n_cores)
        per_layer["memory.peak_rss_mb"] = rss.peak_bytes() / 2**20
        per_layer["config.session_start_s"] = sess.session_start_s
        per_layer["config.worker_warm_s"] = warm_s
        per_layer["config.first_trial_s"] = trials[0]
        per_layer["control.md5_tasks_per_s"] = control
        per_layer["trace.wall_s"] = wall
        # Untraced reference: a new session (same JVM) without the event log
        # or labels, running as many trials. It starts on a JVM the traced
        # session has warmed, so the overhead it gives is an upper bound.
        ref = Session(args, work, n_cores, False, Tracer())
        ref.wl.docs = wl.docs
        ref.warm_workers()
        ref_trials = ref.trials(0, len(trials))
        ref.spark.stop()
        per_layer["trace.overhead_frac"] = wall / statistics.median(ref_trials[1:]) - 1
        report.update(untraced_trials_s=ref_trials, layer_split=split, notes=notes)
        metrics = per_layer
    else:
        sess.spark.stop()
    stop_jvm()
    report.update(failed_frac=chk.failed / chk.attempted, check_examples=chk.examples,
                  spans=tracer.dump())
    units = declared_units("per_layer" if args.trace else "end_to_end")
    if set(metrics) != set(units):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ set(units))}")
    result = {
        "correct": chk.failed == 0,
        "attempted": chk.attempted,
        "failed": chk.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    return result, report


def stop_jvm() -> None:
    """Stop the JVM pyspark launched and wait until it has exited. It exits
    when its stdin closes; its Python workers exit with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def declared_units(section: str) -> dict[str, str]:
    """Metric name → unit, as BENCHMARK.json declares them."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

"""Measurement helpers that sit outside the program: spans, a /proc memory
sampler, a pure-CPU machine-speed control and the single-process kernel
bench."""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans around calls into the program's layers.

    ``on_label(label)``, when given, runs with the new span's label when a
    span opens and with the enclosing span's label (or None) when it
    closes; the traced benchmark uses it to set Spark's job description, so
    every SQL execution in the event log names the span that issued it.
    Without it spans are still timed: the benchmark reads its trial walls
    from them.
    """

    def __init__(self, on_label=None) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._on_label = on_label

    def label(self, span: Span) -> str:
        return f"perfbench:{span.span_id}:{span.name}"

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].span_id if self._stack else None
        s = Span(len(self.spans), name, parent, time.monotonic())
        self.spans.append(s)
        self._stack.append(s)
        if self._on_label:
            self._on_label(self.label(s))
        try:
            yield s
        finally:
            s.end = time.monotonic()
            self._stack.pop()
            if self._on_label:
                self._on_label(self.label(self._stack[-1]) if self._stack else None)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end is not None]

    def dump(self) -> list[dict]:
        return [
            {"id": s.span_id, "name": s.name, "parent": s.parent, "start": s.start, "end": s.end}
            for s in self.spans
        ]


def _children() -> dict[int, list[int]]:
    """Parent pid → child pids, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended between listdir and open
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    return children


def _subtree(children: dict[int, list[int]], root: int) -> list[int]:
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _peak_rss_bytes(pid: int) -> int:
    """The kernel's high-water mark of the process's resident set (VmHWM)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # the process has ended
        pass
    return 0


class RssSampler:
    """Peak resident memory of every descendant of this process: the JVM
    that pyspark launches and the Python workers it forks.

    Each process's own high-water mark (VmHWM) is read from /proc on a
    background thread and the per-process peaks are summed, so the figure
    does not depend on when a sample happens to land. Forked workers count
    the pages they share with their parent once each.
    """

    def __init__(self, interval_s: float = 0.5) -> None:
        self.interval_s = interval_s
        self.peaks: dict[int, int] = {}
        self.commands: dict[int, str] = {}
        self.workers: set[int] = set()  # descendants of the JVM
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def peak_bytes(self, workers_only: bool = False) -> int:
        """Summed peaks of every process, or of the JVM's Python workers."""
        return sum(peak for pid, peak in self.peaks.items() if not workers_only or pid in self.workers)

    def by_command(self) -> dict[str, float]:
        """Summed peaks in MiB per process name (java, python, ...)."""
        out: dict[str, float] = {}
        for pid, peak in self.peaks.items():
            name = self.commands.get(pid, "?")
            out[name] = out.get(name, 0.0) + peak / 2**20
        return out

    def sample(self) -> None:
        children = _children()
        for pid in _subtree(children, os.getpid()):
            self.peaks[pid] = max(self.peaks.get(pid, 0), _peak_rss_bytes(pid))
            try:  # read every time: the launcher script execs into java
                with open(f"/proc/{pid}/comm") as f:
                    self.commands[pid] = f.read().strip()
            except OSError:  # the process has ended
                pass
        for pid, name in self.commands.items():
            if name == "java":
                self.workers.update(_subtree(children, pid))

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


_CONTROL_LOOP = "import hashlib\nh = b'x'\nfor _ in range(200_000):\n    h = hashlib.md5(h).digest()\n"


def control_probe(procs: int) -> float:
    """Pure-CPU md5 busy loops per second, one per process, ``procs`` at
    once, no Spark. Read next to the walls, it tells a slow machine from
    slow code."""
    t0 = time.monotonic()
    running = [subprocess.Popen([sys.executable, "-c", _CONTROL_LOOP]) for _ in range(procs)]
    for p in running:
        if p.wait() != 0:
            raise RuntimeError(f"control loop exited with {p.returncode}")
    return procs / (time.monotonic() - t0)


def kernel_bench(payloads: list[tuple[str, str]], repeats: int = 3) -> dict[str, float]:
    """Single-process, no-Spark cost of the extraction kernels over
    ``payloads`` ((text, tool) pairs): microseconds per turn of
    ``extract_turn`` for each payload family present, of ``finalize_turn``,
    and turns per second on one core for the whole mix. Medians over
    ``repeats`` passes after one warm-up pass."""
    from deepdoctection_spark.config import DEFAULT_CONFIG as cfg
    from deepdoctection_spark.kernels.extract import extract_turn, finalize_turn

    args = (cfg.link_density_threshold, cfg.column_gap, cfg.tag_density_threshold)
    families: dict[str, list[str]] = {}
    for text, tool in payloads:
        families.setdefault(tool, []).append(text)

    def one_pass() -> dict[str, float]:
        secs, blocks = {}, []
        for tool, texts in families.items():
            t0 = time.perf_counter()
            blocks.extend(extract_turn(t, tool, *args) for t in texts)
            secs[tool] = time.perf_counter() - t0
        t0 = time.perf_counter()
        for i, b in enumerate(blocks):
            finalize_turn(f"conv-{i // 8:05d}", i % 8, b, with_words=False)
        secs["finalize"] = time.perf_counter() - t0
        return secs

    one_pass()
    passes = [one_pass() for _ in range(repeats)]
    med = {k: statistics.median(p[k] for p in passes) for k in passes[0]}
    n = len(payloads)
    out = {
        f"{name}_us_per_turn": med[tool] / len(families[tool]) * 1e6 if tool in families else 0.0
        for name, tool in (("html", "browser"), ("pdf", "pdf_reader"), ("plain", ""))
    }
    out["finalize_us_per_turn"] = med["finalize"] / n * 1e6
    out["turns_per_s_core"] = n / sum(med.values())
    return out

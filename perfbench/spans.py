"""Driver-side tracing for the benchmark's traced run.

``Tracer`` wraps public entry points of the engine's layers from the
outside (module and class attributes are replaced; ``uninstall`` puts
the originals back). Each call records a span: name, start, end, parent
span and operation id. Spans stay in memory and are written out once,
when the run ends. A span's self time is its duration minus the time
its child spans cover (the driver is single-threaded, so children do
not overlap).

Spark work is attributed per operation: ``operation`` sets a fresh job
group, and ``spark_counts`` later reads jobs, stages, completed and
failed tasks of that group from ``SparkContext.statusTracker()``.
Executor-side work (stage 1, merge) is invisible here; its numbers
come from the wave manifests the build writes.
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import threading
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._restore: list[tuple] = []
        self.op: str | None = None
        self.phase = "setup"
        self._n_ops = 0

    # ---- spans
    def _open(self, name: str) -> dict:
        span = {"id": len(self.spans), "name": name, "op": self.op,
                "phase": self.phase,
                "parent": self._stack[-1]["id"] if self._stack else None}
        self.spans.append(span)
        self._stack.append(span)
        span["t0"] = time.perf_counter()
        return span

    def _close(self, span: dict) -> None:
        span["t1"] = time.perf_counter()
        self._stack.pop()

    def wrap(self, owner, attr: str, name: str, count=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.
        ``count(args, kwargs, result)`` returns extra span fields; it
        runs after the span closes."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            span = tracer._open(name)
            try:
                out = orig(*a, **kw)
            finally:
                tracer._close(span)
            if count is not None:
                span.update(count(a, kw, out))
            return out

        setattr(owner, attr, wrapper)
        self._restore.append((owner, attr, orig))

    def wrap_public_functions(self, module, prefix: str) -> None:
        for attr, fn in inspect.getmembers(module, inspect.isfunction):
            if fn.__module__ == module.__name__ and not attr.startswith("_"):
                self.wrap(module, attr, f"{prefix}.{attr}")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    # ---- operations: one root span and one Spark job group each
    @contextmanager
    def operation(self, kind: str, label: str = ""):
        self._n_ops += 1
        self.op = f"op{self._n_ops:06d}"
        self.sc.setJobGroup(self.op, f"{kind} {label}"[:200], False)
        span = self._open(f"op.{kind}")
        span["label"] = label
        try:
            yield span
        finally:
            self._close(span)
            self.sc.setJobGroup("perfbench-idle", "between operations", False)
            self.op = None

    def spark_counts(self) -> None:
        """Attach jobs / stages / tasks / failed tasks to every op span
        (read once at the end, so the status store has caught up)."""
        st = self.sc.statusTracker()
        for s in self.spans:
            if not s["name"].startswith("op."):
                continue
            jobs = st.getJobIdsForGroup(s["op"])
            stages = tasks = failed = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for sid in (info.stageIds if info else []):
                    si = st.getStageInfo(sid)
                    if si is None:
                        continue
                    stages += 1
                    tasks += si.numCompletedTasks
                    failed += si.numFailedTasks
            s.update(jobs=len(jobs), stages=stages, tasks=tasks, failed_tasks=failed)

    # ---- analysis
    def self_times(self) -> None:
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["t1"] - s["t0"]
        for s, c in zip(self.spans, child):
            s["dur_s"] = s["t1"] - s["t0"]
            s["self_s"] = s["dur_s"] - c

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants, from /proc."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += kids.get(p, [])
    return out


def _cpu_s(pid: int) -> float | None:
    """CPU seconds of process ``pid`` (all its threads), from its
    process CPU clock (CPUCLOCK_SCHED): nanosecond resolution, and the
    time the host held a vCPU back (steal) is not in it."""
    try:
        return time.clock_gettime(((~pid) << 3) | 2)
    except OSError:  # the process has exited
        return None


class TreeCpu:
    """CPU time used by this process and its descendants (the JVM and
    the Python workers) over an interval. Unlike wall time it does not
    grow while the benchmark waits for a CPU that other load holds.

    ``start()`` lists the processes and reads their clocks; ``stop()``
    reads the same clocks again, then looks for processes started in
    between and counts their whole CPU time. The /proc scans run before
    the first and after the last clock reading, so their own cost stays
    out of the interval. CPU time of a process that exits within the
    interval, after its last reading, is not counted."""

    @staticmethod
    def start() -> dict:
        return {p: c for p in process_tree(os.getpid()) if (c := _cpu_s(p)) is not None}

    @staticmethod
    def stop(before: dict) -> float:
        total = sum(c - before[p] for p in before if (c := _cpu_s(p)) is not None)
        total += sum(c for p in process_tree(os.getpid())
                     if p not in before and (c := _cpu_s(p)) is not None)
        return total


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the JVM and Python workers), summed per sample, read from /proc.
    Each process counts its proportional set size (Pss): the forked
    Python workers share pages with their parent, and summing plain RSS
    would count those pages once per live worker."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def sample(self) -> None:
        total = sum(self._rss_kb(p) for p in process_tree(os.getpid()))
        self.peak_kb = max(self.peak_kb, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        self.sample()
        self._stop.set()
        self._thread.join()
        return self.peak_kb / 1024.0


class SpeedProbe:
    """How fast this host runs a fixed reference kernel right now.

    The host is shared with other machines' work, and how much a CPU
    second gets done moves with their load: with the same code and the
    same inputs, a run's CPU time and wall time both moved by up to 30%
    from one run to the next, minutes apart. The kernel (a Python loop
    and a numpy sort: fixed work, no I/O, nothing of the engine) slows
    with them, so the workloads time it next to every operation and
    scale CPU times by ``REF_S / kernel CPU time`` (the median of the
    runs around them): what they would read on a host where the kernel
    takes ``REF_S``.
    The kernel runs in this thread between operations, never while an
    operation runs, so the engine's own load does not slow it."""

    REF_S = 0.5e-3  # a round figure; the kernel took 0.49-0.64 ms on a 4-vCPU VM

    def __init__(self):
        import numpy as np

        self._sort = np.sort
        self._data = np.random.default_rng(0).random(20_000)
        self.samples: list[float] = []

    def sample(self, n: int) -> list[float]:
        """Run the kernel ``n`` times; returns (and keeps) the CPU
        seconds of each run."""
        out = []
        for _ in range(n):
            t0 = time.thread_time()
            x = 0
            for i in range(5_000):
                x += i * i
            self._sort(self._data)
            out.append(time.thread_time() - t0)
        self.samples += out
        return out

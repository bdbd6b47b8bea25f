"""Measurement primitives of the benchmark: order statistics, spans and
their self time, Spark status-store reads by job group, the session-log
counter for codegen fallbacks, and a resident-memory sampler.

Everything here observes the program from outside, through its public
functions, Spark's status store and ``/proc``. No package file is edited;
a traced run only rebinds two public functions to timing wrappers in memory
(:func:`install_wrapper`).
"""

from __future__ import annotations

import contextlib
import math
import os
import re
import threading
import time
from dataclasses import dataclass


def tail_percentile(samples: list[float], min_above: int = 10) -> tuple[int, float]:
    """The highest whole percentile whose nearest-rank value still has at
    least ``min_above`` samples above it, and that value.

    With ``n`` samples the nearest-rank ``p``-th percentile is the sample
    of rank ``ceil(p * n / 100)``; ``n - rank >= min_above`` gives
    ``p = floor(100 * (n - min_above) / n)``. Needs more than
    ``min_above`` samples.
    """
    n = len(samples)
    if n <= min_above:
        raise ValueError(f"{n} samples; a tail needs more than {min_above}")
    p = min(99, 100 * (n - min_above) // n)
    rank = max(1, math.ceil(p * n / 100))
    return p, sorted(samples)[rank - 1]


def busy_frac(task_s: float, wall_s: float, cores: int) -> float:
    """Share of the cores' wall time that tasks ran: task time over
    ``wall × cores``."""
    return task_s / (wall_s * cores)


# ---------------------------------------------------------------- spans


@dataclass
class Span:
    name: str
    start: float
    end: float = math.nan
    parent: int | None = None  # index of the parent span in Tracer.spans
    query: str = ""
    pass_no: int = 0


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval that its
    children cover (overlapping children are counted once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            p = spans[s.parent]
            kids.setdefault(s.parent, []).append(
                (max(s.start, p.start), min(s.end, p.end)))
    return [
        (s.end - s.start) - union_length([iv for iv in kids.get(i, []) if iv[1] > iv[0]])
        for i, s in enumerate(spans)
    ]


class Tracer:
    """In-memory span recorder. Spans nest by call order on one thread."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.query = ""
        self.pass_no = 0
        self.active = True

    def open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), parent=parent,
                               query=self.query, pass_no=self.pass_no))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def close(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        popped = self._stack.pop()
        if popped != idx:
            raise RuntimeError(f"span {self.spans[idx].name} closed out of order")

    @contextlib.contextmanager
    def span(self, name: str):
        idx = self.open(name)
        try:
            yield
        finally:
            self.close(idx)

    def wrap(self, name: str, fn, on_enter=None, on_exit=None):
        """``fn`` recorded as a span named ``name`` while the tracer is
        active; ``on_enter`` returns a token handed to ``on_exit`` (used to
        switch Spark job groups)."""
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            token = on_enter() if on_enter else None
            idx = self.open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(idx)
                if on_exit:
                    on_exit(token)
        traced.__wrapped__ = fn
        traced.__name__ = getattr(fn, "__name__", name)
        return traced


def install_wrapper(modules: dict, original, wrapper) -> int:
    """Rebind every module-level name bound to ``original`` to ``wrapper``
    in the given ``sys.modules``-style mapping; return how many."""
    n = 0
    for mod in modules.values():
        for attr, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, attr, wrapper)
                n += 1
    return n


# ---------------------------------------------------- Spark status store

JOB_GROUP = "spark.jobGroup.id"


@dataclass
class StageTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0

    def add(self, other: "StageTotals") -> None:
        for k in ("jobs", "stages", "tasks", "task_s", "gc_s",
                  "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
            setattr(self, k, getattr(self, k) + getattr(other, k))


class StatusStore:
    """Reads the jobs of a job group from Spark's in-process status store.

    Read right after the group's last job ends, so Spark's retention limit
    (``spark.ui.retainedJobs``, 1000 by default) cannot have dropped them.
    """

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        self._no_status = self.sc._jvm.java.util.ArrayList()
        self._seen_stages: set[int] = set()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self._jsc.listenerBus().waitUntilEmpty()

    def group(self, group_id: str) -> StageTotals:
        out = StageTotals()
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group_id):
            out.jobs += 1
            it = self._store.job(job_id).stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                if sid in self._seen_stages:
                    continue  # a stage shared by two jobs counts once
                self._seen_stages.add(sid)
                self._add_stage(out, sid)
        return out

    def _add_stage(self, out: StageTotals, sid: int) -> None:
        attempts = self._store.stageData(sid, False, self._no_status, False,
                                         self._no_quantiles)
        it = attempts.iterator()
        ran = False
        while it.hasNext():
            sd = it.next()
            if sd.status().toString() == "SKIPPED":
                continue
            ran = True
            out.tasks += sd.numTasks()
            out.task_s += sd.executorRunTime() / 1000.0
            out.gc_s += sd.jvmGcTime() / 1000.0
            out.shuffle_read_mb += sd.shuffleReadBytes() / 1e6
            out.shuffle_write_mb += sd.shuffleWriteBytes() / 1e6
            out.spill_mb += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 1e6
        if ran:
            out.stages += 1

    def persistent_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()


class JvmCounters:
    """Process-wide Dropwizard counters Spark keeps in static sources."""

    def __init__(self, spark) -> None:
        src = spark.sparkContext._jvm.org.apache.spark.metrics.source
        self._codegen = src.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._files = src.HiveCatalogMetrics.METRIC_FILES_DISCOVERED()

    def compiles(self) -> int:
        return self._codegen.getCount()

    def files_listed(self) -> int:
        return self._files.getCount()


# ------------------------------------------------------------ session log

FALLBACK_LINE = "Whole-stage codegen disabled for plan"


class LogTail:
    """Reads what the session has logged since the last call. The JVM
    inherits the benchmark's stderr, which ``run.py`` points at a file."""

    def __init__(self, path: str) -> None:
        self.path = path
        self.offset = os.path.getsize(path) if os.path.exists(path) else 0

    def new_text(self) -> str:
        with open(self.path, "rb") as f:
            f.seek(self.offset)
            data = f.read()
        self.offset += len(data)
        return data.decode("utf-8", "replace")

    def fallbacks(self) -> int:
        return self.new_text().count(FALLBACK_LINE)


# ------------------------------------------------------- resident memory

_RSS = re.compile(rb"^VmRSS:\s+(\d+) kB", re.M)


def process_tree(pid: int) -> list[int]:
    """``pid`` and its descendants, parents first."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children", "rb") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:
            continue  # the process ended between listing and reading
    return out


def running(pid: int) -> bool:
    """True while ``pid`` exists and has not exited (zombies count as
    exited)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def tree_rss_mb(pid: int) -> float:
    """Resident memory of ``pid`` and all its descendants, in MB."""
    kb = 0
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/status", "rb") as f:
                m = _RSS.search(f.read())
        except OSError:
            continue
        if m:
            kb += int(m.group(1))
    return kb / 1024.0


class RssSampler:
    """Samples the process tree's resident memory on a thread and keeps the
    peak. Use as a context manager around the timed region."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

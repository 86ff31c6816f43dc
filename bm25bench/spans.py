"""Timing, spans, Spark job counts and host facts for the benchmark.

Everything here is recorded from outside ``lucene_solr_spark``: the
benchmark wraps its own calls into each layer. Every op runs under its
own Spark job group (``setJobGroup``), in traced and untraced runs
alike, so the jobs and tasks each op launched are exact counts read
from ``statusTracker`` after the timed region. A traced op also gives
each span its own job group, which maps jobs to the innermost span.

Spans are kept in memory; the traced run turns them into per-layer
metrics when the timed region is over.
"""

from __future__ import annotations

import os
import signal
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None     # index into Tracer.spans, None for an op
    op_id: int
    group: str             # Spark job group of this span's own jobs


@dataclass
class Op:
    op_id: int
    kind: str
    traced: bool
    group: str
    wall: float = 0.0
    ok: bool = True


class Tracer:
    """Ops with optional spans. ``op()`` times one whole op; inside a
    traced op, ``span()`` records a child span. Untraced ops pay one
    ``setJobGroup`` call and two clock reads, nothing else."""

    def __init__(self, sc):
        self.sc = sc
        self.ops: list[Op] = []
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op: Op | None = None

    @contextmanager
    def op(self, kind: str, traced: bool = False):
        o = Op(len(self.ops), kind, traced, f"bm.op{len(self.ops)}")
        self.ops.append(o)
        self._op = o
        self.sc.setJobGroup(o.group, kind)
        t0 = time.perf_counter()
        try:
            yield o
        finally:
            o.wall = time.perf_counter() - t0
            self._op = None
            self.sc.setJobGroup("bm.idle", "untimed")

    @contextmanager
    def span(self, name: str):
        o = self._op
        if o is None or not o.traced:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        group = f"{o.group}.{idx}"
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent,
                               o.op_id, group))
        self._stack.append(idx)
        self.sc.setJobGroup(group, name)
        try:
            yield
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()
            outer = (self.spans[self._stack[-1]].group if self._stack
                     else o.group)
            self.sc.setJobGroup(outer, name)

    # -- after the timed region ------------------------------------------

    def jobs_tasks(self, group: str) -> tuple[int, int]:
        """(jobs, tasks) launched under one job group. Tasks count every
        stage of each job, including stages Spark skipped as already
        computed (their numTasks is reported the same either way)."""
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else ()):
                si = st.getStageInfo(s)
                tasks += si.numTasks if si else 0
        return len(jobs), tasks

    def op_counts(self, o: Op) -> tuple[int, int]:
        groups = [o.group] + [s.group for s in self.spans
                              if s.op_id == o.op_id]
        j = t = 0
        for g in groups:
            a, b = self.jobs_tasks(g)
            j, t = j + a, t + b
        return j, t

    def spans_of(self, o: Op, name: str | None = None) -> list[Span]:
        return [s for s in self.spans if s.op_id == o.op_id
                and (name is None or s.name == name)]

    def unattributed(self, o: Op) -> float:
        """The op's wall time not covered by its top-level spans."""
        top = [s for s in self.spans_of(o) if s.parent is None]
        return o.wall - sum(s.end - s.start for s in top)


# -- statistics ----------------------------------------------------------

def timing_stats(xs: list[float]) -> dict:
    """Median and sample count. A run has at most 4 samples of a kind
    of op, too few for a tail percentile with ten samples beyond it."""
    return {"n": len(xs), "p50": statistics.median(xs)}


def median(xs) -> float:
    return statistics.median(list(xs))


# -- host ----------------------------------------------------------------

def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _children() -> dict[int, list[int]]:
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
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _tree_ticks(pid: int) -> int:
    """utime + stime of a process and its reaped children, in ticks."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            v = f.read().rsplit(")", 1)[1].split()
        return sum(int(x) for x in v[11:15])
    except (OSError, IndexError, ValueError):
        return 0


class HostLoad:
    """CPU time the host spent outside this process tree while a phase
    ran, as a share of the phase's CPU capacity: other processes on the
    machine (``foreign``) and time the hypervisor took (``steal``). Both
    are context for reading a slow run, not metrics."""

    def __init__(self):
        self.start = self._snap()

    @staticmethod
    def _snap():
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        me = os.getpid()
        ours = sum(_tree_ticks(p) for p in [me] + descendants(me))
        busy = sum(v) - v[3] - v[4]          # all but idle and iowait
        return sum(v), busy, v[7], ours

    def shares(self) -> dict:
        end = self._snap()
        total, busy, steal, ours = (b - a for a, b in zip(self.start, end))
        total = max(total, 1)
        return {"foreign": (busy - steal - ours) / total,
                "steal": steal / total}


RSS_EVERY_S = 0.25


class RssSampler:
    """Peak resident memory of this process and every process it
    started (the JVM and the Python workers), sampled every
    ``RSS_EVERY_S``."""

    def __init__(self):
        self.peak_kb = 0
        self.at_peak: list[int] = []   # MB per process at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            per = {p: _rss_kb(p) for p in [me] + descendants(me)}
            kb = sum(per.values())
            if kb > self.peak_kb:
                self.peak_kb = kb
                self.at_peak = sorted(v // 1024 for v in per.values()
                                      if v)[::-1]
            self._stop.wait(RSS_EVERY_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


STOP_TIMEOUT_S = 30.0


def stop_spark(spark) -> None:
    """Stop Spark, close the JVM gateway and wait until the JVM and
    every process under it has ended (SIGKILL after
    ``STOP_TIMEOUT_S``)."""
    from pyspark import SparkContext
    me = os.getpid()
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()   # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=STOP_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass                 # killed below
    deadline = time.monotonic() + STOP_TIMEOUT_S
    while descendants(me) and time.monotonic() < deadline:
        time.sleep(0.2)
    for p in descendants(me):
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    if proc is not None and proc.poll() is None:
        proc.kill()
        proc.wait()
    while True:   # reap killed children
        try:
            if os.waitpid(-1, os.WNOHANG) == (0, 0):
                break
        except ChildProcessError:
            break

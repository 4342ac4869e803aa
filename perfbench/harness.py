"""Measurement plumbing shared by the three workloads.

Everything here observes the program from outside: spans around the
benchmark's own calls into ``pyspark_engine``, Spark's public UI REST API
and ``StreamingQueryListener`` for job/stage/storage and micro-batch data,
and ``/proc`` for the memory of the whole process tree (Python driver, JVM,
Python workers).  Nothing is installed inside the engine.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime

import numpy as np


# ------------------------------------------------------------------ stats


def median(xs) -> float:
    return float(np.median(np.asarray(xs, dtype=float))) if len(xs) else 0.0


def pct(xs, q: float) -> float:
    return float(np.percentile(np.asarray(xs, dtype=float), q)) if len(xs) else 0.0


# ---------------------------------------------------------------- tracing


class Span:
    __slots__ = ("id", "name", "parent", "start", "end", "attrs")

    def __init__(self, sid, name, parent, attrs):
        self.id, self.name, self.parent, self.attrs = sid, name, parent, attrs
        self.start = self.end = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Times the benchmark's calls into each layer.  Every call is timed
    either way (the end-to-end metrics are built from these durations);
    only an enabled tracer keeps the spans, with their parents, for the
    span file.  Span stacks are per thread because the foreachBatch sink
    runs on the py4j callback thread."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.t0 = time.perf_counter()
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **attrs):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        sp = Span(next(self._ids), name, stack[-1].id if stack else None, attrs)
        stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if self.enabled:
                with self._lock:
                    self.spans.append(sp)

    def write(self, path: str) -> None:
        """Spans with self time = duration minus the union of the child
        spans' intervals."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = []
        for s in sorted(self.spans, key=lambda s: s.start):
            covered, edge = 0.0, s.start
            for c in sorted(kids.get(s.id, ()), key=lambda c: c.start):
                lo, hi = max(c.start, edge), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            out.append({
                "id": s.id,
                "name": s.name,
                "parent": s.parent,
                "run_id": self.run_id,
                "start_s": s.start - self.t0,
                "end_s": s.end - self.t0,
                "self_s": s.dur - covered,
                **({"attrs": s.attrs} if s.attrs else {}),
            })
        with open(path, "w") as f:
            json.dump(out, f)


# ------------------------------------------------------- process-tree RSS


def _tree_rss(root_pid: int) -> dict[str, int]:
    """Resident bytes of ``root_pid`` and its descendants, by command name."""
    parent: dict[int, int] = {}
    comm: dict[int, str] = {}
    vsize: dict[int, int] = {}
    for e in os.listdir("/proc"):
        if not e.isdigit():
            continue
        try:
            with open(f"/proc/{e}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the comm field may hold spaces; the fields after ')' start at state
        head, tail = stat.rsplit(")", 1)
        fields = tail.split()
        parent[int(e)] = int(fields[1])
        vsize[int(e)] = int(fields[20])
        comm[int(e)] = head.split("(", 1)[1]
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    out: dict[str, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for p in tree:
        # a child that still shares its parent's address space (the JVM's
        # spawn child before exec: same virtual size) would count it twice
        if p != root_pid and vsize.get(p) == vsize.get(parent[p]):
            continue
        try:
            with open(f"/proc/{p}/statm") as f:
                rss = int(f.read().split()[1]) * page
        except OSError:
            continue
        out[comm[p]] = out.get(comm[p], 0) + rss
    return out


class RssSampler:
    """Peak resident memory of this process and all its descendants,
    sampled every ``period`` seconds on a background thread; ``parts`` is
    the by-command breakdown at the peak."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak = 0
        self.parts: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _sample(self):
        parts = _tree_rss(os.getpid())
        total = sum(parts.values())
        if total > self.peak:
            self.peak, self.parts = total, parts

    def _loop(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()


# ------------------------------------------------------------- Spark REST


class SparkProbe:
    """Job, stage and storage deltas read from the Spark UI REST API (the
    session must be built with the UI on).  Job ids are global and
    increasing, so the jobs a span launched are those above the highest id
    seen before it."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=10) as r:
            return json.load(r)

    def last_job_id(self) -> int:
        jobs = self.get("jobs")
        return max((j["jobId"] for j in jobs), default=-1)

    def jobs_after(self, job_id: int) -> list[dict]:
        """Jobs with id above ``job_id``, once the status store has recorded
        every one of them as finished (the store is fed asynchronously)."""
        deadline = time.monotonic() + 5.0
        while True:
            jobs = [j for j in self.get("jobs") if j["jobId"] > job_id]
            if all(j["status"] != "RUNNING" for j in jobs) or time.monotonic() > deadline:
                return jobs
            time.sleep(0.02)

    def stage_stats(self, jobs: list[dict]) -> dict:
        """Totals over the completed stages of ``jobs``: shuffle write and
        spill bytes, GC time, stage count and the worst stage's max/median
        task run time."""
        tot = {"stages": 0, "shuffle_write_b": 0, "spill_b": 0, "gc_ms": 0, "task_skew": 1.0}
        for sid in sorted({s for j in jobs for s in j["stageIds"]}):
            try:
                attempts = self.get(f"stages/{sid}?withSummaries=true&quantiles=0.5,1.0")
            except OSError:
                continue  # skipped stages have no record
            for st in attempts:
                if st.get("status") != "COMPLETE":
                    continue
                tot["stages"] += 1
                tot["shuffle_write_b"] += st.get("shuffleWriteBytes", 0)
                tot["spill_b"] += st.get("diskBytesSpilled", 0) + st.get("memoryBytesSpilled", 0)
                tot["gc_ms"] += st.get("jvmGcTime", 0)
                run = (st.get("taskMetricsDistributions") or {}).get("executorRunTime") or []
                if len(run) == 2 and run[0] > 0 and st.get("numTasks", 0) > 1:
                    tot["task_skew"] = max(tot["task_skew"], run[1] / run[0])
        return tot

    def cached_bytes(self) -> int:
        return sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in self.get("storage/rdd"))


class SparkDelta:
    """Accumulates the Spark-side cost of a set of spans under one layer
    name (e.g. every ``dsl`` query write)."""

    def __init__(self):
        self.jobs = 0
        self.stages = 0
        self.shuffle_write_b = 0
        self.spill_b = 0
        self.gc_ms = 0
        self.task_skew = 1.0

    def add(self, jobs: list[dict], stats: dict) -> None:
        self.jobs += len(jobs)
        self.stages += stats["stages"]
        self.shuffle_write_b += stats["shuffle_write_b"]
        self.spill_b += stats["spill_b"]
        self.gc_ms += stats["gc_ms"]
        self.task_skew = max(self.task_skew, stats["task_skew"])


@contextmanager
def spark_delta(probe: SparkProbe | None, *into: SparkDelta):
    """Attribute the Spark jobs launched inside the block to each of
    ``into``; a no-op when tracing is off."""
    if probe is None:
        yield
        return
    before = probe.last_job_id()
    yield
    jobs = probe.jobs_after(before)
    stats = probe.stage_stats(jobs)
    for d in into:
        d.add(jobs, stats)


# ------------------------------------------------- streaming progress log


def progress_listener():
    """A ``StreamingQueryListener`` that keeps each micro-batch's progress
    (phase durations and state-operator figures) in memory, per query run."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.events: list[dict] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            ops = list(p.stateOperators or [])
            rec = {
                "run_id": str(p.runId),
                "start_ms": datetime.fromisoformat(p.timestamp).timestamp() * 1000,
                "batch": p.batchId,
                "rows": p.numInputRows,
                "duration_ms": dict(p.durationMs or {}),
                "state_rows": sum(o.numRowsTotal for o in ops),
                "state_commit_ms": sum(o.commitTimeMs for o in ops),
                "state_memory_b": sum(o.memoryUsedBytes for o in ops),
            }
            with self._lock:
                self.events.append(rec)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def snapshot(self) -> list[dict]:
            with self._lock:
                return list(self.events)

    return ProgressLog()


def phase_p50(events: list[dict], phase: str) -> float:
    return median([e["duration_ms"].get(phase, 0) for e in events])

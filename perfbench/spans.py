"""Spans and counters for the traced benchmark run.

A ``Tracer`` records one span per call into a layer of the engine: name,
layer, start, end, parent and the id shared by every span of one job or
query. Spans live in memory and are written out when the run ends.

Spark work is attributed to spans by job-id range, not by job group: the
benchmark drives the engine from one client thread, so every job whose id
was allocated while a span was the innermost open span belongs to that span,
including jobs submitted from the engine's own thread pools (which do not
inherit the caller's job group). Counts are read from the driver's status
stores at every span boundary, before ``spark.ui.retainedJobs`` can evict
them.

With tracing off, ``span`` is a no-op context manager and nothing touches
the status stores.
"""

from __future__ import annotations

import contextlib
import functools
import json
import re
import sys
import time
from dataclasses import dataclass, field

# physical operators that run Python workers (the Arrow/pickle boundary)
PY_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
    "ArrowEvalPythonUDTF",
    "BatchEvalPythonUDTF",
    "PythonMapInArrow",
)
_PY_NODE_RE = re.compile(r"\b(" + "|".join(PY_NODES) + r")\b")
_FILE_SCAN_RE = re.compile(r"^Scan (parquet|csv|json|orc|text|xml|binaryFile)\b")

@dataclass
class Span:
    name: str
    layer: str
    trace_id: int
    span_id: int
    parent: int | None
    # wall-clock seconds (time.time()), comparable with the job intervals
    # the status store records
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)
    # (submission, completion) wall-clock intervals of the jobs attributed
    # to this span, for the driver-only share
    job_intervals: list = field(default_factory=list)
    # seconds the tracer itself spent at this span's boundaries
    overhead: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


def _scala_ints(seq) -> list[int]:
    out, it = [], seq.iterator()
    while it.hasNext():
        out.append(int(it.next()))
    return out


class SparkProbe:
    """Reads job, stage and SQL-execution records from the driver's status
    stores through py4j."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()  # noqa: SLF001
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()  # noqa: SLF001
        self._last_exec = self._max_execution_id()

    def next_job_id(self) -> int:
        return int(self._sc.dagScheduler().numTotalJobs())

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event posted so
        far, so the stores hold every finished job."""
        self._sc.listenerBus().waitUntilEmpty()

    def _max_execution_id(self) -> int:
        n = int(self._sql.executionsCount())
        if n == 0:
            return -1
        return int(self._sql.executionsList(n - 1, 1).head().executionId())

    def read_jobs(self, lo: int, hi: int, counts: dict, intervals: list) -> None:
        for jid in range(lo, hi):
            try:
                jd = self._store.job(jid)
            except Exception:  # noqa: BLE001 - evicted or never registered
                counts["jobs_unread"] = counts.get("jobs_unread", 0) + 1
                continue
            counts["jobs"] = counts.get("jobs", 0) + 1
            counts["skipped_stages"] = counts.get("skipped_stages", 0) + int(jd.numSkippedStages())
            counts["tasks_failed"] = counts.get("tasks_failed", 0) + int(jd.numFailedTasks())
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0))
            for sid in _scala_ints(jd.stageIds()):
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - stage never submitted
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                add = {
                    "stages": 1,
                    "tasks": int(sd.numTasks()),
                    "executor_run_s": sd.executorRunTime() / 1000.0,
                    "executor_cpu_s": sd.executorCpuTime() / 1e9,
                    "gc_s": sd.jvmGcTime() / 1000.0,
                    "shuffle_write_bytes": int(sd.shuffleWriteBytes()),
                    "shuffle_read_bytes": int(sd.shuffleReadBytes()),
                    "spill_bytes": int(sd.memoryBytesSpilled()) + int(sd.diskBytesSpilled()),
                    "input_bytes": int(sd.inputBytes()),
                }
                for k, v in add.items():
                    counts[k] = counts.get(k, 0) + v

    def read_executions(self, counts: dict) -> None:
        """Count exchanges, file scans, Python-worker operators and the rows
        those emitted, in every SQL execution started since the last call."""
        n = int(self._sql.executionsCount())
        offset = n
        fresh = []
        while offset > 0:
            offset -= 1
            ex = self._sql.executionsList(offset, 1).head()
            if int(ex.executionId()) <= self._last_exec:
                break
            fresh.append(int(ex.executionId()))
        if fresh:
            self._last_exec = max(fresh)
        for eid in fresh:
            graph = self._sql.planGraph(eid)
            values = self._sql.executionMetrics(eid)
            nodes = graph.allNodes().iterator()
            while nodes.hasNext():
                node = nodes.next()
                name = node.name()
                if name.endswith("Exchange"):
                    counts["exchanges"] = counts.get("exchanges", 0) + 1
                elif _FILE_SCAN_RE.match(name):
                    counts["file_scans"] = counts.get("file_scans", 0) + 1
                if not _PY_NODE_RE.search(name):
                    continue
                counts["python_nodes"] = counts.get("python_nodes", 0) + 1
                metrics = node.metrics().iterator()
                while metrics.hasNext():
                    m = metrics.next()
                    if m.name() != "number of output rows":
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        counts["python_rows"] = counts.get("python_rows", 0) + int(
                            v.get().split("\n")[-1].split(" ")[0].replace(",", "")
                        )


class Tracer:
    """Span recorder. ``enabled=False`` makes every call a no-op."""

    def __init__(self, enabled: bool = False):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_trace = 0
        self._probe: SparkProbe | None = None
        self._cursor = 0

    def attach(self, spark) -> None:
        """Start reading Spark counts once a session exists (the session
        span itself opens before there is one)."""
        if self.enabled and self._probe is None:
            self._probe = SparkProbe(spark)
            self._cursor = self._probe.next_job_id()

    def _flush(self) -> None:
        """Attribute every job allocated since the last boundary to the
        innermost open span."""
        if self._probe is None or not self._stack:
            return
        top = self._stack[-1]
        self._probe.drain()
        hi = self._probe.next_job_id()
        self._probe.read_jobs(self._cursor, hi, top.counts, top.job_intervals)
        self._cursor = hi
        self._probe.read_executions(top.counts)

    def new_trace(self) -> int:
        self._next_trace += 1
        return self._next_trace

    @contextlib.contextmanager
    def span(self, name: str, layer: str, trace_id: int | None = None):
        if not self.enabled:
            yield None
            return
        t0 = time.time()
        self._flush()
        parent = self._stack[-1] if self._stack else None
        tid = trace_id if trace_id is not None else (parent.trace_id if parent else 0)
        sp = Span(name, layer, tid, len(self.spans), parent.span_id if parent else None, 0.0)
        self.spans.append(sp)
        self._stack.append(sp)
        t1 = time.time()
        sp.overhead = t1 - t0
        sp.start = t1
        try:
            yield sp
        finally:
            t2 = time.time()
            sp.end = t2
            self._flush()
            self._stack.pop()
            sp.overhead += time.time() - t2

    def wrap(self, fn, name: str, layer: str):
        """``fn`` with a span around every call."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    # -- aggregation --------------------------------------------------------
    def children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append(sp)
        return kids

    def self_times(self, spans: list[Span]) -> dict[str, float]:
        """Per layer: durations of ``spans`` minus the time their child spans
        cover (children run on the caller's thread, so they never overlap)."""
        kids = self.children()
        out: dict[str, float] = {}
        for sp in spans:
            own = sp.duration - sum(c.duration for c in kids.get(sp.span_id, []))
            out[sp.layer] = out.get(sp.layer, 0.0) + own
        return out

    def inclusive(self, sp: Span) -> dict:
        """Counts of ``sp`` plus all its descendants."""
        kids = self.children()
        total: dict = {}
        todo = [sp]
        while todo:
            s = todo.pop()
            for k, v in s.counts.items():
                total[k] = total.get(k, 0) + v
            todo.extend(kids.get(s.span_id, []))
        return total

    def driver_only_s(self, roots: list[Span]) -> float:
        """Wall time of ``roots`` during which no Spark job was running."""
        kids = self.children()
        busy = 0.0
        for root in roots:
            ivs, todo = [], [root]
            while todo:
                s = todo.pop()
                ivs.extend(
                    (max(lo, root.start), min(hi, root.end))
                    for lo, hi in s.job_intervals
                    if hi > root.start and lo < root.end
                )
                todo.extend(kids.get(s.span_id, []))
            ivs.sort()
            cur_lo = cur_hi = None
            for lo, hi in ivs:
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        busy += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                busy += cur_hi - cur_lo
        return max(0.0, sum(r.duration for r in roots) - busy)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                rec = {
                    "name": sp.name,
                    "layer": sp.layer,
                    "trace": sp.trace_id,
                    "span": sp.span_id,
                    "parent": sp.parent,
                    "start": sp.start,
                    "end": sp.end,
                    "counts": sp.counts,
                }
                f.write(json.dumps(rec) + "\n")


def note(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)

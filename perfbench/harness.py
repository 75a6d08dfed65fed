"""Shared plumbing for the workloads: host fit, session start, state reset
between reps, resource readings and the result record."""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

from spans import Tracer, note

# Spark-side directories the run redirects into its work directory, so a
# run reads and writes only inside the checkout it was started from
_SUBDIRS = ("tmp", "spark-local", "warehouse", "derby")


def host_cores() -> int:
    """Cores this process may run on (the container's CPU affinity)."""
    return len(os.sched_getaffinity(0))


def host_driver_mem() -> str:
    """Driver heap: a quarter of physical RAM, capped at 4 GiB. The engine's
    own default (32g) exceeds the RAM of small hosts; the benchmark sets the
    engine's ``SPARK_GRAFT_DRIVER_MEM`` override instead of changing it."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1, min(4, kb // (4 * 1024 * 1024)))}g"


def cpu_probe_s() -> float:
    """Seconds a fixed single-threaded Python loop takes: how fast this
    host's CPU is running for us right now (shared hosts vary)."""
    t = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i & 7
    return time.perf_counter() - t


def host_snapshot() -> dict:
    """Load average, pressure-stall averages (avg10) and a CPU-speed probe,
    the noise context stamped on every run."""
    snap: dict = {"cpu_probe_s": round(cpu_probe_s(), 4)}
    with open("/proc/loadavg") as f:
        snap["load"] = [float(x) for x in f.read().split()[:3]]
    for res in ("cpu", "io", "memory"):
        try:
            with open(f"/proc/pressure/{res}") as f:
                snap[f"psi_{res}"] = float(f.readline().split("avg10=")[1].split()[0])
        except OSError:  # kernels without PSI
            pass
    return snap


@dataclass
class Ctx:
    """What a workload needs from the runner."""

    work: str
    seed: int
    seconds: float
    tracer: Tracer
    spark: object = None
    cores: int = 1
    session_start_s: float = 0.0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


@dataclass
class Result:
    """Raw measurements of one run: ``jobs`` are complete-job wall times,
    ``ops`` the per-operation latencies inside them."""

    setup_s: float = 0.0
    jobs: list = field(default_factory=list)
    ops: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    # readings taken by the benchmark itself (not from spans): ``samples``
    # are reported as their median, ``totals`` per unit of work
    samples: dict = field(default_factory=dict)
    totals: dict = field(default_factory=dict)

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def add(self, name: str, value: float) -> None:
        self.totals[name] = self.totals.get(name, 0) + value

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)
        note(f"FAILED: {what}")


def prepare_workdir(root: str, workload: str) -> str:
    work = os.path.join(root, ".perfbench_work", f"{workload}-{os.getpid()}")
    for sub in _SUBDIRS:
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    import tempfile

    tempfile.tempdir = tmp
    return work


def remove_workdir(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    parent = os.path.dirname(work)
    try:
        os.rmdir(parent)
    except OSError:  # another run still uses it
        pass


def start_session(ctx: Ctx, app: str):
    """Start the engine's session on ``local[<cores>]`` with the host-fitted
    heap. Returns the session; records the start time on ``ctx``."""
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = host_driver_mem()
    from mysql_data_anonymizer_spark.session import EngineConfig, get_spark

    java_opts = " ".join(
        [
            "-XX:-UsePerfData",  # no hsperfdata file under the system /tmp
            f"-Djava.io.tmpdir={ctx.path('tmp')}",
            f"-Dderby.system.home={ctx.path('derby')}",
            f"-Dderby.stream.error.file={ctx.path('derby', 'derby.log')}",
        ]
    )
    conf = EngineConfig(
        extra_spark_conf={
            "spark.driver.extraJavaOptions": java_opts,
            "spark.local.dir": ctx.path("spark-local"),
            "spark.sql.warehouse.dir": ctx.path("warehouse"),
        }
    )
    t0 = time.perf_counter()
    with ctx.tracer.span("get_spark", "session", trace_id=0):
        spark = get_spark(f"perfbench-{app}", config=conf, master=f"local[{ctx.cores}]")
    ctx.session_start_s = time.perf_counter() - t0
    ctx.spark = spark
    ctx.tracer.attach(spark)
    return spark


def stop_session(ctx: Ctx) -> None:
    """Stop the session, then the JVM it launched, and wait for it to exit
    (its Python workers go with it)."""
    if ctx.spark is None:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    ctx.spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    ctx.spark = None


def trace_engine_calls(tracer: Tracer) -> None:
    """In a traced run, put spans around the engine calls that happen inside
    the engine rather than in the benchmark: every parquet read
    (``DataFrameReader.parquet``) and every ``compile_plan``, wherever a
    module of the package bound it. Untraced runs patch nothing."""
    if not tracer.enabled:
        return
    from pyspark.sql.readwriter import DataFrameReader

    from mysql_data_anonymizer_spark.plans import compiler

    DataFrameReader.parquet = tracer.wrap(DataFrameReader.parquet, "read_parquet", "sources")
    orig = compiler.compile_plan
    traced = tracer.wrap(orig, "compile_plan", "plans")
    for name, mod in list(sys.modules.items()):
        if name.startswith("mysql_data_anonymizer_spark") and getattr(mod, "compile_plan", None) is orig:
            mod.compile_plan = traced


def unpin(spark) -> None:
    """Drop cached tables and every persisted RDD. ``clearCache`` misses the
    ``localCheckpoint`` pins some operators create, so they are unpersisted
    one by one (blocking)."""
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc  # noqa: SLF001
    for rdd in list(jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


def persisted_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())  # noqa: SLF001


def md5_calls(df) -> int:
    """``md5(`` calls in a DataFrame's optimized plan (the expression
    blow-up count: Catalyst inlines shared digests into every consumer)."""
    return df._jdf.queryExecution().optimizedPlan().toString().count("md5(")  # noqa: SLF001


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _status_kb(pid: int, field_name: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field_name):
                    return int(line.split()[1])
    except OSError:  # exited meanwhile
        pass
    return 0


class RssSampler:
    """Peak resident memory of the driver JVM plus its Python workers: the
    JVM's VmHWM at the end, plus the largest summed VmRSS of the JVM's
    descendant processes seen by a sampler thread every half second (Python
    workers come and go, and a process's VmHWM leaves with it)."""

    def __init__(self, spark):
        self._jvm = int(spark._jvm.java.lang.ProcessHandle.current().pid())  # noqa: SLF001
        self._workers_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.wait(0.5):
            kb = sum(_status_kb(p, "VmRSS:") for p in _descendants(self._jvm) if p != self._jvm)
            self._workers_kb = max(self._workers_kb, kb)

    def stop_mb(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        jvm_kb = _status_kb(self._jvm, "VmHWM:")
        note(f"peak RSS MB: JVM {jvm_kb // 1024}, Python workers {self._workers_kb // 1024}")
        return (jvm_kb + self._workers_kb) / 1024.0


def p50(values: list[float]) -> float:
    return statistics.median(values)


def p90(values: list[float]) -> float:
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[8]


MIN_JOBS = 2


def timed_loop(ctx: Ctx, res: Result, job) -> None:
    """Run ``job(rep)`` back to back (closed loop, one client) until
    ``ctx.seconds`` of loop wall have passed, resets and checks included.
    At least ``MIN_JOBS`` jobs run, so a slow host still yields a median
    over the same warm-up position rather than one early job. ``job``
    returns the wall time of its timed part, or None if it failed."""
    t0, rep = time.perf_counter(), 0
    while rep < MIN_JOBS or time.perf_counter() - t0 < ctx.seconds:
        wall = job(rep)
        rep += 1
        if wall is not None:
            res.jobs.append(wall)

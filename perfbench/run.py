"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Generates the workload's inputs from the seed
inside a work directory under the checkout, starts the engine's session on
``local[<cores>]``, measures for ``--seconds`` seconds of closed-loop jobs,
checks every output, and prints one JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` records spans around every call into the
engine and reports the per-layer metrics instead. Progress and the host
stamp go to stderr. See perfbench/README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from harness import (  # noqa: E402
    Ctx,
    Result,
    host_cores,
    host_driver_mem,
    host_snapshot,
    p50,
    p90,
    RssSampler,
    prepare_workdir,
    remove_workdir,
    start_session,
    stop_session,
)
from spans import Tracer, note  # noqa: E402

WORKLOADS = ("mask_cascade", "query_fleet")
FAMILIES = ("masking", "relational", "privacy", "text", "dedup", "similarity", "graph", "sources", "streaming")
LAYERS = ("session", "sources", "jdbc", "blueprint", "plans", "anonymizer", "sinks", "queries", "bench")

END_TO_END = {
    "setup_s": "s",
    "job_p50_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
}

# per-layer metrics; times and counts are per unit of work (one job on the
# mask workloads, one query on query_fleet)
PER_LAYER = {
    "session.start_s": "s",
    "sources.read_s": "s",
    "sources.schema_jobs": "count",
    "sources.jdbc_read_s": "s",
    "plans.compile_s": "s",
    "plans.compile_jobs": "count",
    "plans.md5_calls": "count",
    "functions.python_nodes": "count",
    "functions.python_rows": "count",
    "anonymizer.run_s": "s",
    "anonymizer.report_s": "s",
    "anonymizer.report_jobs": "count",
    "anonymizer.verify_s": "s",
    "anonymizer.scans_per_table": "count",
    "sinks.write_s": "s",
    "sinks.bytes_written": "B",
    "sinks.files_written": "count",
    "sinks.update_s": "s",
    "sinks.update_rows_per_s": "1/s",
    "sinks.update_hit_ratio": "ratio",
    "sinks.swap_s": "s",
    "queries.build_s": "s",
    "queries.plan_s": "s",
    "queries.exec_s": "s",
    "queries.jobs_per_query": "count",
    "queries.exchanges": "count",
    "queries.file_scans": "count",
    "queries.pins": "count",
    **{f"queries.family.{f}_s": "s" for f in FAMILIES},
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.skipped_stages": "count",
    "spark.driver_only_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.input_bytes": "B",
    "spark.tasks_failed": "count",
    "memory.peak_rss_mb": "MB",
    "failed_ratio": "ratio",
    **{f"self_s.{layer}": "s" for layer in LAYERS},
    "trace.overhead_s": "s",
    "trace.job_p50_s": "s",
    "trace.op_p50_s": "s",
}

# span name -> per-layer time metric (summed per unit)
SPAN_TIMES = {
    "sources.read_s": ("read_parquet",),
    "sources.jdbc_read_s": ("jdbc_reader",),
    "plans.compile_s": ("compile_plan",),
    "anonymizer.run_s": ("anonymizer_run",),
    "anonymizer.report_s": ("masking_report",),
    "anonymizer.verify_s": ("verify_ri",),
    "sinks.write_s": ("write_parquet",),
    "sinks.update_s": ("updates",),
    "sinks.swap_s": ("write_jdbc_staging", "run_control_ddl"),
    "queries.build_s": ("query_build",),
    "queries.plan_s": ("query_plan",),
    "queries.exec_s": ("query_count",),
}
# span name -> per-layer count metric: (span names, Spark count)
SPAN_COUNTS = {
    "sources.schema_jobs": (("read_parquet",), "jobs"),
    "plans.compile_jobs": (("compile_plan",), "jobs"),
    "anonymizer.report_jobs": (("masking_report",), "jobs"),
}


def end_to_end(res: Result) -> dict:
    return {
        "setup_s": res.setup_s,
        "job_p50_s": p50(res.jobs),
        "op_p50_s": p50(res.ops),
        "op_p90_s": p90(res.ops),
    }


def per_layer(ctx: Ctx, res: Result, n_tables: int, rss_mb: float) -> dict:
    tr = ctx.tracer
    timed = [s for s in tr.spans if s.trace_id > 0]
    roots = [s for s in timed if s.name in ("job", "query")]
    units = max(1, len(roots))
    out = {name: 0.0 for name in PER_LAYER}
    out["session.start_s"] = ctx.session_start_s
    for metric, names in SPAN_TIMES.items():
        out[metric] = sum(s.duration for s in timed if s.name in names) / units
    for metric, (names, key) in SPAN_COUNTS.items():
        out[metric] = sum(tr.inclusive(s).get(key, 0) for s in timed if s.name in names) / units
    totals: dict = {}
    for root in roots:
        for k, v in tr.inclusive(root).items():
            totals[k] = totals.get(k, 0) + v
    for key in ("jobs", "stages", "tasks", "skipped_stages", "executor_run_s", "executor_cpu_s",
                "gc_s", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "input_bytes",
                "tasks_failed"):
        out[f"spark.{key}"] = totals.get(key, 0) / units
    out["spark.driver_only_s"] = tr.driver_only_s(roots) / units
    if totals.get("jobs_unread"):
        note(f"{totals['jobs_unread']} jobs were evicted from the status store before they were read")
    out["functions.python_nodes"] = totals.get("python_nodes", 0) / units
    out["functions.python_rows"] = totals.get("python_rows", 0) / units
    if any(s.name == "query" for s in roots):
        out["queries.jobs_per_query"] = totals.get("jobs", 0) / units
        out["queries.exchanges"] = totals.get("exchanges", 0) / units
        out["queries.file_scans"] = totals.get("file_scans", 0) / units
    else:
        out["anonymizer.scans_per_table"] = totals.get("file_scans", 0) / units / n_tables
    for layer, secs in tr.self_times(timed).items():
        out[f"self_s.{layer}"] = secs / units
    out["trace.overhead_s"] = sum(s.overhead for s in timed) / units
    out["trace.job_p50_s"] = p50(res.jobs)
    out["trace.op_p50_s"] = p50(res.ops)
    out["failed_ratio"] = res.failed / max(1, res.attempted)
    out["memory.peak_rss_mb"] = rss_mb
    for name, values in res.samples.items():
        out[name] = p50(values)
    for name, total in res.totals.items():
        out[name] = total / units
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops the session and its JVM (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "mysql_data_anonymizer_spark", "__init__.py")):
        note(f"no engine package under {ROOT}: run from a full checkout")
        return 2
    sys.path.insert(0, ROOT)
    work = prepare_workdir(ROOT, args.workload)
    tracer = Tracer(enabled=bool(args.trace))
    ctx = Ctx(work=work, seed=args.seed, seconds=args.seconds, tracer=tracer, cores=host_cores())
    res = Result()
    note(f"host: local[{ctx.cores}], driver heap {host_driver_mem()}, start {host_snapshot()}")
    t0 = time.perf_counter()
    try:
        workload = importlib.import_module(args.workload)
        start_session(ctx, args.workload)
        rss = RssSampler(ctx.spark) if args.trace else None
        workload.run(ctx, res)
        if not res.jobs:
            note(f"no job completed; failures: {res.failures}")
            return 1
        if args.trace:
            metrics = per_layer(ctx, res, len(workload.TABLES), rss.stop_mb())
            units = PER_LAYER
            tracer.dump(os.path.join(ROOT, ".perfbench_work", f"spans-{args.workload}-{args.seed}.jsonl"))
        else:
            metrics = end_to_end(res)
            units = END_TO_END
    finally:
        stop_session(ctx)
        remove_workdir(work)
    note(
        f"{args.workload}: {len(res.jobs)} jobs, {len(res.ops)} ops, {res.failed} failed, "
        f"{time.perf_counter() - t0:.1f}s wall, end {host_snapshot()}"
    )
    note(f"job s: {[round(j, 3) for j in res.jobs]}; op s: {[round(o, 3) for o in res.ops]}")
    print(
        json.dumps(
            {
                "correct": res.failed == 0,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""``mask_cascade``: the engine's anonymization job over a generated star
schema (customer -> orders -> lineitem), lake to lake and then in place.

Lake half of one job: read the three tables, declare two blueprints,
``Anonymizer.run`` (two cascading key remaps: ``c_custkey`` into ``orders``,
``o_orderkey`` into ``lineitem``), write every table with
``sinks.write_parquet``, build ``masking_report`` and run
``verify_referential_integrity``. Codegen, the broadcast remap joins, the
parquet writer and the Arrow/Python boundary of the ``replaceByFields``
closure do the work. The in-place half (``writeback.py``) masks the customer
table inside embedded Derby.

The lake outputs are checked with DuckDB against the generated inputs,
independently of the engine: row counts, per-column changed-row counts (which
must equal the engine's report), key remaps, NULL foreign keys and orphan
foreign keys.
"""

from __future__ import annotations

import os
import shutil
import time

import duckdb

import gen
from harness import Ctx, Result, md5_calls, p50, timed_loop, trace_engine_calls, unpin
from spans import note
from writeback import Writeback

CUSTOMERS = 5_000
CUST_OFFSET = 1_000_000_000
ORDER_OFFSET = 2_000_000_000
GLOBAL_WHERE = "c_nationkey < 24"
TABLES = ("customer", "orders", "lineitem")
FK_SPECS = [
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
]
REF_KEYS = {"orders": ["o_ref"], "lineitem": ["l_id"]}


def _blueprints(split: float):
    """The two blueprint callbacks. ``split`` is the acctbal threshold of the
    guarded mask, drawn from the seed."""
    from pyspark.sql import functions as F

    def phone(row, g):
        # replaceByFields: an arbitrary Python closure, run per row on the
        # Arrow boundary; it sees the row after the earlier masks
        return f"{row['c_nationkey'] + 10:02d}-{g.number_between(100, 999)}-{g.number_between(1000, 9999)}"

    def customer(t):
        t.primary("c_custkey")
        t.globalWhere(GLOBAL_WHERE)
        t.column("c_name").replaceWith(lambda g: g.email)
        t.column("c_mktsegment").where(f"c_acctbal < {split}").replaceWith("SEG_#row#")
        t.column("c_phone").replaceByFields(phone)
        t.column("c_custkey").replaceWith(F.col("c_custkey") + F.lit(CUST_OFFSET)).synchronizeColumn(
            ["o_custkey", "orders"]
        )

    def orders(t):
        t.primary("o_orderkey")
        t.column("o_comment").replaceWith("REDACTED")
        t.column("o_clerk").replaceWith(lambda g: g.unique().uuid)
        t.column("o_orderkey").replaceWith(F.col("o_orderkey") + F.lit(ORDER_OFFSET)).synchronizeColumn(
            ["l_orderkey", "lineitem"]
        )

    return {"customer": customer, "orders": orders}


def _split_value(con, in_dir: str, share: float) -> float:
    """acctbal quantile so the guard fires on ``share`` of customers."""
    return round(
        con.sql(
            f"SELECT quantile_cont(c_acctbal, {share}) FROM '{in_dir}/customer.parquet'"
        ).fetchone()[0],
        2,
    )


def run_job(ctx: Ctx, in_dir: str, out_dir: str, split: float):
    """The lake-to-lake half of a job; returns (op latencies, report, RI
    result, state)."""
    from mysql_data_anonymizer_spark import Anonymizer
    from mysql_data_anonymizer_spark.anonymizer import masking_report, verify_referential_integrity
    from mysql_data_anonymizer_spark.session import EngineConfig
    from mysql_data_anonymizer_spark.sources import sinks

    spark, tr = ctx.spark, ctx.tracer
    ops = []
    t = time.perf_counter()
    anon = Anonymizer(spark, EngineConfig(seed=ctx.seed))
    for name in TABLES:
        anon.register(name, spark.read.parquet(f"{in_dir}/{name}.parquet"))
    for name, callback in _blueprints(split).items():
        with tr.span("blueprint", "blueprint"):
            anon.table(name, callback)
    with tr.span("anonymizer_run", "anonymizer"):
        state = anon.run()
    ops.append(time.perf_counter() - t)
    for name in TABLES:
        t = time.perf_counter()
        with tr.span("write_parquet", "sinks"):
            sinks.write_parquet(state[name], f"{out_dir}/{name}.parquet")
        ops.append(time.perf_counter() - t)
    t = time.perf_counter()
    with tr.span("masking_report", "anonymizer"):
        report = masking_report(
            anon.sources, state, anon.blueprints, ref_keys=REF_KEYS, key_mappings=anon.key_mappings
        ).collect()
    ops.append(time.perf_counter() - t)
    t = time.perf_counter()
    with tr.span("verify_ri", "anonymizer"):
        ri = verify_referential_integrity(state, FK_SPECS)
    ops.append(time.perf_counter() - t)
    report = {(r["table_name"], r["column_name"]): (r["n_rows"], r["n_changed"]) for r in report}
    return ops, report, ri, state


def expected(con, in_dir: str, out_dir: str, split: float) -> tuple[dict, dict, list[str]]:
    """Changed-row counts and orphan foreign keys computed by DuckDB from the
    inputs and outputs alone. Returns (report, orphans, problems)."""
    for name in TABLES:
        con.sql(f"CREATE OR REPLACE VIEW pre_{name} AS SELECT * FROM '{in_dir}/{name}.parquet'")
        con.sql(f"CREATE OR REPLACE VIEW post_{name} AS SELECT * FROM read_parquet('{out_dir}/{name}.parquet/*.parquet')")
    problems = []
    for name in TABLES:
        a, b = con.sql(f"SELECT (SELECT count(*) FROM pre_{name}), (SELECT count(*) FROM post_{name})").fetchone()
        if a != b:
            problems.append(f"{name}: {a} rows in, {b} rows out")
    gw_keys = f"(SELECT c_custkey FROM pre_customer WHERE {GLOBAL_WHERE})"
    n_c, c_name, c_seg, c_phone, c_key, n_gw, n_guard, unmatched = con.sql(f"""
        SELECT count(*),
               count(*) FILTER (a.c_name IS DISTINCT FROM b.c_name),
               count(*) FILTER (a.c_mktsegment IS DISTINCT FROM b.c_mktsegment),
               count(*) FILTER (a.c_phone IS DISTINCT FROM b.c_phone),
               count(*) FILTER (a.c_custkey IS DISTINCT FROM b.c_custkey),
               count(*) FILTER ({GLOBAL_WHERE.replace('c_', 'a.c_')}),
               count(*) FILTER ({GLOBAL_WHERE.replace('c_', 'a.c_')} AND a.c_acctbal < {split}),
               count(*) FILTER (b.c_custkey IS NULL)
        FROM pre_customer a LEFT JOIN post_customer b
          ON b.c_custkey = CASE WHEN a.c_custkey IN {gw_keys}
                                THEN a.c_custkey + {CUST_OFFSET} ELSE a.c_custkey END
    """).fetchone()
    if unmatched:
        problems.append(f"customer: {unmatched} rows without their remapped key")
    if (c_name, c_key, c_seg) != (n_gw, n_gw, n_guard):
        problems.append(
            f"customer: changed name/key/segment {c_name}/{c_key}/{c_seg}, "
            f"expected {n_gw}/{n_gw}/{n_guard}"
        )
    n_o, o_comment, o_clerk, o_key, o_fk, bad_fk = con.sql(f"""
        SELECT count(*),
               count(*) FILTER (a.o_comment IS DISTINCT FROM b.o_comment),
               count(*) FILTER (a.o_clerk IS DISTINCT FROM b.o_clerk),
               count(*) FILTER (a.o_orderkey IS DISTINCT FROM b.o_orderkey),
               count(*) FILTER (a.o_custkey IS DISTINCT FROM b.o_custkey),
               count(*) FILTER (b.o_custkey IS DISTINCT FROM CASE
                   WHEN a.o_custkey IN {gw_keys} THEN a.o_custkey + {CUST_OFFSET}
                   ELSE a.o_custkey END)
        FROM pre_orders a JOIN post_orders b USING (o_ref)
        WHERE b.o_orderkey = a.o_orderkey + {ORDER_OFFSET}
    """).fetchone()
    if n_o != con.sql("SELECT count(*) FROM pre_orders").fetchone()[0] or bad_fk:
        problems.append(f"orders: {n_o} rows keep their remapped key, {bad_fk} wrong o_custkey")
    n_l, l_fk, bad_l = con.sql(f"""
        SELECT count(*),
               count(*) FILTER (a.l_orderkey IS DISTINCT FROM b.l_orderkey),
               count(*) FILTER (b.l_orderkey IS DISTINCT FROM a.l_orderkey + {ORDER_OFFSET})
        FROM pre_lineitem a JOIN post_lineitem b USING (l_id)
    """).fetchone()
    if bad_l:
        problems.append(f"lineitem: {bad_l} rows with a wrong l_orderkey")
    orphans = {}
    for child, fk, parent, pk in FK_SPECS:
        orphans[f"{child}.{fk}"] = con.sql(
            f"SELECT count(*) FROM post_{child} WHERE {fk} IS NOT NULL "
            f"AND {fk} NOT IN (SELECT {pk} FROM post_{parent})"
        ).fetchone()[0]
    report = {
        ("customer", "c_name"): (n_c, c_name),
        ("customer", "c_mktsegment"): (n_c, c_seg),
        ("customer", "c_phone"): (n_c, c_phone),
        ("customer", "c_custkey"): (n_c, c_key),
        ("orders", "o_comment"): (n_o, o_comment),
        ("orders", "o_clerk"): (n_o, o_clerk),
        ("orders", "o_orderkey"): (n_o, o_key),
        ("orders", "o_custkey"): (n_o, o_fk),
        ("lineitem", "l_orderkey"): (n_l, l_fk),
    }
    return report, orphans, problems


def _dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def run(ctx: Ctx, res: Result) -> None:
    trace_engine_calls(ctx.tracer)
    con = duckdb.connect()
    in_dir = ctx.path("in")
    # input set-up, repeated: its median is the repeatable part of setup_s
    preps = []
    for _ in range(3):
        t = time.perf_counter()
        tables, knobs = gen.cascade_tables(ctx.seed, CUSTOMERS)
        rows_in = sum(gen.write_tables(tables, in_dir).values())
        preps.append(time.perf_counter() - t)
    split = _split_value(con, in_dir, knobs["acctbal_split"])

    t = time.perf_counter()
    wb = Writeback(ctx, f"{in_dir}/customer.parquet", tables["customer"].to_pandas())
    load_s = time.perf_counter() - t
    note(
        f"mask_cascade inputs: {rows_in} rows, knobs {knobs}, guard c_acctbal < {split}; "
        f"Derby {wb.rows} rows, {int(wb.guard.sum())} guarded, load {load_s:.2f}s"
    )

    # warmup: one untimed job on the same inputs (JIT, codegen, Python workers)
    t = time.perf_counter()
    run_job(ctx, in_dir, ctx.path("out"), split)
    wb.job()
    reset(ctx, wb)
    warm_s = time.perf_counter() - t
    res.setup_s = ctx.session_start_s + p50(preps) + load_s + warm_s
    note(
        f"setup: session {ctx.session_start_s:.2f}s, inputs {p50(preps):.2f}s, "
        f"Derby load {load_s:.2f}s, warmup {warm_s:.2f}s"
    )

    op_times: list[list[float]] = []  # per timed engine call, one sample per job

    def job(rep: int):
        out_dir = ctx.path("out")
        res.attempted += 1
        t0 = time.perf_counter()
        try:
            with ctx.tracer.span("job", "bench", trace_id=ctx.tracer.new_trace()):
                ops, report, ri, state = run_job(ctx, in_dir, out_dir, split)
                ops += wb.job()
        except Exception as exc:  # noqa: BLE001 - a failed job is counted, the run goes on
            res.fail(f"job {rep} raised {exc!r}"[:400])
            reset(ctx, wb)
            return None
        wall = time.perf_counter() - t0
        if ctx.tracer.enabled:
            res.add("plans.md5_calls", sum(md5_calls(state[n]) for n in TABLES))
        want, orphans, problems = expected(con, in_dir, out_dir, split)
        if report != want:
            problems.append(f"masking_report {sorted(report.items())} != expected {sorted(want.items())}")
        if ri != orphans or any(orphans.values()):
            problems.append(f"verify_referential_integrity {ri}, DuckDB orphans {orphans}")
        files, size = _dir_stats(out_dir)
        res.add("sinks.files_written", files)
        res.add("sinks.bytes_written", size)
        wb_problems, hit_ratio = wb.check()
        problems += wb_problems
        res.sample("sinks.update_hit_ratio", hit_ratio)
        res.sample("sinks.update_rows_per_s", int(wb.guard.sum()) / ops[-2])
        reset(ctx, wb)
        if problems:
            res.fail(f"job {rep}: " + "; ".join(problems)[:600])
            return None
        if not op_times:
            op_times.extend([] for _ in ops)
        for samples, t in zip(op_times, ops):
            samples.append(t)
        return wall

    timed_loop(ctx, res, job)
    # each engine call's latency is its median over the jobs, and the
    # percentiles are taken over those, as on query_fleet: the same calls
    # sit at p50 and p90 in every run
    res.ops.extend(p50(v) for v in op_times)


def reset(ctx: Ctx, wb: Writeback) -> None:
    """Between reps, outside the timed section: drop pins and cached data,
    delete the sink outputs, restore the Derby database."""
    unpin(ctx.spark)
    shutil.rmtree(ctx.path("out"), ignore_errors=True)
    wb.reset()

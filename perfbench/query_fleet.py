"""``query_fleet``: a closed loop with one client over a fixed list of
registry queries, on generated fixture-shaped tables.

The registry is reached only through ``__spark_entry__.queries()`` and
``oracle_sql()``; the list and its family labels live here, so splitting or
reordering the registry changes no benchmark input. The seed permutes the
list and generates the tables. Each operation calls ``fn(spark, dir)``
(build), ``executedPlan()`` (plan) and ``.count()`` (exec).

The workload is bound by per-query overhead (driver-side construction,
planning, the job floor), not data volume: job-floor and driver-cost gains
show here; data-path gains barely do.

Correctness: during set-up every query's full result is compared with its
DuckDB oracle using ``tools/compare_oracle.py``'s normalization; every timed
``count()`` must then equal the oracle's row count.
"""

from __future__ import annotations

import random
import time

import duckdb

import gen
from harness import Ctx, Result, md5_calls, persisted_rdds, p50, trace_engine_calls, unpin
from spans import note

CUSTOMERS = 150  # the fixtures' sf0.001 shape: 150 customers, 6k lineitems

# (query, family): every family, with three of the ROADMAP.md hot spots
# (mask_static, mask_fpe_card_customers, frequent_part_pairs), kept to what
# fits a run on 4 cores: about 7 s of warm wall per pass. The other hot
# spots (knn_recall_report, dedup_minhash_lsh, cc_incremental_merge,
# bpe_merge_steps) would add 14 s per pass and twice that cold.
FLEET = [
    ("mask_static", "masking"),
    ("mask_guarded", "masking"),
    ("mask_fpe_card_customers", "masking"),
    ("k_anonymity_audit_customers", "privacy"),
    ("q1_pricing_summary", "relational"),
    ("q6_forecast_revenue", "relational"),
    ("scrub_documents_pii", "text"),
    ("dedup_exact", "dedup"),
    ("knn_brute_force", "similarity"),
    ("frequent_part_pairs", "graph"),
    ("json_source_agg", "sources"),
    ("streaming_tumbling_agg", "streaming"),
]
# timed passes at least: the first one is still on the JIT curve, and a
# per-query median over three samples discards it
MIN_PASSES = 3
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings")


def oracle_check(spark, con, fn, sql: str, sf_dir: str) -> tuple[int, str | None]:
    """Run one query fully and compare with its oracle. Returns the oracle's
    row count and a mismatch description (None when equal)."""
    from tools.compare_oracle import df_to_rows

    sdf = fn(spark, sf_dir)
    scols, srows = sdf.columns, sdf.collect()
    res = con.sql(sql)
    dcols, drows = res.columns, res.fetchall()
    if sorted(scols) != sorted(dcols):
        return len(drows), f"columns {sorted(scols)} != {sorted(dcols)}"
    if len(srows) != len(drows):
        return len(drows), f"{len(srows)} rows != oracle {len(drows)}"
    if df_to_rows(scols, srows) != df_to_rows(dcols, drows):
        return len(drows), "values differ from the oracle"
    return len(drows), None


def run(ctx: Ctx, res: Result) -> None:
    import __spark_entry__ as entry

    trace_engine_calls(ctx.tracer)
    spark, tr = ctx.spark, ctx.tracer
    registry, oracles = entry.queries(), entry.oracle_sql()
    sf_dir = ctx.path("in")
    preps = []
    for _ in range(3):
        t = time.perf_counter()
        sizes = gen.write_tables(gen.fixture_tables(ctx.seed, CUSTOMERS), sf_dir)
        preps.append(time.perf_counter() - t)
    order = list(FLEET)
    random.Random(ctx.seed).shuffle(order)
    note(f"query_fleet inputs: {sizes}; order {[q for q, _ in order]}")

    # set-up pass: full oracle comparison, which also warms every query
    t = time.perf_counter()
    con = duckdb.connect()
    for name in TABLES:
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'")
    want: dict[str, int] = {}
    for q, _ in order:
        try:
            want[q], problem = oracle_check(spark, con, registry[q], oracles[q], sf_dir)
        except Exception as exc:  # noqa: BLE001 - a failed query is counted, the run goes on
            want[q], problem = -1, f"raised {exc!r}"[:300]
        if problem:
            res.attempted += 1
            res.fail(f"{q}: {problem}")
        unpin(spark)
    warm_s = time.perf_counter() - t
    res.setup_s = ctx.session_start_s + p50(preps) + warm_s
    note(f"setup: session {ctx.session_start_s:.2f}s, inputs {p50(preps):.2f}s, oracle pass {warm_s:.2f}s")

    latencies: dict[str, list[float]] = {q: [] for q, _ in order}
    t_loop = time.perf_counter()

    # whole passes over the list until the run length is spent, and at
    # least MIN_PASSES of them
    passes = 0
    while passes < MIN_PASSES or time.perf_counter() - t_loop < ctx.seconds:
        passes += 1
        for q, family in order:
            res.attempted += 1
            t0 = time.perf_counter()
            try:
                with tr.span("query", "bench", trace_id=tr.new_trace()):
                    with tr.span("query_build", "queries"):
                        df = registry[q](spark, sf_dir)
                    with tr.span("query_plan", "queries"):
                        df._jdf.queryExecution().executedPlan()  # noqa: SLF001
                    with tr.span("query_count", "queries"):
                        n = df.count()
            except Exception as exc:  # noqa: BLE001 - a failed query is counted, the run goes on
                res.fail(f"{q} raised {exc!r}"[:400])
                unpin(spark)
                continue
            lat = time.perf_counter() - t0
            if tr.enabled:
                res.add("queries.pins", persisted_rdds(spark))
                res.add("plans.md5_calls", md5_calls(df))
            unpin(spark)
            if n != want[q]:
                res.fail(f"{q}: count {n} != oracle {want[q]}")
                continue
            latencies[q].append(lat)
            res.sample(f"queries.family.{family}_s", lat)
    # each query's latency is the median of its samples, so one sample slowed
    # by the host moves nothing; a "job" is a pass over the list, the sum of
    # those medians, and the operation percentiles are taken over them
    medians = {q: p50(v) for q, v in latencies.items() if v}
    res.ops.extend(medians.values())
    res.jobs.append(sum(medians.values()))
    note(f"query_fleet: {passes} passes, {min(len(v) for v in latencies.values())}+ samples per query")
    note("per-query s: " + "; ".join(f"{q} {[round(x, 3) for x in v]}" for q, v in latencies.items()))

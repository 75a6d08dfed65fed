"""The in-place half of the ``mask_cascade`` job: the reference's keyed
UPDATE path on embedded Derby through Spark's JDBC source.

Set-up loads the generated customer table into Derby, adds a unique index on
the key and keeps a pristine copy of the database. Each job then:

1. reads the table with ``sources.jdbc.jdbc_reader`` (range-partitioned on
   the key) and compiles a guarded blueprint with ``compile_plan``;
2. sends the guarded rows (a fifth) back as keyed UPDATEs through
   ``sinks.updates_via_foreach_partition`` with ``jdbc.py4j_dbapi_factory``;
3. writes a full-table generator mask through ``sinks.write_jdbc_staging``
   and swaps it in with ``run_control_ddl``.

Py4J round trips, Python workers and Derby dominate this part. Between jobs
the database is restored from the pristine copy, with Derby shut down. After
each job Derby is read back and compared with the pristine rows and with the
lake-side ``compile_plan`` output of the same blueprints.
"""

from __future__ import annotations

import shutil
import time

from harness import Ctx

TABLE = "customer"
KEY = "c_custkey"
GUARD_SHARE = 0.2
GUARDED_COLS = ["c_phone", "c_mktsegment"]
FULL_COLS = ["c_name"]
UNTOUCHED_COLS = ["c_nationkey", "c_acctbal"]


class Writeback:
    """Derby set-up, one timed writeback, its check and the reset."""

    def __init__(self, ctx: Ctx, lake_path: str, pristine):
        from mysql_data_anonymizer_spark import Blueprint
        from mysql_data_anonymizer_spark.plans.compiler import compile_plan
        from mysql_data_anonymizer_spark.sources import jdbc, sinks

        self.ctx, self.spark = ctx, ctx.spark
        self.home = ctx.path("derby")
        self.db = ctx.path("derby", "db")
        self.pristine_db = ctx.path("derby_pristine")
        self.cfg = jdbc.derby_config(self.home, num_partitions=ctx.cores)
        self.pristine = pristine.sort_values(KEY).reset_index(drop=True)
        self.rows = len(self.pristine)
        self.split = round(float(self.pristine["c_acctbal"].quantile(GUARD_SHARE)), 2)
        self.guard = self.pristine["c_acctbal"] < self.split
        self.guarded = Blueprint(
            TABLE,
            lambda t: t.primary(KEY)
            .column("c_phone").where(f"c_acctbal < {self.split}").replaceWith(lambda g: g.phone_number)
            .column("c_mktsegment").where(f"c_acctbal < {self.split}").replaceWith("MASKED"),
        ).plan
        self.full = Blueprint(TABLE, lambda t: t.primary(KEY).column("c_name").replaceWith(lambda g: g.email)).plan

        lake = self.spark.read.parquet(lake_path)
        sinks.write_jdbc_staging(lake, self.cfg.url, TABLE, self.cfg.base_options(), staging=TABLE)
        jdbc.run_control_ddl(self.spark, self.cfg, [f'CREATE UNIQUE INDEX {TABLE}_pk ON {TABLE} ("{KEY}")'])
        self._shutdown()
        shutil.copytree(self.db, self.pristine_db)
        self._boot()
        # lake-side expectation: the same blueprints compiled over the parquet copy
        seed = ctx.seed
        want = compile_plan(compile_plan(lake, self.guarded, seed=seed).df, self.full, seed=seed).df
        self.lake = want.toPandas().sort_values(KEY).reset_index(drop=True)

    def _dm(self):
        jvm = self.spark._jvm  # noqa: SLF001
        jvm.java.lang.Class.forName(self.cfg.driver)
        return jvm.java.sql.DriverManager

    def _shutdown(self) -> None:
        from py4j.protocol import Py4JJavaError

        try:
            self._dm().getConnection(f"jdbc:derby:{self.db};shutdown=true")
        except Py4JJavaError as exc:
            # Derby reports a clean single-database shutdown as SQLState 08006
            if "08006" not in str(exc.java_exception.getSQLState()):
                raise

    def _boot(self) -> None:
        self._dm().getConnection(self.cfg.url).close()

    def reset(self) -> None:
        """Restore the pristine database (Derby shut down while copying)."""
        self._shutdown()
        shutil.rmtree(self.db)
        shutil.copytree(self.pristine_db, self.db)
        self._boot()

    def job(self) -> list[float]:
        """The timed writeback; returns its op latencies (read+compile,
        keyed updates, staging swap)."""
        from pyspark.sql import functions as F

        from mysql_data_anonymizer_spark.plans.compiler import compile_plan
        from mysql_data_anonymizer_spark.session import EngineConfig
        from mysql_data_anonymizer_spark.sources import jdbc, sinks

        spark, tr, cfg, seed = self.spark, self.ctx.tracer, self.cfg, self.ctx.seed
        ops = []
        t = time.perf_counter()
        with tr.span("jdbc_reader", "jdbc"):
            src = jdbc.jdbc_reader(spark, cfg, TABLE, partition_column=KEY, lower_bound=0, upper_bound=self.rows - 1)
        masked = compile_plan(src, self.guarded, seed=seed).df
        changed = masked.where(F.col("c_acctbal") < F.lit(self.split)).select(*GUARDED_COLS, KEY)
        ops.append(time.perf_counter() - t)
        t = time.perf_counter()
        with tr.span("updates", "sinks"):
            sinks.updates_via_foreach_partition(
                changed,
                TABLE,
                set_cols=GUARDED_COLS,
                pk_cols=[KEY],
                connection_factory=jdbc.py4j_dbapi_factory(spark, cfg),
                batch_size=EngineConfig().writeback_batch_size,
                paramstyle="?",
                quote='"',  # Spark's JDBC writer created case-sensitive columns
            )
        ops.append(time.perf_counter() - t)
        t = time.perf_counter()
        with tr.span("jdbc_reader", "jdbc"):
            src = jdbc.jdbc_reader(spark, cfg, TABLE, partition_column=KEY, lower_bound=0, upper_bound=self.rows - 1)
        staged = compile_plan(src, self.full, seed=seed).df
        with tr.span("write_jdbc_staging", "sinks"):
            sinks.write_jdbc_staging(staged, cfg.url, TABLE, cfg.base_options())
        with tr.span("run_control_ddl", "sinks"):
            jdbc.run_control_ddl(spark, cfg, sinks.staging_swap_sql(TABLE, dialect="ansi"))
        ops.append(time.perf_counter() - t)
        return ops

    def check(self) -> tuple[list[str], float]:
        """Compare the Derby table with the pristine rows and the lake-side
        masks. Returns (problems, share of UPDATE rows that changed a stored
        value)."""
        df = self.spark.read.format("jdbc").options(**self.cfg.base_options(), dbtable=TABLE).load()
        back = df.toPandas().sort_values(KEY).reset_index(drop=True)
        pristine, lake, guard = self.pristine, self.lake, self.guard
        if len(back) != len(pristine) or not (back[KEY].values == pristine[KEY].values).all():
            return [f"Derby holds {len(back)} rows, key set differs from the {len(pristine)} loaded"], 0.0
        problems = [f"untouched {c} changed" for c in UNTOUCHED_COLS if not (back[c].values == pristine[c].values).all()]
        for col in FULL_COLS:
            bad = int((back[col].values != lake[col].values).sum())
            if bad:
                problems.append(f"{col}: {bad} rows differ from the lake-side full mask")
        for col in GUARDED_COLS:
            bad = int((back[col].values != lake[col].where(guard, pristine[col]).values).sum())
            if bad:
                problems.append(f"{col}: {bad} rows differ from the lake-side guarded mask")
        hit = (back[GUARDED_COLS][guard].values != pristine[GUARDED_COLS][guard].values).any(axis=1)
        return problems, float(hit.mean()) if len(hit) else 0.0

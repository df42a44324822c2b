"""``customer_etl``: the paper's own job, one daily run per operation.

Each operation runs ``pipelines.run_customer_pipeline`` over the
staging estate with that day's party delta against a fixed prior dim
and history, and writes the upserted dim and the SCD2 history through
``sources.parquet.write_table``. The prior dim and history hold every
customer's wide row as of the base estate, written during set-up.
"""

from __future__ import annotations

import datetime
from pathlib import Path

import duckdb

import gen
from harness import Op

SIZES = {
    "full": {"n_cust": 5_000, "n_deltas": 4, "rate_per_mille": 20},
    "tiny": {"n_cust": 300, "n_deltas": 2, "rate_per_mille": 60},
}


class CustomerEtl:
    name = "customer_etl"
    #: share of the run's time budget per pass (see run.py)
    pass_seconds = 12.5
    #: building the prior dim in set-up already runs the wide-row plan
    warmup_passes = 0

    def __init__(self, spark, tracer, seed: int, size: str):
        self.spark, self.tr, self.seed, self.size = spark, tracer, seed, size
        self.cfg = SIZES[size]
        self.run_no = 0

    # -- set-up ----------------------------------------------------------
    def setup(self) -> None:
        from pyspark.sql import functions as F

        from pandas_analysis_with_postgres_spark.pipelines import build_wide_customer
        from pandas_analysis_with_postgres_spark.sources.parquet import write_table

        self.dir = gen.work_dir(self.name, self.seed, self.size)
        self.estate = gen.write_estate(self.dir, self.seed, **self.cfg)
        # Yesterday's warehouse: every customer's wide row, current.
        wide = build_wide_customer(self._tables(self.estate["tables"]["stg_dce_party"]))
        self.prior_dim = str(self.dir / "prior" / "dwd_customer")
        self.prior_hstr = str(self.dir / "prior" / "dwd_hstr_customer")
        write_table(wide.withColumn("etl_date", F.lit(gen.T_PRIOR)), self.prior_dim)
        write_table(
            self.spark.read.parquet(self.prior_dim).drop("etl_date").withColumns(
                {
                    "effective_from_date": F.coalesce("udate_party", "cdate_party"),
                    "effective_to_date": F.lit(None).cast("timestamp"),
                    "is_current_record": F.lit(1),
                    "sys_effective_from_date": F.lit(gen.T_PRIOR),
                    "sys_effective_to_date": F.lit(None).cast("timestamp"),
                }
            ),
            self.prior_hstr,
        )
        self.input_rows = (
            self.estate["rows"] + 2 * self.cfg["n_cust"]  # + prior dim, history
        )

    def _tables(self, party_path: str) -> dict:
        read = self.spark.read.parquet
        t = {k: read(v) for k, v in self.estate["tables"].items()}
        t["stg_dce_party"] = read(party_path)
        return t

    # -- the loop ----------------------------------------------------------
    def reset(self) -> None:
        """Operations never modify their inputs; nothing to reset."""

    def pass_ops(self) -> list[Op]:
        d = self.run_no % self.cfg["n_deltas"]
        now = gen.T_RUN0 + datetime.timedelta(days=self.run_no)
        self.run_no += 1
        out_dir = self.dir / "out"
        return [Op("daily_run", lambda: self._daily_run(d, now, out_dir),
                   lambda res: self._check(res, d))]

    def _daily_run(self, d: int, now: datetime.datetime, out_dir: Path) -> dict:
        from pyspark.sql import functions as F

        from pandas_analysis_with_postgres_spark.pipelines import run_customer_pipeline
        from pandas_analysis_with_postgres_spark.sources.parquet import write_table

        read = self.spark.read.parquet
        t = self._tables(self.estate["deltas"][d])
        with self.tr.span("pipelines.build"):
            out = run_customer_pipeline(
                t,
                dwd_customer=read(self.prior_dim),
                dwd_hstr_customer=read(self.prior_hstr),
                now=F.lit(now),
            )
        with self.tr.span("pipelines.plan"):
            for k in ("dim", "history"):
                out[k]._jdf.queryExecution().executedPlan()
        paths = {"dim": str(out_dir / "dwd_customer"),
                 "history": str(out_dir / "dwd_hstr_customer")}
        with self.tr.span("pipelines.exec"):
            for k, path in paths.items():
                with self.tr.span("sources.parquet.write") as c:
                    write_table(out[k], path)
                    c["bytes_written"] = gen.dir_bytes(path)[1]
        return paths

    def _check(self, paths: dict, d: int) -> str | None:
        """One dim row per customer, one current history row per key,
        and exactly the planted changed customers closed and reopened."""
        n = self.cfg["n_cust"]
        want = self.estate["changed"][d]
        con = duckdb.connect()
        try:
            dim = f"read_parquet('{paths['dim']}/*.parquet')"
            hstr = f"read_parquet('{paths['history']}/*.parquet')"
            rows, keys = con.execute(
                f"SELECT count(*), count(DISTINCT cust_id) FROM {dim}"
            ).fetchone()
            if rows != n or keys != n:
                return f"dim has {rows} rows / {keys} keys, want {n}"
            cur, cur_keys = con.execute(
                f"SELECT count(*), count(DISTINCT cust_id) FROM {hstr} "
                "WHERE is_current_record = 1"
            ).fetchone()
            if cur != n or cur_keys != n:
                return f"history has {cur} current rows / {cur_keys} keys, want {n}"
            closed = [r[0] for r in con.execute(
                f"SELECT cust_id FROM {hstr} WHERE is_current_record = 0 "
                "ORDER BY cust_id").fetchall()]
            reopened = [r[0] for r in con.execute(
                f"SELECT cust_id FROM {hstr} WHERE is_current_record = 1 "
                "AND year(sys_effective_from_date) > 2020 ORDER BY cust_id").fetchall()]
            if closed != want or reopened != want:
                return (f"closed {len(closed)} / reopened {len(reopened)} keys, "
                        f"want the {len(want)} planted changes")
            total = con.execute(f"SELECT count(*) FROM {hstr}").fetchone()[0]
            if total != n + len(want):
                return f"history has {total} rows, want {n + len(want)}"
        finally:
            con.close()
        return None

    def metrics(self, loop) -> dict:
        return {}

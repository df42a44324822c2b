"""``lakehouse_ingest``: writes beside reads on one snapshot table.

A lineitem-shaped table partitioned by ship month, with manifest stats
on its key, takes a seeded mix of operations: ``merge_snapshot`` of a
changed-row file, ``delete_where`` on a key range, one micro-batch of
``streaming.stream_merge_sink`` from a newly dropped file, a
range-pruned ``read_snapshot`` plus an aggregate, and an
``answer_from_manifest`` metadata query.

Every pass starts from a fresh copy of the pristine table (copied
outside the timed region) so each pass does the same work. A DuckDB
shadow table gets the same merges and deletes; after each write the
committed files must match it in row count and ``sum(l_key)``, and
every read must match it exactly.
"""

from __future__ import annotations

import shutil

import duckdb

import gen
from harness import Op, med

SIZES = {
    "full": {"n_rows": 120_000, "n_ops": 16, "merge_rows": 2_000,
             "stream_rows": 500, "delete_span": 1_500},
    "tiny": {"n_rows": 6_000, "n_ops": 16, "merge_rows": 200,
             "stream_rows": 50, "delete_span": 100},
}
KEY, PART = "l_key", "l_shipmonth"
APP_ID = "perfbench"


class LakehouseIngest:
    name = "lakehouse_ingest"
    #: share of the run's time budget per pass (see run.py)
    pass_seconds = 10.0
    warmup_passes = 1

    def __init__(self, spark, tracer, seed: int, size: str):
        self.spark, self.tr, self.seed, self.size = spark, tracer, seed, size
        self.cfg = SIZES[size]
        self.pass_no = 0
        self.written = {"bytes": 0, "user_bytes": 0}
        self.per_write: list[tuple[int, int]] = []
        self.scanned: list[tuple[int, int]] = []
        self.answered: list[bool] = []
        self.stream_batches: list[int] = []
        self.stream_rows: list[int] = []

    # -- set-up ----------------------------------------------------------
    def setup(self) -> None:
        from pandas_analysis_with_postgres_spark.sources.snapshot import write_snapshot

        cfg = self.cfg
        self.dir = gen.work_dir(self.name, self.seed, self.size)
        self.base = gen.make_lineitem(self.seed, cfg["n_rows"])
        gen.write_arrow(self.base, self.dir / "input" / "lineitem" / "part-0.parquet")
        self.ops = gen.make_schedule(
            self.seed, cfg["n_rows"], cfg["n_ops"], cfg["merge_rows"],
            cfg["stream_rows"], cfg["delete_span"],
        )
        self.deltas = {}
        for op in self.ops:
            if op["kind"] in ("merge", "stream"):
                t = gen.make_delta(self.seed, op, cfg["n_rows"])
                path = self.dir / "input" / "deltas" / f"op{op['i']}.parquet"
                gen.write_arrow(t, path)
                self.deltas[op["i"]] = (str(path), t)
        self.pristine = str(self.dir / "pristine")
        src = self.spark.read.parquet(str(self.dir / "input" / "lineitem"))
        write_snapshot(src, self.pristine, PART, stats_cols=[KEY], distribution="hash")
        self.schema = src.schema
        self.input_rows = cfg["n_rows"]  # the table every pass works on
        self.shadow = duckdb.connect()

    # -- the loop --------------------------------------------------------
    def reset(self) -> None:
        """Fresh copy of the pristine table, stream source/checkpoint and
        shadow, so every pass starts from the same state."""
        if self.pass_no:
            shutil.rmtree(self.dir / f"pass{self.pass_no - 1}")
        self.pdir = self.dir / f"pass{self.pass_no}"
        self.table = str(self.pdir / "table")
        shutil.copytree(self.pristine, self.table)
        self.stream_src = self.pdir / "stream_in"
        self.stream_src.mkdir()
        self.ckpt = str(self.pdir / "ckpt")
        self.stream_mark = -1
        self.shadow.execute("DROP TABLE IF EXISTS shadow")
        self.shadow.register("base", self.base)
        self.shadow.execute(f"CREATE TABLE shadow AS SELECT {KEY}, {PART}, l_quantity FROM base")
        self.shadow.unregister("base")
        self.pass_no += 1

    def pass_ops(self) -> list[Op]:
        out = []
        for op in self.ops:
            kind = op["kind"]
            if kind in ("merge", "stream", "delete"):
                out.append(self._write_op(op))
            elif kind == "scan":
                out.append(Op("scan", lambda op=op: self._scan(op),
                              lambda res, op=op: self._check_scan(res, op)))
            else:
                out.append(Op("meta", lambda op=op: self._meta(op),
                              lambda res, op=op: self._check_meta(res, op)))
        return out

    def _write_op(self, op: dict) -> Op:
        from pandas_analysis_with_postgres_spark.sources.snapshot import (
            delete_where,
            merge_snapshot,
        )
        from pandas_analysis_with_postgres_spark.streaming import stream_merge_sink

        kind = op["kind"]
        before = {}

        def prepare():
            before["fb"] = gen.dir_bytes(self.table)
            if kind == "stream":  # the new file lands before the timed call
                shutil.copy(self.deltas[op["i"]][0], self.stream_src / f"op{op['i']}.parquet")

        def run():
            if kind == "merge":
                src = self.spark.read.parquet(self.deltas[op["i"]][0])
                with self.tr.span("sources.snapshot.merge"):
                    return merge_snapshot(self.table, src, KEY, PART)
            if kind == "delete":
                lo, hi = op["range"]
                with self.tr.span("sources.snapshot.delete"):
                    return delete_where(self.spark, self.table, f"{KEY} BETWEEN {lo} AND {hi}")
            stream = self.spark.readStream.schema(self.schema).parquet(str(self.stream_src))
            with self.tr.span("streaming.batch"):
                return stream_merge_sink(stream, self.table, KEY, PART,
                                         app_id=APP_ID, checkpoint_dir=self.ckpt)

        return Op(kind, run, lambda _res: self._after_write(op, before["fb"]), prepare)

    def _after_write(self, op: dict, before: tuple[int, int]) -> str | None:
        from pandas_analysis_with_postgres_spark.sources.snapshot import read_manifest

        kind = op["kind"]
        if kind == "delete":
            lo, hi = op["range"]
            self.shadow.execute(f"DELETE FROM shadow WHERE {KEY} BETWEEN {lo} AND {hi}")
        else:
            t = self.deltas[op["i"]][1]
            self.shadow.register("delta", t)
            self.shadow.execute(f"DELETE FROM shadow WHERE {KEY} IN (SELECT {KEY} FROM delta)")
            self.shadow.execute(f"INSERT INTO shadow SELECT {KEY}, {PART}, l_quantity FROM delta")
            self.shadow.unregister("delta")
            self.written["user_bytes"] += t.nbytes
        files, size = gen.dir_bytes(self.table)
        self.written["bytes"] += size - before[1]
        self.per_write.append((files - before[0], size - before[1]))
        man = read_manifest(self.table)
        if (man.get("tombstones") or {}).get("parts") or (man.get("updates") or {}).get("parts"):
            return f"{kind}: unexpected delete/update vectors in the manifest"
        paths = [f"{self.table}/{rel}/*.parquet" for rel in man["partitions"].values()]
        got = self.shadow.execute(
            f"SELECT count(*), sum({KEY}) FROM read_parquet({paths!r})"
        ).fetchone()
        want = self.shadow.execute(f"SELECT count(*), sum({KEY}) FROM shadow").fetchone()
        if kind == "stream":
            mark = (man.get("txn") or {}).get(APP_ID, -1)
            self.stream_batches.append(mark - self.stream_mark)
            self.stream_mark = mark
            self.stream_rows.append(self.deltas[op["i"]][1].num_rows)
        if tuple(got) != tuple(want):
            return f"{kind} op {op['i']}: table has (rows, sum key) {got}, shadow {want}"
        return None

    def _scan(self, op: dict):
        from pyspark.sql import functions as F

        from pandas_analysis_with_postgres_spark.sources.snapshot import read_snapshot

        lo, hi = op["range"]
        with self.tr.span("sources.snapshot.read"):
            df = read_snapshot(self.spark, self.table, column_ranges={KEY: (lo, hi)})
            rows = (
                df.filter(F.col(KEY).between(lo, hi))
                .agg(F.count(F.lit(1)), F.sum(KEY), F.sum("l_quantity"))
                .collect()
            )
        return df, tuple(rows[0])

    def _check_scan(self, res, op: dict) -> str | None:
        from pandas_analysis_with_postgres_spark.sources.snapshot import table_info

        df, got = res
        lo, hi = op["range"]
        want = self.shadow.execute(
            f"SELECT count(*), sum({KEY}), sum(l_quantity) FROM shadow "
            f"WHERE {KEY} BETWEEN {lo} AND {hi}"
        ).fetchone()
        self.scanned.append((len(df.inputFiles()), table_info(self.table)["n_files"]))
        if got[0] != want[0] or (got[0] and (got[1] != want[1] or abs(got[2] - want[2]) > 1e-6)):
            return f"scan op {op['i']}: got {got}, shadow {want}"
        return None

    def _meta(self, op: dict):
        from pyspark.sql import functions as F

        from pandas_analysis_with_postgres_spark.sources.metadata_sql import answer_from_manifest
        from pandas_analysis_with_postgres_spark.sources.snapshot import read_snapshot

        sql = (f"SELECT COUNT(*) AS n, MIN({KEY}) AS lo, MAX({KEY}) AS hi "
               f"FROM t WHERE {PART} = {op['month']}")
        with self.tr.span("sources.metadata_sql.answer"):
            df = answer_from_manifest(self.spark, sql, {"t": self.table})
            answered = df is not None
            if df is None:  # the caller's fallback: a real scan
                df = (read_snapshot(self.spark, self.table)
                      .filter(F.col(PART) == op["month"])
                      .agg(F.count(F.lit(1)), F.min(KEY), F.max(KEY)))
            row = tuple(df.collect()[0])
        return answered, row

    def _check_meta(self, res, op: dict) -> str | None:
        answered, got = res
        self.answered.append(answered)
        want = self.shadow.execute(
            f"SELECT count(*), min({KEY}), max({KEY}) FROM shadow WHERE {PART} = {op['month']}"
        ).fetchone()
        if tuple(got) != tuple(want):
            return f"meta op {op['i']}: got {got}, shadow {want}"
        return None

    # -- metrics ---------------------------------------------------------
    def metrics(self, loop) -> dict:
        by_kind: dict[str, list[float]] = {}
        for k, dt in zip(loop.kinds, loop.latencies):
            by_kind.setdefault(k, []).append(dt)
        out = {f"{k}_p50_s": med(by_kind.get(k, [])) for k in
               ("merge", "delete", "stream", "scan", "meta")}
        out["write_amp"] = self.written["bytes"] / max(1, self.written["user_bytes"])
        out["sources.snapshot.files_written"] = med(f for f, _ in self.per_write)
        out["sources.snapshot.bytes_written"] = med(b for _, b in self.per_write)
        out["sources.snapshot.files_scanned"] = med(s for s, _ in self.scanned)
        out["sources.snapshot.files_total"] = med(t for _, t in self.scanned)
        out["sources.metadata_sql.answered_ratio"] = (
            sum(self.answered) / max(1, len(self.answered))
        )
        out["streaming.batches"] = med(self.stream_batches)
        out["streaming.rows"] = med(self.stream_rows)
        return out

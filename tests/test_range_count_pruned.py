"""Hybrid range COUNT: manifest-proven partitions answer from
metadata, ONLY boundary partitions scan — exact, never refuses."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from pandas_analysis_with_postgres_spark.sources.snapshot import (
    delete_where,
    manifest_range_count,
    range_count_pruned,
    write_snapshot,
)


@pytest.fixture()
def tbl(spark, tmp_path):
    # buckets of 100 consecutive keys: bucket b holds k in [100b, 100b+99]
    df = spark.createDataFrame(
        [(i, i // 100) for i in range(1000)], "k long, b long"
    )
    path = str(tmp_path / "t")
    write_snapshot(df, path, "b", stats_cols=["k"])
    return path


def test_boundary_only_scan_is_exact(spark, tbl):
    out = range_count_pruned(spark, tbl, "k", lo=250, hi=449)
    # bucket 3 fully inside (metadata); buckets 2 and 4 are boundary
    assert (out["count"], out["meta_partitions"], out["scanned_partitions"]) \
        == (200, 1, 2)
    # where manifest_range_count refuses (partial overlap), hybrid answers
    assert manifest_range_count(tbl, "k", lo=250, hi=449) is None


def test_proven_partitions_read_zero_data_pages(spark, tbl):
    # delete every parquet file OUTSIDE the two boundary buckets: the
    # hybrid count must still answer (their contribution was metadata)
    for f in Path(tbl).rglob("*.parquet"):
        if "b=2" not in str(f) and "b=4" not in str(f):
            f.unlink()
    out = range_count_pruned(spark, tbl, "k", lo=250, hi=449)
    assert out["count"] == 200


def test_full_containment_reads_nothing(spark, tbl):
    for f in Path(tbl).rglob("*.parquet"):
        f.unlink()
    # bounds on bucket edges: every partition proven in or out
    out = range_count_pruned(spark, tbl, "k", lo=200, hi=499)
    assert (out["count"], out["meta_partitions"], out["scanned_partitions"]) \
        == (300, 3, 0)
    assert out["scanned_files"] == 0 and out["total_files"] == 0


def test_partition_column_never_boundary(spark, tbl):
    for f in Path(tbl).rglob("*.parquet"):
        f.unlink()
    out = range_count_pruned(spark, tbl, "b", lo=2, hi=5, hi_strict=True)
    assert (out["count"], out["meta_partitions"], out["scanned_partitions"]) \
        == (300, 3, 0)


def test_tombstoned_partitions_scan_and_stay_exact(spark, tbl):
    # MoR-delete 10 keys inside bucket 3 (previously fully-proven):
    # the tombstoned partition must flip to the scan set and the
    # count must reflect the deletes exactly
    delete_where(
        spark, tbl, F.col("k").between(300, 309), mode="merge-on-read",
        key="k",
    )
    out = range_count_pruned(spark, tbl, "k", lo=250, hi=449)
    assert out["count"] == 190
    assert out["scanned_partitions"] == 3  # buckets 2, 3 (tombstoned), 4


def test_tombstoned_but_proven_outside_is_not_scanned(spark, tbl):
    # Tombstone keys in bucket 8 (k 800-899), then count over
    # [250, 449]: bucket 8 is provably fully OUTSIDE the range —
    # [min,max] is a pre-delete superset, so the outside proof holds
    # despite the tombstone and the partition must NOT pay a scan.
    delete_where(
        spark, tbl, F.col("k").between(800, 809), mode="merge-on-read",
        key="k",
    )
    out = range_count_pruned(spark, tbl, "k", lo=250, hi=449)
    assert out["count"] == 200
    assert out["scanned_partitions"] == 2  # buckets 2, 4 only


def test_nulls_are_excluded_like_sql(spark, tmp_path):
    rows = [(i if i % 5 else None, i // 100) for i in range(300)]
    df = spark.createDataFrame(rows, "k long, b long")
    path = str(tmp_path / "n")
    write_snapshot(df, path, "b", stats_cols=["k"])
    truth = sum(1 for k, _ in rows if k is not None and 50 <= k <= 249)
    out = range_count_pruned(spark, path, "k", lo=50, hi=249)
    assert out["count"] == truth


def test_hybrid_sql_tier_and_cli(spark, tbl, capsys):
    from pandas_analysis_with_postgres_spark.sources.metadata_sql import (
        answer_from_manifest,
        hybrid_range_count,
    )

    sql = "SELECT COUNT(*) AS n FROM t WHERE k BETWEEN 250 AND 449"
    # metadata refuses (partial overlap) …
    assert answer_from_manifest(spark, sql, {"t": tbl}) is None
    # … the hybrid tier answers exactly, with the statement's alias
    out = hybrid_range_count(spark, sql, {"t": tbl})
    assert [tuple(r) for r in out.collect()] == [(200,)]
    # multi-item COUNT+MIN now serves in one shared pass
    multi = hybrid_range_count(
        spark, "SELECT COUNT(*) AS n, MIN(k) AS lo FROM t WHERE k > 5",
        {"t": tbl},
    )
    assert [tuple(r) for r in multi.collect()] == [(994, 6)]
    # GROUP BY + range now serves too (the grouped hybrid tier)
    grp = hybrid_range_count(
        spark, "SELECT b, COUNT(*) AS n FROM t WHERE k > 5 GROUP BY b",
        {"t": tbl},
    )
    assert sum(r.n for r in grp.collect()) == 994
    # shape gates: non-range WHERE / unknown table refuse
    for bad in (
        "SELECT COUNT(*) AS n FROM t WHERE b = 1",
        "SELECT COUNT(*) AS n FROM nope WHERE k > 5",
    ):
        assert hybrid_range_count(spark, bad, {"t": tbl}) is None
    # CLI: the middle tier serves the misaligned range COUNT
    from pandas_analysis_with_postgres_spark.__main__ import main as cli

    rc = cli(
        [
            "snapshot", "sql", tbl,
            "--query", sql, "--as", "t",
        ]
    )
    assert rc == 0
    assert "200" in capsys.readouterr().out
    # the generalized tier: a MIN under a misaligned range also serves
    rc2 = cli(
        [
            "snapshot", "sql", tbl,
            "--query", "SELECT MIN(k) AS lo FROM t WHERE k >= 250",
            "--as", "t",
        ]
    )
    assert rc2 == 0
    assert "250" in capsys.readouterr().out


def test_conjunctive_eq_and_range(spark, tbl):
    # "WHERE b = 2 AND k <range>" — partition equality restricts the
    # universe, the range proof runs inside the member partition
    from pandas_analysis_with_postgres_spark.sources.metadata_sql import (
        answer_from_manifest,
        hybrid_range_count,
    )
    from pandas_analysis_with_postgres_spark.sources.snapshot import (
        manifest_range_count,
    )

    # fully-contained in bucket 2 (k 200–299): pure metadata answer
    out = answer_from_manifest(
        spark,
        "SELECT COUNT(*) AS n FROM t WHERE b = 2 AND k BETWEEN 200 AND 299",
        {"t": tbl},
    )
    assert [tuple(r) for r in out.collect()] == [(100,)]
    # fully-outside member: zero, still metadata
    out0 = answer_from_manifest(
        spark,
        "SELECT COUNT(*) AS n FROM t WHERE b = 7 AND k < 100",
        {"t": tbl},
    )
    assert [tuple(r) for r in out0.collect()] == [(0,)]
    # partial overlap inside the member: metadata refuses, hybrid
    # scans ONLY that partition
    sql = "SELECT COUNT(*) AS n FROM t WHERE b = 2 AND k >= 250"
    assert answer_from_manifest(spark, sql, {"t": tbl}) is None
    hy = hybrid_range_count(spark, sql, {"t": tbl})
    assert [tuple(r) for r in hy.collect()] == [(50,)]
    # API level: restriction composes with the pure prover
    assert manifest_range_count(
        tbl, "k", lo=200, hi=299, where_partition=("b", 2)
    ) == 100
    assert manifest_range_count(
        tbl, "k", lo=250, where_partition=("b", 2)
    ) is None
    # non-partition equality refuses everywhere
    assert (
        answer_from_manifest(
            spark,
            "SELECT COUNT(*) AS n FROM t WHERE k = 5 AND k > 1",
            {"t": tbl},
        )
        is None
    )
    # MIN/MAX and GROUP BY never ride the conjunctive shape
    for bad in (
        "SELECT MIN(k) AS lo FROM t WHERE b = 2 AND k > 5",
        "SELECT b, COUNT(*) AS n FROM t WHERE b = 2 AND k > 5 GROUP BY b",
    ):
        assert answer_from_manifest(spark, bad, {"t": tbl}) is None


def test_range_sum_pruned_exact_and_minimal(spark, tmp_path):
    from pandas_analysis_with_postgres_spark.sources.snapshot import (
        delete_where,
        range_sum_pruned,
        write_snapshot,
    )

    # bucket b holds k in [100b, 100b+99]; cents = k * 10; a few NULL
    # range values in bucket 0 force it to the scan set even when the
    # range would otherwise prove it
    rows = []
    for i in range(500):
        b = i // 100
        k = None if (b == 0 and i % 10 == 0) else i
        rows.append((k, b, i * 10))
    df = spark.createDataFrame(rows, "k long, b long, cents long")
    path = str(tmp_path / "t")
    write_snapshot(df, path, "b", stats_cols=["k", "cents::sum"])

    def truth(lo, hi):
        sel = [c for (k, _, c) in rows if k is not None and lo <= k <= hi]
        return (sum(sel) if sel else None, len(sel))

    out = range_sum_pruned(spark, path, "k", "cents", lo=50, hi=349)
    t = truth(50, 349)
    assert (out["sum"], out["n_nonnull"]) == t
    # bucket 0 scans (nulls), 1 and 2 metadata, 3 boundary, 4 outside
    assert out["meta_partitions"] == 2
    assert out["scanned_partitions"] == 2
    # zero-data-page proof for the metadata buckets
    from pathlib import Path

    for f in Path(path).rglob("*.parquet"):
        if "b=1" in str(f) or "b=2" in str(f):
            f.unlink()
    out2 = range_sum_pruned(spark, path, "k", "cents", lo=50, hi=349)
    assert (out2["sum"], out2["n_nonnull"]) == t
    # empty selection → SQL NULL sum
    empty = range_sum_pruned(spark, path, "k", "cents", lo=10_000)
    assert empty["sum"] is None and empty["n_nonnull"] == 0
    # tombstones push a proven-inside partition to the scan set
    path2 = str(tmp_path / "t2")
    df2 = spark.createDataFrame(
        [(i, i // 100, i * 10) for i in range(300)],
        "k long, b long, cents long",
    )
    write_snapshot(df2, path2, "b", stats_cols=["k", "cents::sum"])
    delete_where(
        spark, path2, F.col("k").between(100, 104),
        mode="merge-on-read", key="k",
    )
    out3 = range_sum_pruned(spark, path2, "k", "cents", lo=100, hi=199)
    want = sum(i * 10 for i in range(105, 200))
    assert (out3["sum"], out3["n_nonnull"]) == (want, 95)
    assert out3["scanned_partitions"] == 1  # the tombstoned bucket


def test_range_minmax_pruned(spark, tmp_path):
    from pandas_analysis_with_postgres_spark.sources.snapshot import (
        range_minmax_pruned,
        write_snapshot,
    )

    # bucket b: k in [100b, 100b+99]; x = 1000 - k (so extremes flip)
    rows = [(i, i // 100, 1000 - i) for i in range(500)]
    df = spark.createDataFrame(rows, "k long, b long, x long")
    path = str(tmp_path / "t")
    write_snapshot(df, path, "b", stats_cols=["k", "x"])

    def truth(lo, hi):
        sel = [x for (k, _, x) in rows if lo <= k <= hi]
        return (min(sel), max(sel)) if sel else (None, None)

    out = range_minmax_pruned(spark, path, "k", "x", lo=150, hi=449)
    assert (out["min"], out["max"]) == truth(150, 449)
    # buckets 2,3 metadata; 1 and 4 boundary
    assert out["meta_partitions"] == 2 and out["scanned_partitions"] == 2
    # zero-data-page proof for the proven buckets
    from pathlib import Path

    for f in Path(path).rglob("*.parquet"):
        if "b=2" in str(f) or "b=3" in str(f):
            f.unlink()
    out2 = range_minmax_pruned(spark, path, "k", "x", lo=150, hi=449)
    assert (out2["min"], out2["max"]) == truth(150, 449)
    # range col == agg col: the null guard is unnecessary by identity
    rows3 = [(None if i % 7 == 0 else i, i // 100) for i in range(300)]
    df3 = spark.createDataFrame(rows3, "k long, b long")
    p3 = str(tmp_path / "t3")
    write_snapshot(df3, p3, "b", stats_cols=["k"])
    sel = [k for (k, _) in rows3 if k is not None and k >= 100]
    o3 = range_minmax_pruned(spark, p3, "k", "k", lo=100)
    assert (o3["min"], o3["max"]) == (min(sel), max(sel))
    assert o3["scanned_partitions"] == 0  # all proven despite nulls
    # empty selection
    e = range_minmax_pruned(spark, path, "k", "x", lo=10_000)
    assert e["min"] is None and e["max"] is None


def test_hybrid_tier_serves_all_single_aggregates(spark, tmp_path):
    from pandas_analysis_with_postgres_spark.sources.metadata_sql import (
        hybrid_range_count,
    )
    from pandas_analysis_with_postgres_spark.sources.snapshot import (
        write_snapshot,
    )

    rows = [(i, i // 100, i * 3) for i in range(500)]
    df = spark.createDataFrame(rows, "k long, b long, cents long")
    path = str(tmp_path / "t")
    write_snapshot(df, path, "b", stats_cols=["k", "cents", "cents::sum"])
    tables = {"t": path}
    sel = [(k, c) for (k, _, c) in rows if 150 <= k <= 449]

    def one(sql):
        out = hybrid_range_count(spark, sql, tables)
        return None if out is None else out.collect()[0][0]

    assert one(
        "SELECT COUNT(*) AS n FROM t WHERE k BETWEEN 150 AND 449"
    ) == len(sel)
    assert one(
        "SELECT SUM(cents) AS s FROM t WHERE k BETWEEN 150 AND 449"
    ) == sum(c for _, c in sel)
    assert one(
        "SELECT AVG(cents) AS a FROM t WHERE k BETWEEN 150 AND 449"
    ) == float(sum(c for _, c in sel)) / len(sel)
    assert one(
        "SELECT MIN(cents) AS lo FROM t WHERE k BETWEEN 150 AND 449"
    ) == min(c for _, c in sel)
    assert one(
        "SELECT MAX(cents) AS hi FROM t WHERE k BETWEEN 150 AND 449"
    ) == max(c for _, c in sel)
    # multi-item statements now serve via ONE shared hybrid pass
    sel1 = [(k, c) for (k, _, c) in rows if k > 1]
    m = hybrid_range_count(
        spark, "SELECT SUM(cents) AS s, COUNT(*) AS n FROM t WHERE k > 1",
        tables,
    )
    assert [tuple(r) for r in m.collect()] == [
        (sum(c for _, c in sel1), len(sel1))
    ]
    assert one("SELECT SUM(cents) AS s FROM t WHERE b = 1 AND k > 1") == sum(
        c for (k, b, c) in rows if b == 1 and k > 1
    )
    # min/max agg typed like the scan (long, not string)
    out = hybrid_range_count(
        spark, "SELECT MIN(cents) AS lo FROM t WHERE k >= 0", tables
    )
    assert dict(out.dtypes)["lo"] == "bigint"
    # unknown aggregated column refuses BEFORE the prover runs — no
    # boundary scan is paid for a statement the tier cannot serve
    assert one("SELECT MIN(nope) AS lo FROM t WHERE k >= 0") is None


def test_conjunctive_serves_sum_avg_minmax(spark, tmp_path):
    from pandas_analysis_with_postgres_spark.sources.metadata_sql import (
        hybrid_range_count,
    )
    from pandas_analysis_with_postgres_spark.sources.snapshot import (
        range_minmax_pruned,
        range_sum_pruned,
        write_snapshot,
    )

    rows = [(i, i // 100, i * 3) for i in range(500)]
    df = spark.createDataFrame(rows, "k long, b long, cents long")
    path = str(tmp_path / "t")
    write_snapshot(df, path, "b", stats_cols=["k", "cents", "cents::sum"])
    sel = [(k, c) for (k, _, c) in rows if k // 100 == 2 and k >= 250]

    def one(sql):
        out = hybrid_range_count(spark, sql, {"t": path})
        return None if out is None else out.collect()[0][0]

    assert one(
        "SELECT SUM(cents) AS s FROM t WHERE b = 2 AND k >= 250"
    ) == sum(c for _, c in sel)
    assert one(
        "SELECT AVG(cents) AS a FROM t WHERE b = 2 AND k >= 250"
    ) == float(sum(c for _, c in sel)) / len(sel)
    assert one(
        "SELECT MIN(cents) AS lo FROM t WHERE b = 2 AND k >= 250"
    ) == min(c for _, c in sel)
    assert one(
        "SELECT MAX(cents) AS hi FROM t WHERE b = 2 AND k >= 250"
    ) == max(c for _, c in sel)
    # API level: restriction + aligned range = pure metadata (no scan)
    out = range_sum_pruned(
        spark, path, "k", "cents", lo=200, hi=299,
        where_partition=("b", 2),
    )
    assert out["scanned_partitions"] == 0 and out["meta_partitions"] == 1
    assert out["sum"] == sum(c for (k, _, c) in rows if 200 <= k <= 299)
    mm = range_minmax_pruned(
        spark, path, "k", "cents", lo=200, hi=299,
        where_partition=("b", 2),
    )
    assert mm["scanned_partitions"] == 0 and (mm["min"], mm["max"]) == (
        600,
        897,
    )
    # absent member: empty (SQL semantics), nothing scanned
    e = range_sum_pruned(
        spark, path, "k", "cents", lo=0, where_partition=("b", 404)
    )
    assert e["sum"] is None and e["scanned_partitions"] == 0


def test_range_group_counts(spark, tmp_path):
    from pathlib import Path

    from pandas_analysis_with_postgres_spark.sources.snapshot import (
        range_group_counts,
        write_snapshot,
    )

    rows = [(i, i // 100) for i in range(500)]
    df = spark.createDataFrame(rows, "k long, b long")
    path = str(tmp_path / "t")
    write_snapshot(df, path, "b", stats_cols=["k"])
    out = range_group_counts(spark, path, "k", lo=150, hi=449)
    # buckets: 1 boundary(50), 2,3 metadata(100), 4 boundary(50), 0 out
    assert out["groups"] == [(1, 50), (2, 100), (3, 100), (4, 50)]
    assert out["meta_partitions"] == 2 and out["scanned_partitions"] == 2
    # zero-data-page proof for the proven groups
    for f in Path(path).rglob("*.parquet"):
        if "b=2" in str(f) or "b=3" in str(f):
            f.unlink()
    out2 = range_group_counts(spark, path, "k", lo=150, hi=449)
    assert out2["groups"] == out["groups"]
    # a bucket whose boundary slice is empty produces NO group
    out3 = range_group_counts(spark, path, "k", lo=450, hi=460)
    assert out3["groups"] == [(4, 11)]
    # range on the partition column itself: never boundary
    for f in Path(path).rglob("*.parquet"):
        f.unlink()
    out4 = range_group_counts(spark, path, "b", lo=1, hi=3)
    assert out4["groups"] == [(1, 100), (2, 100), (3, 100)]
    assert out4["scanned_partitions"] == 0


def test_hybrid_tier_composes_with_time_travel(spark, tmp_path):
    from pandas_analysis_with_postgres_spark.sources.metadata_sql import (
        hybrid_range_count,
    )
    from pandas_analysis_with_postgres_spark.sources.snapshot import (
        merge_snapshot,
        write_snapshot,
    )

    rows = [(i, i // 100) for i in range(300)]
    df = spark.createDataFrame(rows, "k long, b long")
    path = str(tmp_path / "t")
    write_snapshot(df, path, "b", stats_cols=["k"])
    # v2 adds 10 rows inside the probed range
    merge_snapshot(
        path,
        spark.createDataFrame([(1000 + i, 1) for i in range(10)], "k long, b long"),
        "k",
        "b",
    )
    tables = {"t": path}

    def n(sql, **kw):
        out = hybrid_range_count(spark, sql, tables, **kw)
        return None if out is None else out.collect()[0][0]

    now = "SELECT COUNT(*) AS n FROM t WHERE k >= 150"
    assert n(now) == 150 + 10
    # SQL time travel pins v1; caller-side pin does the same
    assert n("SELECT COUNT(*) AS n FROM t FOR VERSION AS OF 1 WHERE k >= 150") == 150
    assert n(now, version=1) == 150
    # both at once is ambiguous and loud
    import pytest as _pt

    with _pt.raises(ValueError, match="pick one"):
        n("SELECT COUNT(*) AS n FROM t FOR VERSION AS OF 1 WHERE k >= 150",
          version=2)


def test_range_multi_pruned_one_shared_pass(spark, tmp_path):
    from pandas_analysis_with_postgres_spark.sources.snapshot import (
        range_multi_pruned,
    )

    rows = [(i, i // 100, i * 3 if i % 7 else None) for i in range(1000)]
    # bucket 99: the range column is NULL in every row — its recorded
    # [None, None, nulls] entry proves it contributes nothing to any item
    null_rows = [(None, 99, 5), (None, 99, None)]
    df = spark.createDataFrame(rows + null_rows, "k long, b long, cents long")
    path = str(tmp_path / "m")
    write_snapshot(df, path, "b", stats_cols=["k", "cents", "cents::sum"])
    items = [
        ("count", None), ("sum", "cents"), ("avg", "cents"),
        ("min", "cents"), ("max", "cents"), ("min", "k"),
    ]
    # every bucket but 99 fully inside: all metadata, bucket 99 neither
    # metadata nor scanned — its parquet can vanish
    for f in Path(path).rglob("*.parquet"):
        if "b=99" in str(f):
            f.unlink()
    full = range_multi_pruned(spark, path, "k", items, lo=0)
    nn_all = [c for _, _, c in rows if c is not None]
    assert full["values"] == [
        len(rows), (sum(nn_all), len(nn_all)), (sum(nn_all), len(nn_all)),
        min(nn_all), max(nn_all), 0,
    ]
    assert full["meta_partitions"] == 10
    assert full["scanned_partitions"] == 0
    out = range_multi_pruned(spark, path, "k", items, lo=250, hi=449)
    sel = [(k, c) for (k, _, c) in rows if 250 <= k <= 449]
    nn = [c for _, c in sel if c is not None]
    assert out["values"] == [
        len(sel), (sum(nn), len(nn)), (sum(nn), len(nn)),
        min(nn), max(nn), 250,
    ]
    assert out["meta_partitions"] == 1  # bucket 3 serves EVERY item
    assert out["scanned_partitions"] == 2
    # zero-data-page proof: the proven bucket's parquet can vanish
    for f in Path(path).rglob("*.parquet"):
        if "b=3" in str(f):
            f.unlink()
    again = range_multi_pruned(spark, path, "k", items, lo=250, hi=449)
    assert again["values"] == out["values"]
    # empty selection: SQL aggregate-over-nothing shapes
    e = range_multi_pruned(spark, path, "k", items, lo=5000, hi=6000)
    assert e["values"] == [0, (None, 0), (None, 0), None, None, None]


def test_range_multi_unprovable_item_scans_whole_partition(spark, tmp_path):
    # no cents::sum entry: the SUM item is unprovable everywhere, so
    # EVERY overlapping partition scans — for all items (one job) —
    # and the answer stays exact
    from pandas_analysis_with_postgres_spark.sources.snapshot import (
        range_multi_pruned,
    )

    rows = [(i, i // 100, i * 3) for i in range(500)]
    df = spark.createDataFrame(rows, "k long, b long, cents long")
    path = str(tmp_path / "u")
    write_snapshot(df, path, "b", stats_cols=["k"])
    out = range_multi_pruned(
        spark, path, "k",
        [("count", None), ("sum", "cents")], lo=150, hi=349,
    )
    sel = [c for (k, _, c) in rows if 150 <= k <= 349]
    assert out["values"] == [len(sel), (sum(sel), len(sel))]
    assert out["meta_partitions"] == 0
    assert out["scanned_partitions"] == 3  # buckets 1, 2, 3 all scan
    # count alone: the same buckets are pure metadata
    only = range_multi_pruned(
        spark, path, "k", [("count", None)], lo=150, hi=349,
    )
    assert only["values"] == [len(sel)]
    assert only["meta_partitions"] == 1 and only["scanned_partitions"] == 2


def test_range_group_multi_and_sql_tier(spark, tmp_path):
    from pandas_analysis_with_postgres_spark.sources.metadata_sql import (
        answer_from_manifest,
        hybrid_range_count,
    )
    from pandas_analysis_with_postgres_spark.sources.snapshot import (
        range_group_multi,
    )

    rows = [(i, i // 100, i * 3 if i % 7 else None) for i in range(1000)]
    # bucket 99: the range column is NULL in every row — proven to form
    # no group without a scan
    null_rows = [(None, 99, 5), (None, 99, None)]
    df = spark.createDataFrame(rows + null_rows, "k long, b long, cents long")
    path = str(tmp_path / "g")
    write_snapshot(df, path, "b", stats_cols=["k", "cents", "cents::sum"])
    items = [("count", None), ("sum", "cents"), ("min", "k")]
    for f in Path(path).rglob("*.parquet"):
        if "b=99" in str(f):
            f.unlink()
    full = range_group_multi(spark, path, "k", items, hi=999)
    assert full["meta_partitions"] == 10
    assert full["scanned_partitions"] == 0
    want_full = []
    for bkt in range(10):
        ks = [k for (k, bb, _c) in rows if bb == bkt]
        nn = [c for (_k, bb, c) in rows if bb == bkt and c is not None]
        want_full.append((bkt, [len(ks), (sum(nn), len(nn)), min(ks)]))
    assert full["groups"] == want_full  # no group for bucket 99
    out = range_group_multi(spark, path, "k", items, lo=250, hi=449)
    assert out["meta_partitions"] == 1 and out["scanned_partitions"] == 2
    got = {v: vals for v, vals in out["groups"]}
    for bkt in (2, 3, 4):
        sel = [(k, c) for (k, bb, c) in rows if bb == bkt and 250 <= k <= 449]
        nn = [c for _, c in sel if c is not None]
        assert got[bkt] == [len(sel), (sum(nn), len(nn)), min(k for k, _ in sel)]
    assert set(got) == {2, 3, 4}  # outside buckets produce NO group
    # zero-data-page proof for the interior group (bucket 3)
    for f in Path(path).rglob("*.parquet"):
        if "b=3" in str(f):
            f.unlink()
    again = range_group_multi(spark, path, "k", items, lo=250, hi=449)
    assert {v: vals for v, vals in again["groups"]} == got
    # SQL tier: GROUP BY + range WHERE parses, metadata refuses,
    # the grouped hybrid serves with typed aggregate columns
    sql = (
        "SELECT b, COUNT(*) AS n, SUM(cents) AS s, MIN(k) AS mn"
        " FROM t WHERE k BETWEEN 250 AND 449 GROUP BY b"
    )
    assert answer_from_manifest(spark, sql, {"t": path}) is None
    served = hybrid_range_count(spark, sql, {"t": path})
    assert {
        int(r.b): (r.n, r.s, r.mn) for r in served.collect()
    } == {v: (n, s[0], mn) for v, (n, s, mn) in again["groups"]}
    # ORDER BY <alias> LIMIT on the grouped hybrid: full group set is
    # assembled, so top-k orders locally (group-asc tie-break)
    topk = hybrid_range_count(
        spark, sql + " ORDER BY n DESC LIMIT 2", {"t": path}
    )
    ranked = sorted(
        ((n, v) for v, (n, _s, _mn) in again["groups"]),
        key=lambda t: (-t[0], t[1]),
    )[:2]
    assert [(r.n, int(r.b)) for r in topk.collect()] == ranked
    # ORDER BY a non-output column refuses
    assert hybrid_range_count(
        spark, sql + " ORDER BY zz DESC LIMIT 2", {"t": path}
    ) is None
    # sketch items under range + GROUP BY never parse
    from pandas_analysis_with_postgres_spark.sources.metadata_sql import (
        parse_metadata_select,
    )

    assert parse_metadata_select(
        "SELECT b, APPROX_COUNT_DISTINCT(k) AS d FROM t"
        " WHERE k > 5 GROUP BY b"
    ) is None

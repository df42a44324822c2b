"""Slowly Changing Dimension Type 2 — SURVEY §2.9 M3 (close-out) +
M4 (open new versions), the reference's SQL-14…SQL-16
(``dmCustomerProc.py:205-232``).

Reference semantics, re-derived keyed (its ``:214`` assignment is
index-aligned across two different frames — impossible on Spark, so the
close-out date travels through an explicit join on the business key):

1. *changed* = staged rows that are new or differ from the current
   history version (X1 → ``setops.changed_rows``).
2. *close-out* (M3): current rows (``is_current_record == 1``) whose key
   appears in *changed* get ``effective_to_date := changed.change_ts``,
   ``is_current_record := 0``, ``sys_effective_to_date := now``.
3. *open* (M4): each changed row becomes the new current version:
   ``effective_from_date := coalesce(change_ts, create_ts)`` (the
   reference's null-split/fix/recombine at ``:219-224`` collapses to one
   COALESCE), ``effective_to_date := NULL``, ``is_current_record := 1``,
   ``sys_effective_from_date := now``, ``sys_effective_to_date := NULL``.
4. Result = untouched history ∪ closed ∪ opened (U1).

Determinism: ``now`` is injected, never ``datetime.now()`` — the
reference stamps wall-clock 5× (``dmCustomerProc.py:15,192,200,226``),
which can never hash-match an oracle.

Invariants (property-tested, SURVEY §5.4): ≤1 current row per key;
validity intervals don't overlap; a closed row's ``effective_to_date``
equals its successor's ``effective_from_date``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .setops import changed_rows
from .windows import keep_first_dedup

#: Bookkeeping columns added/maintained by scd2_apply.
SCD2_COLS = (
    "effective_from_date",
    "effective_to_date",
    "is_current_record",
    "sys_effective_from_date",
    "sys_effective_to_date",
)


def scd2_apply(
    history: DataFrame,
    staged: DataFrame,
    key: str,
    *,
    change_ts_col: str,
    create_ts_col: str | None = None,
    now: Column,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Apply one SCD2 maintenance round; returns the full new history.

    ``staged`` carries business columns plus ``change_ts_col`` (the
    reference's ``udate_party``) and optionally ``create_ts_col``
    (``cdate_party``) used when the change timestamp is NULL.

    Scale: two joins on ``key`` (change detection + ONE close-out left
    join) and zero driver materialization. The close-out joins the
    current rows once against the *changed* keys and the hit marker
    rewrites the three close-out columns in place, so current history
    feeds one close-out join instead of two (an inner join for the
    closed rows plus an anti join for the untouched ones). The
    *changed* delta is typically a small fraction of history, and a
    left join builds its right side, so AQE can broadcast the delta
    into it. Non-current history is only filtered and unioned, never
    joined, so a date-partitioned 100 TB history table prunes to the
    current slice.
    """
    if compare_cols is None:
        compare_cols = [
            c
            for c in staged.columns
            if c != key and c not in SCD2_COLS and c in history.columns
        ]

    # The version timestamp: the change timestamp, falling back to the
    # create timestamp when it is NULL (the reference's :214 fallback).
    # It orders the dedup below, closes superseded rows (M3) and opens
    # their successors (M4) — one expression, so "closed.effective_to_date
    # == successor.effective_from_date" holds by construction.
    effective_ts = (
        F.coalesce(F.col(change_ts_col), F.col(create_ts_col))
        if create_ts_col
        else F.col(change_ts_col)
    )
    # Duplicate staged keys (several change events per key in one CDC
    # delta) would open multiple current versions and fan out the
    # close-out join, violating invariant I1 — keep only the latest
    # event per key, latest-change-ts first with the business columns as
    # a deterministic tiebreak.
    staged = keep_first_dedup(
        staged,
        key,
        [effective_ts.desc_nulls_last()]
        + [F.col(c).desc_nulls_last() for c in compare_cols],
    )

    current = history.filter(F.col("is_current_record") == 1)
    non_current = history.filter(F.col("is_current_record") != 1)

    changed = changed_rows(staged, current, key, compare_cols)

    # M3 — close out superseded current rows (dmCustomerProc.py:210-216).
    # One left join: a hit closes the row, a miss leaves it untouched.
    close_keys = changed.select(F.col(key).alias("__ck"), effective_ts.alias("__close_ts"))
    hit = F.col("__ck").isNotNull()
    current = (
        current.join(close_keys, current[key] == F.col("__ck"), "left")
        .withColumns(
            {
                "effective_to_date": F.when(hit, F.col("__close_ts")).otherwise(
                    F.col("effective_to_date")
                ),
                "is_current_record": F.when(hit, F.lit(0)).otherwise(
                    F.col("is_current_record")
                ),
                "sys_effective_to_date": F.when(hit, now).otherwise(
                    F.col("sys_effective_to_date")
                ),
            }
        )
        .drop("__ck", "__close_ts")
    )

    # M4 — open the new versions (dmCustomerProc.py:218-232).
    opened = changed.withColumns(
        {
            "effective_from_date": effective_ts,
            "effective_to_date": F.lit(None).cast("timestamp"),
            "is_current_record": F.lit(1),
            "sys_effective_from_date": now,
            "sys_effective_to_date": F.lit(None).cast("timestamp"),
        }
    )

    return non_current.unionByName(current).unionByName(
        opened, allowMissingColumns=True
    )


def scd2_merge_snapshot(
    path: str,
    staged: DataFrame,
    key: str,
    *,
    change_ts_col: str,
    create_ts_col: str | None = None,
    now: Column,
    n_buckets: int = 64,
    txn: tuple[str, int] | None = None,
    compare_cols: list[str] | None = None,
) -> int:
    """SCD2 maintenance ON the snapshot-table layer — the reference's
    SQL-14…16 intent (``dmCustomerProc.py:205-232``) landing in a
    versioned lakehouse table instead of a JDBC overwrite. Returns the
    committed version.

    History is partitioned by ``bucket = pmod(key, n_buckets)`` —
    STABLE per key, so every version of a key co-lives in one
    partition and one maintenance round touches only the buckets
    containing changed keys: read those partitions (manifest-pruned),
    run :func:`scd2_apply` against them, and commit the recomputed
    bucket contents via ``sources.snapshot.replace_partitions`` (an
    upsert-by-key merge cannot express close-outs, which REWRITE
    existing rows). Cold buckets are carried by reference — at 100 TB
    a delta touching 1% of keys reads and rewrites ~1% of history,
    with time travel / CDC / optimistic concurrency inherited from the
    commit protocol, and ``txn`` giving exactly-once under replays
    (the streaming foreachBatch shape).

    Choose ``n_buckets`` for partition-sized buckets at your scale; it
    is fixed at table bootstrap (a bucket count change is a rewrite).
    """
    from ..sources.snapshot import (
        current_version,
        read_manifest,
        read_snapshot,
        replace_partitions,
    )

    spark = staged.sparkSession
    staged_b = staged.withColumn(
        "bucket", F.pmod(F.col(key).cast("long"), F.lit(n_buckets))
    ).localCheckpoint(eager=False)
    parent = current_version(path)
    existing_parts = (
        set(read_manifest(path, parent)["partitions"]) if parent else set()
    )
    touched = {
        f"bucket={r[0]}"
        for r in staged_b.select("bucket").distinct().collect()
    }
    if parent == 0 or not (touched & existing_parts):
        # bootstrap, or every touched bucket is new to the table — no
        # history exists for these keys (read_snapshot would raise on
        # an all-pruned partition filter)
        history = staged_b.limit(0).withColumns(
            {
                "effective_from_date": F.lit(None).cast("timestamp"),
                "effective_to_date": F.lit(None).cast("timestamp"),
                "is_current_record": F.lit(0),
                "sys_effective_from_date": F.lit(None).cast("timestamp"),
                "sys_effective_to_date": F.lit(None).cast("timestamp"),
            }
        )
    else:
        history = read_snapshot(
            spark, path, parent, partition_filter=lambda p: p in touched
        )
    if compare_cols is None:
        skip = {key, "bucket", change_ts_col, create_ts_col}
        compare_cols = [c for c in staged.columns if c not in skip]
    new_history = scd2_apply(
        history,
        staged_b,
        key,
        change_ts_col=change_ts_col,
        create_ts_col=create_ts_col,
        now=now,
        compare_cols=compare_cols,
    )
    return replace_partitions(
        path, new_history, "bucket", expected_version=parent, txn=txn
    )

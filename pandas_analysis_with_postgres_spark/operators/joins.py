"""Join operators — SURVEY §2.4 (20 reference merges, 4 flavors).

The reference's ``pd.merge`` is always a single-threaded hash join in
script order. Here every join is declared and Catalyst + AQE pick the
physical algorithm; we add only *intent*: broadcast hints for dimension
lookups (J2-J4/J13/J15-J16), dedup-before-existence-join for the J9
fan-out hazard, and explicit cross-join for the intended semantics of
the reference's broken defaults join (J13, ``dmCustomerProc.py:145``).
"""

from __future__ import annotations

from collections.abc import Callable, Mapping

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def lookup_join(
    df: DataFrame,
    dim: DataFrame,
    on: str | list[str] | Column,
    how: str = "inner",
    *,
    broadcast: bool | None = None,
    rename: Mapping[str, str] | None = None,
    drop: list[str] | None = None,
) -> DataFrame:
    """Dimension lookup join (reference J1-J4/J15-J18).

    ``broadcast=None`` (the default) adds no hint: Catalyst still
    auto-broadcasts dims under ``autoBroadcastJoinThreshold`` and AQE
    re-plans at runtime from real sizes, so a caller who joins a
    not-actually-small "dim" gets a SortMergeJoin instead of a forced
    broadcast OOM. Pass ``broadcast=True`` only for dims *known* small
    (the reference's region/nation lookups do) — the hint then holds
    even where file-level stats are missing, and the fact side never
    shuffles: at 100 TB it streams map-side past an in-memory copy of
    the dim. The reference instead hash-joins everything
    single-threaded (``dmCustomerProc.py:30-44,173-181``).

    ``rename`` disambiguates collision-prone dim columns *before* the
    join (reference P2, ``dmCustomerProc.py:23-28``) — Spark has no
    pandas-style ``_x``/``_y`` auto-suffixing, which is a feature: the
    collision becomes an explicit, reviewable alias.
    """
    if rename:
        dim = dim.withColumnsRenamed(dict(rename))
    right = F.broadcast(dim) if broadcast else dim
    out = df.join(right, on, how)
    if drop:
        out = out.drop(*drop)
    return out


def existence_flag_join(
    df: DataFrame,
    keys: DataFrame,
    left_key: str,
    right_key: str,
    flag_name: str,
    *,
    broadcast: bool = True,
) -> DataFrame:
    """Left-join existence flag (reference J9/J11/J12,
    ``dmCustomerProc.py:69,86,94``) with the fan-out hazard fixed.

    The reference left-joins a *non-deduped* membership table and then
    flags ``notnull`` — duplicate right keys silently multiply left rows
    (J9 hazard, SURVEY §2.4). The intended semantics is EXISTS: here the
    right side is reduced to ``distinct`` keys first, so the left
    cardinality is provably preserved.

    ``broadcast`` (default True) suits membership tables whose distinct
    key set is dim-scale. When ``keys`` is a fact-scale table (e.g.
    flagging customers by the orders fact), pass ``broadcast=False`` —
    the distinct key set can exceed driver/executor memory, and the
    unhinted plan becomes a shuffle join AQE is free to re-plan.
    """
    hit = f"__{flag_name}_hit"
    marker = (
        keys.select(F.col(right_key).alias(left_key))
        .distinct()
        .withColumn(hit, F.lit(1))
    )
    out = df.join(F.broadcast(marker) if broadcast else marker, left_key, "left")
    # One projection: the flag replaces a same-named column in place or
    # is appended, and the marker is dropped.
    flag = (
        F.when(F.col(hit).isNotNull(), F.lit(1)).otherwise(F.lit(0)).alias(flag_name)
    )
    cols = [flag if c == flag_name else F.col(c) for c in out.columns if c != hit]
    if flag_name not in out.columns:
        cols.append(flag)
    return out.select(*cols)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    by: str,
    left_ts: str,
    right_ts: str,
    right_cols: Mapping[str, str],
    tiebreak: str | None = None,
) -> DataFrame:
    """Time-series as-of join: for each left row, attach the most
    recent right row of the same ``by`` key with ``right_ts <=
    left_ts`` (inclusive). The operator Spark's join zoo lacks; a
    range-join (``right_ts <= left_ts``) explodes to all earlier rows
    and re-aggregates — quadratic per key.

    Distributed idiom instead: tag and union both sides, then one
    window pass per key carries the latest right payload forward
    (``F.last(..., ignorenulls=True)`` over rows-unbounded-preceding)
    and left rows read it. ONE shuffle on ``by``, zero joins, linear
    work — the same shape a 100 TB backfill of "state at event time"
    wants.

    ``right_cols`` maps right column → output name. ``tiebreak``
    orders equal-timestamp right rows (latest wins); required for
    determinism if (key, ts) repeats on the right.
    """
    rsel = [F.col(c).alias(out) for c, out in right_cols.items()]
    r = right.select(
        F.col(by).alias("__key"),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__is_left"),
        (F.col(tiebreak) if tiebreak else F.lit(0)).alias("__tie"),
        *rsel,
        *[F.lit(None).cast(dict(left.dtypes)[c]).alias(f"__l_{c}") for c in left.columns],
    )
    l = left.select(
        F.col(by).alias("__key"),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__is_left"),
        F.lit(0).alias("__tie"),
        *[F.lit(None).cast(dict(r.dtypes)[out]).alias(out) for out in right_cols.values()],
        *[F.col(c).alias(f"__l_{c}") for c in left.columns],
    )
    # Right rows sort before left rows at equal ts → inclusive <=.
    w = (
        Window.partitionBy("__key")
        .orderBy("__ts", "__is_left", "__tie")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = l.unionByName(r).select(
        "*",
        *[
            F.last(out, ignorenulls=True).over(w).alias(f"__c_{out}")
            for out in right_cols.values()
        ],
    )
    return carried.filter(F.col("__is_left") == 1).select(
        *[F.col(f"__l_{c}").alias(c) for c in left.columns],
        *[F.col(f"__c_{out}").alias(out) for out in right_cols.values()],
    )


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    key: str,
    *,
    how: str = "inner",
    salt: int = 8,
) -> DataFrame:
    """Skew-mitigating equi-join: hot keys on the skewed side are spread
    over ``salt`` sub-partitions; the other side is replicated ``salt``×
    so every sub-partition still finds its matches.

    Use when one join key dominates (a single shuffle partition holds
    the hot key's entire payload and one task runs for hours) and the
    other side is too big to broadcast — the gap AQE's skew-join
    splitting doesn't cover when the skewed side must also aggregate
    downstream. Salt is derived deterministically from the full skewed
    row (``xxhash64``), never ``rand()``: task retries must re-produce
    the same salt or results change under failure.

    Cost model: ``other`` shuffles ``salt``× its size — keep ``salt``
    at the ratio hot-partition/target-partition, not higher.

    Only ``inner`` and ``left`` are supported: the right side is
    replicated ``salt``×, so ``right``/``full`` would emit each
    unmatched right row ``salt`` times.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports how='inner'|'left', got {how!r}: the "
            "replicated right side would duplicate unmatched right rows"
        )
    salted_left = skewed.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in skewed.columns]), F.lit(salt))
    )
    replicated_right = other.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    ).withColumn("__salt", F.col("__salt").cast("long"))
    return salted_left.join(replicated_right, [key, "__salt"], how).drop("__salt")


def auto_salted_join(
    skewed: DataFrame,
    other: DataFrame,
    key: str,
    *,
    how: str = "inner",
    skew_factor: float = 4.0,
    max_salt: int = 64,
) -> DataFrame:
    """`salted_join` with the salt chosen from a measured key profile —
    the q78_key_skew_profile → salt wiring as one operator.

    One cheap profiling aggregate over the skewed side (groupBy(key)
    count → max/sum — map-side combinable, output is two longs) gives
    ``hot`` (rows under the heaviest key) and ``total``. With
    ``target = total / shuffle_partitions`` rows per task:

    - ``hot <= skew_factor · target`` → the heaviest key does not
      dominate a task → degrade to a PLAIN join (no replication cost);
    - otherwise salt = ``ceil(hot / target)`` clamped to
      [2, max_salt] — exactly the hot/target-partition ratio the
      `salted_join` cost model prescribes, so the hot key's payload
      spreads back down to ~one task's worth per sub-partition.

    The two-long profile collect is a driver-side *plan decision* (the
    same shape as AQE's runtime statistics), not data movement; at
    100 TB the profile pass is one map-combined shuffle of (key,count)
    — amortize it by caching the profile when joining the same fact
    side repeatedly.
    """
    import math

    spark = skewed.sparkSession
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    prof = (
        skewed.groupBy(key)
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("hot"), F.sum("n").alias("total"))
        .collect()[0]
    )
    hot, total = prof["hot"] or 0, prof["total"] or 0
    target = max(1, total // max(1, parts))
    if hot <= skew_factor * target:
        return skewed.join(other, key, how)
    salt = max(2, min(max_salt, math.ceil(hot / target)))
    return salted_join(skewed, other, key, how=how, salt=salt)


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    *,
    point_col: str,
    start_col: str,
    end_col: str,
    bucket: Callable[[Column], Column],
    how: str = "inner",
) -> DataFrame:
    """Interval-containment join (``start <= point <= end``) without the
    nested-loop trap.

    Spark plans a raw BETWEEN join as BroadcastNestedLoopJoin (or a
    CartesianProduct when neither side broadcasts) — every point against
    every interval, the classic 100 TB scale-killer. Bucket blocking
    instead: each interval is exploded to the coarse buckets it spans
    (``F.sequence`` — one row per covered bucket), each point computes
    its single bucket, and an *equi*-join on the bucket feeds an exact
    containment filter. Work is ∝ points + intervals × span/bucket +
    true matches; a point's bucket appears once per covering interval,
    so no dedup pass is needed.

    ``bucket`` is an expression mapping a point/boundary value to a
    bucket ordinal (e.g. ``F.unix_date`` for day buckets over dates) —
    choose a granularity near the typical interval span: finer buckets
    replicate intervals more, coarser buckets widen the candidate set.

    ``how='left'`` keeps points with no covering interval (NULL
    interval columns) via an anti-join union — the replicated-bucket
    shape cannot express left-outer directly.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"range_join supports how='inner'|'left', got {how!r}")
    p = points.withColumn("__pb", bucket(F.col(point_col)))
    iv = intervals.withColumn(
        "__pb",
        F.explode(
            F.sequence(bucket(F.col(start_col)), bucket(F.col(end_col)))
        ),
    )
    matched = (
        p.join(iv, "__pb")
        .filter(F.col(point_col).between(F.col(start_col), F.col(end_col)))
        .drop("__pb")
    )
    if how == "inner":
        return matched
    missed = p.drop("__pb").join(
        matched.select(*points.columns), points.columns, "left_anti"
    )
    for c in intervals.columns:
        missed = missed.withColumn(c, F.lit(None).cast(dict(intervals.dtypes)[c]))
    return matched.unionByName(missed)


def cross_join_defaults(df: DataFrame, defaults: DataFrame) -> DataFrame:
    """Broadcast a tiny defaults frame onto every row (intended
    semantics of reference J13, ``dmCustomerProc.py:145`` — the
    ``left_on=[1]`` there is a KeyError bug; the surviving intent is a
    cross join of system-default flags onto each customer, then
    per-column COALESCE, SURVEY §2.4 J13 / §2.2 P8).

    ``defaults`` must be small (typically a 1-row aggregate);
    broadcasting makes the cross join a map-side operation.
    """
    return df.crossJoin(F.broadcast(defaults))


def bloom_prefiltered_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    *,
    num_bits: int = 1 << 20,
) -> DataFrame:
    """Inner join with a Bloom-filter prefilter on the big side.

    The scale trick for joining a huge fact stream against a selective
    small side: build the ≤m-row bit-position frame from the small
    side's keys (`sketches.bloom_build`), broadcast it, and drop big-
    side rows that cannot match BEFORE the join shuffles them (one
    LEFT SEMI join per hash position — a row survives iff every
    position is set). False positives merely ride through to the exact
    join (which discards them); false negatives are impossible, so the
    result is exactly the plain inner join — only the shuffled volume
    changes. The manual, composable analog of runtime row-filter
    pushdown; worth it when the small side is selective (≲ a few % of
    big-side keys survive) and the big side would otherwise shuffle
    terabytes.

    Two load-bearing plan details, both measured at sf0.1:

    - The positions frame is ``localCheckpoint``-ed: the K broadcast
      subtrees carry per-position aliases, so ReuseExchange does not
      collapse them and the build would otherwise re-execute K times.
      The frame is ≤m rows, so eager materialization is the cluster
      "build once, broadcast everywhere" shape.
    - The mixed hash sits behind a nondeterministic no-op barrier
      (``shuffle(array(h))[0]`` — one element, value unchanged).
      Without it, the semi joins' inferred isnotnull constraints
      substitute the full mixer chain into the scan filter K times;
      the resulting expression overruns codegen and the probe runs
      interpreted (6.5 s vs 1.6 s for the identical result). The
      barrier stops constraint pushdown at the projection, which is
      exactly where the work should sit.
    """
    from .sketches import _bloom_positions_from_mixed, bloom_build, strong_mix

    # __h/__p{j} are reserved scratch names on the big side for the
    # duration of the prefilter; clobbering a caller's same-named
    # column would silently corrupt results, so refuse loudly.
    reserved = {"__h"} | {c for c in big.columns if c.startswith("__p")}
    if "__h" in big.columns or any(c.startswith("__p") for c in big.columns):
        raise ValueError(
            f"big side carries reserved scratch columns {sorted(reserved)}: "
            "rename them before bloom_prefiltered_join (__h and __p* are "
            "used for the hash/position probes)"
        )
    # num_bits sizes the filter: FPR ≈ (set-bits/m)^K, so pick
    # ~10 bits per expected small-side key (the 1M-bit default holds
    # ~100k keys at low FPR; a saturated filter stays correct but
    # stops dropping rows). The positions frame is ≤m rows of one int
    # — broadcastable at any reasonable m.
    bloom = bloom_build(
        small.select(small_key), small_key, m=num_bits
    ).localCheckpoint()
    pre = big.withColumn(
        "__h", F.shuffle(F.array(strong_mix(F.col(big_key))))[0]
    )
    positions = _bloom_positions_from_mixed(F.col("__h"), num_bits)
    for j, c in enumerate(positions):
        pre = pre.withColumn(f"__p{j}", c).join(
            F.broadcast(bloom.select(F.col("pos").alias(f"__p{j}"))),
            f"__p{j}",
            "left_semi",
        )
    pre = pre.drop("__h", *[f"__p{j}" for j in range(len(positions))])
    if big_key == small_key:
        # Same-name keys: join on the name so the result carries ONE
        # unambiguous key column (the two-ambiguous-columns trap).
        return pre.join(small, big_key)
    return pre.join(small, pre[big_key] == small[small_key])

"""Relational operators beyond plain select/filter/join.

The reference has NO joins, sorts, set ops, or top-k (SURVEY.md §2.3) —
only a hand-rolled 2-stream align pattern
(affo/ssp engine_test.go:558-590). Everything here is the
Spark-native surface that subsumes it, with scale notes per operator.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from ssp_spark.operators import layout


def top_k_per_group(
    df: DataFrame,
    partition_cols: list[str],
    order_cols: list[Column],
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """Deterministic per-group top-k via row_number.

    Scale note: Spark plans rank<=k filters over window functions with a
    WindowGroupLimit (partial top-k before the shuffle), so this does NOT
    materialize full partitions at 100 TB. Callers must include a unique
    tiebreaker in order_cols for determinism.
    """
    w = Window.partitionBy(*partition_cols).orderBy(*order_cols)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(F.col(rank_col) <= k)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    right_value_cols: list[str],
    how: str = "inner",
    direction: str = "backward",
    tolerance: str | None = None,
) -> DataFrame:
    """As-of join: for each left row, the latest right row with
    right_ts <= left_ts (direction='backward', default) or the earliest
    with right_ts >= left_ts (direction='forward'), within the same
    ``on`` key; ``tolerance`` (a SQL interval string like '7 days')
    additionally bounds the time gap, un-matching rows beyond it.

    Spark has no built-in as-of join; the naive form is a range self-join
    (quadratic per key). This implementation is the union-and-carry
    pattern: tag both sides, sort within key by (ts, side), and carry the
    nearest right values across with last/first(..., ignorenulls=True).
    Cost: ONE shuffle on the key (the window partitionBy) — linear, no
    pairwise blow-up, safe at 100 TB as long as single keys fit a
    partition (salt upstream if one key dominates). The tolerance check
    is a post-carry projection — no extra join.

    Equivalent capability in the reference: the "Align" user pattern
    (affo/ssp engine_test.go:558-590, README.md:140-205), which
    pairs two streams in arrival order; as-of is its event-time analogue.
    """
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")
    backward = direction == "backward"
    # side ordering puts qualifying equal-ts right rows on the carried
    # side of the left row: before it for backward (<=), after for
    # forward (>=)
    l_side, r_side = (1, 0) if backward else (0, 1)
    lt = left.withColumn("__t", F.col(left_ts)).withColumn("__side", F.lit(l_side))
    rt = right.withColumn("__t", F.col(right_ts)).withColumn("__side", F.lit(r_side))

    ts_type = right.schema[right_ts].dataType
    l_cols = [c for c in left.columns]
    merged = lt.select(
        *on,
        "__t",
        "__side",
        *[F.col(c).alias(f"__l_{c}") for c in l_cols if c not in on],
        F.lit(None).cast(ts_type).alias("__rt"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}") for c in right_value_cols],
    ).unionByName(
        rt.select(
            *on,
            "__t",
            "__side",
            *[F.lit(None).cast(left.schema[c].dataType).alias(f"__l_{c}") for c in l_cols if c not in on],
            F.col("__t").alias("__rt"),
            *[F.col(c).alias(f"__r_{c}") for c in right_value_cols],
        )
    )

    base_w = Window.partitionBy(*on).orderBy(F.col("__t"), F.col("__side"))
    if backward:
        w = base_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)

        def carry(c):
            return F.last(c, ignorenulls=True).over(w)

    else:
        w = base_w.rowsBetween(Window.currentRow, Window.unboundedFollowing)

        def carry(c):
            return F.first(c, ignorenulls=True).over(w)

    carried_cols = ["__rt", *[f"__r_{c}" for c in right_value_cols]]
    carried = merged.select(
        *on,
        "__t",
        "__side",
        *[F.col(f"__l_{c}") for c in l_cols if c not in on],
        *[carry(F.col(c)).alias(c) for c in carried_cols],
    )
    out = carried.filter(F.col("__side") == l_side)
    if tolerance is not None:
        bound = (
            F.col("__rt") >= F.col("__t") - F.expr(f"INTERVAL {tolerance}")
            if backward
            else F.col("__rt") <= F.col("__t") + F.expr(f"INTERVAL {tolerance}")
        )
        # beyond tolerance = no match: null the carried right columns
        out = out.select(
            *on,
            "__t",
            "__side",
            *[F.col(f"__l_{c}") for c in l_cols if c not in on],
            *[
                F.when(bound, F.col(c)).otherwise(F.lit(None)).alias(c)
                for c in carried_cols
            ],
        )
    if how == "inner":
        # Matched-ness is "a right row was carried", i.e. the carried right
        # TIMESTAMP is non-null — not any value column's nullity (a matched
        # right row may legitimately carry NULL values; the tolerance
        # branch nulls __rt together with the value columns, so
        # out-of-window rows drop here too).
        out = out.filter(F.col("__rt").isNotNull())
    return out.select(
        *on,
        *[F.col(f"__l_{c}").alias(c) for c in l_cols if c not in on],
        *[F.col(f"__r_{c}").alias(c) for c in right_value_cols],
    )


def range_join_bands(
    df: DataFrame,
    value_col: str,
    bands: DataFrame,
    lo_col: str = "lo",
    hi_col: str = "hi",
) -> DataFrame:
    """Join rows to a small bands table on lo <= value < hi.

    The bands side is broadcast explicitly: Spark would otherwise plan a
    non-equi join as BroadcastNestedLoopJoin anyway, but the hint makes the
    intent (and the 100 TB safety: big side never shuffles) explicit.
    """
    cond = (F.col(value_col) >= bands[lo_col]) & (F.col(value_col) < bands[hi_col])
    return df.join(F.broadcast(bands), cond, "left")


def interval_overlap_join(
    a: DataFrame,
    b: DataFrame,
    keys: list[str],
    a_start: str,
    a_end: str,
    b_start: str,
    b_end: str,
    bucket_width: int = 64,
) -> DataFrame:
    """Overlap join of two INTEGER-interval sets, both sides large.

    Spark plans a raw ``s1 <= e2 AND s2 <= e1`` predicate as a
    nested-loop join (per-key cartesian when equi-keys exist, full
    cartesian otherwise) — quadratic at scale. The scalable shape is
    fixed-width bucket blocking: each interval explodes into the
    buckets it spans (span/bucket_width + 1 rows, a small constant for
    width ~ typical interval length), the join is an EQUI-join on
    (keys..., bucket), and each qualifying pair is emitted exactly once
    without a distinct pass — only the bucket containing
    ``max(a_start, b_start)`` (the overlap's left edge, which both
    sides provably explode) keeps the pair. Shuffle volume is
    O(n · avg_span/width); per-bucket skew is bounded by the width knob
    (a hot bucket at scale gets the salted-join treatment on top).

    Interval contract: starts/ends are integers (days, epoch seconds —
    caller's unit), inclusive on both ends; intervals with end < start
    never match.
    """
    ab = a.withColumn(
        "__bk",
        F.explode(
            F.sequence(
                F.floor(F.col(a_start) / bucket_width),
                F.floor(F.col(a_end) / bucket_width),
            )
        ),
    )
    bb = b.withColumn(
        "__bk",
        F.explode(
            F.sequence(
                F.floor(F.col(b_start) / bucket_width),
                F.floor(F.col(b_end) / bucket_width),
            )
        ),
    )
    overlap = (F.col(a_start) <= F.col(b_end)) & (F.col(b_start) <= F.col(a_end))
    left_edge_bucket = F.floor(F.greatest(F.col(a_start), F.col(b_start)) / bucket_width)
    return (
        ab.join(bb, keys + ["__bk"])
        .filter(overlap & (F.col("__bk") == left_edge_bucket))
        .drop("__bk")
    )


def merge_upsert(
    base: DataFrame,
    changes: DataFrame,
    keys: list[str],
    delete_col: str | None = None,
) -> DataFrame:
    """Batch SCD-1 MERGE: apply a changes table to a base table —
    matching keys are replaced by the change row (last-writer-wins),
    unmatched base rows carry over, and rows flagged in ``delete_col``
    (if given) are removed. The engine-level primitive behind warehouse
    `MERGE INTO`; also exactly the per-batch merge the streaming
    upsert_parquet_sink performs, exposed as a reusable batch operator.

    Plan: one left_anti join on the keys (base rows not touched by any
    change) + union with the non-delete change rows. Each side shuffles
    at most once on the key; when the changes side is small Catalyst
    broadcasts the anti join and the base never shuffles at all — the
    common CDC case at 100 TB (big base, small delta). No window, no
    full-table sort.

    ``changes`` must carry the full base schema (plus the optional
    delete flag) and AT MOST ONE ROW PER KEY — the compacted-CDC
    contract (a multi-row delta must be reduced to last-per-key first,
    or the union below would emit duplicates). Relying on that contract
    lets the key set skip a distinct: left_anti is duplicate-insensitive
    anyway, so the merge plans with ZERO exchanges when the delta
    broadcasts.
    """
    chg = changes
    if delete_col is not None:
        upserts = chg.filter(~F.col(delete_col)).drop(delete_col)
    else:
        upserts = chg
    keep = base.join(chg.select(*keys), keys, "left_anti")  # deletes suppress too
    return keep.unionByName(upserts)


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str],
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigated equi-join: spread each hot key over ``n_salts``
    reducers.

    The big side gets a deterministic salt derived from the full row
    (xxhash64 % n_salts — deterministic under task retries, unlike
    rand()); the small side is exploded n_salts ways so every
    (key, salt) combination still matches. Each hot key's rows then land
    on n_salts different reducers instead of one.

    Use when ONE key dominates (power-law keys at 100 TB) and the small
    side is too big to broadcast. For moderate skew prefer AQE's
    skew-join splitting (on by default in session.py) — it costs nothing
    when skew is absent, while salting always pays the n_salts-way
    duplication of the small side.

    Supports big-side-preserving joins (inner/left); for right/full the
    duplication would double-count unmatched small rows.
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports how in ('inner','left')")
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(n_salts))
    big_s = big.withColumn("__salt", salt)
    small_s = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)).cast("array<long>"))
    )
    return big_s.join(small_s, [*on, "__salt"], how).drop("__salt")


def skyline_min_max(
    df: DataFrame,
    minimize: str,
    maximize: str,
    n_shards: int = 32,
) -> DataFrame:
    """2-D skyline (Pareto frontier): rows not dominated under (minimize
    ``minimize``, maximize ``maximize``) — q dominates p when q is <= on
    the minimized column, >= on the maximized one, and strictly better
    on at least one. Ties on BOTH columns are mutually non-dominating
    (all duplicates kept). Borzsony et al., ICDE'01.

    Plan (the distributed shape, NOT the n² dominance join): range-shard
    on the minimized column via layout.exact_range_boundaries — shard
    membership is (b_{i-1}, b_i], so equal values never straddle shards
    and every row in a lower shard is STRICTLY cheaper than every row in
    a higher one. Then dominance decomposes exactly:

      M1(p) = max over {minimize <  p}  -> per-shard RANGE window
              (strict frame) ⊔ carry-in from lower shards
      M2(p) = max over {minimize <= p}  -> same, inclusive frame
      p dominated  <=>  M1 >= p.max_col  OR  M2 > p.max_col

    The carry-in is the per-shard max of the maximized column — an
    (n_shards+1)-value model artifact collected once, prefix-maxed on
    the driver, and compiled back in as an array-literal lookup (NOT a
    join: Catalyst's constraint inference substitutes the shard alias's
    higher-order filter expression into join-side predicates and fails
    to bind it — INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND on Spark 4.1; the
    literal lookup also costs zero exchanges). One range-partitioned
    window exchange, shard-local windows, zero global sorts: the
    100 TB shape.
    """
    # The strict-less frame below is rangeBetween(unboundedPreceding, -1)
    # — "current minimize value minus 1" only expresses `minimize < p`
    # when the column is integral (a fractional q.min in (p.min-1, p.min)
    # would fall OUT of the strict frame, missing a dominator). Enforce
    # the assumption the way dedup's packed-id contract does rather than
    # silently returning a too-large frontier on doubles/decimals.
    if dict(df.dtypes)[minimize] not in {"tinyint", "smallint", "int", "bigint"}:
        raise ValueError(
            "skyline_min_max requires an integral minimize column "
            "(strict-less RANGE frame is offset -1); scale fractional "
            "values to integers (e.g. cents) first"
        )
    dtype = dict(df.dtypes)[maximize]
    bounds = layout.exact_range_boundaries(df, minimize, n_shards)
    p = df.withColumn("__shard", layout.shard_expr(minimize, bounds))
    shard_max = {
        r["__shard"]: r["mx"]
        for r in p.groupBy("__shard").agg(F.max(maximize).alias("mx")).collect()
    }
    carry, best = [], None
    for s in range(n_shards + 1):
        carry.append(best)
        m = shard_max.get(s)
        best = m if best is None else (best if m is None else max(best, m))
    carry_arr = F.array(*[F.lit(c).cast(dtype) for c in carry])
    w_lt = (
        Window.partitionBy("__shard")
        .orderBy(minimize)
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_le = (
        Window.partitionBy("__shard")
        .orderBy(minimize)
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    scored = (
        p.withColumn("__m1l", F.max(maximize).over(w_lt))
        .withColumn("__m2l", F.max(maximize).over(w_le))
        .withColumn("__carry", F.element_at(carry_arr, F.col("__shard") + 1))
    )
    m1 = F.greatest(F.col("__m1l"), F.col("__carry"))  # greatest skips NULLs
    m2 = F.greatest(F.col("__m2l"), F.col("__carry"))
    dominated = (m1 >= F.col(maximize)) | (m2 > F.col(maximize))
    return scored.filter(~F.coalesce(dominated, F.lit(False))).select(df.columns)

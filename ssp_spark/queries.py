"""The declared query set: every operator from SURVEY.md §2 (and the §6
training-pipeline extensions) as a (spark_callable, oracle_sql) pair.

Contract (driver): each callable takes (spark, sf_dir) and returns a
DataFrame; oracle_sql is ANSI SQL DuckDB runs over the same parquet
views. Column names AND types are aligned on both sides; computed floats
are rounded identically; timestamps are exported as epoch integers so
results are timezone-representation-free.

Cross-engine determinism rules used throughout:
- md5-derived 60-bit hashes (functions.portable_hash64) — identical hex
  in Spark `conv(substr(md5,1,15),16,10)` and DuckDB `('0x'||...)::BIGINT`.
- array math in index order (zip_with/aggregate vs list_dot_product) —
  bit-identical IEEE doubles.
- every top-k/limit carries a unique-key tiebreaker.
- DuckDB `sum(int)` returns HUGEINT and `len()` BIGINT — oracle SQL casts
  to match Spark's long/int output types.
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ssp_spark.catalog import load_table
from ssp_spark.functions import cosine, portable_hash64, shingles, tokens
from ssp_spark.operators import (
    cluster,
    dedup,
    diagnostics,
    privacy,
    recurrence,
    fuzzy,
    graph,
    layout,
    linalg,
    packing,
    relational,
    similarity,
    text,
    windows,
)

SparkQuery = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, SparkQuery] = {}
ORACLE: dict[str, str] = {}

# Per-session model-artifact cache (IVF codebooks): collected once per
# (session, dataset), weak-keyed so stopped sessions drop their entries —
# same lifetime rule as catalog._DF_CACHE.
import os as _os  # noqa: E402
import weakref as _weakref  # noqa: E402

_IVF_CODEBOOKS: "_weakref.WeakKeyDictionary[SparkSession, dict]" = (
    _weakref.WeakKeyDictionary()
)

# Per-session derived-artifact cache (checkpointed shared frames such as
# the model-eval trio's scored embeddings and their rank pass): keyed by
# (artifact, abspath(sf_dir)), weak-keyed by session like _IVF_CODEBOOKS
# so a stopped session's pinned checkpoint blocks are never handed to a
# new one. Rationale: four registry queries (roc_auc / calibration /
# lift / isotonic) consume the SAME scored frame and the SAME exact
# global rank; unmemoized, each paid the rank pass's approxQuantile
# sketch + offsets collect (measured as ~half the query) plus its own
# localCheckpoint of identical bytes.
_ARTIFACTS: "_weakref.WeakKeyDictionary[SparkSession, dict]" = (
    _weakref.WeakKeyDictionary()
)


def _session_memo(spark: SparkSession, key: tuple, build: Callable):
    per_session = _ARTIFACTS.setdefault(spark, {})
    if key not in per_session:
        per_session[key] = build()
    return per_session[key]


def release_session_artifacts(spark: SparkSession) -> int:
    """Forget this session's memoized derived artifacts (the
    checkpointed shared frames in _ARTIFACTS) and drop EVERY pinned RDD
    block in the session, so long-running processes (bench.py between
    suite sections — VERDICT r12 #4; SCALE.md round 12 measured 100-300
    MB of localCheckpoint blocks per pair artifact at sf1 degrading
    late samples up to 7x under GC pressure) can reclaim block-manager
    memory at a clean boundary. Returns the number of memoized
    artifacts released.

    Order matters: the memo is cleared FIRST so no live reference to a
    lineage-truncated (localCheckpoint) frame survives the block drop —
    every other cached frame (catalog._DF_CACHE scans, IVF centroid
    frames) keeps its lineage and recomputes transparently. The next
    consumer rebuilds its artifact, exactly as the first one did."""
    import gc

    per_session = _ARTIFACTS.pop(spark, None) or {}
    n = len(per_session)
    per_session.clear()
    # drop py4j refs so finalizers release their JVM-side RDDs, then
    # unpersist whatever blocks remain pinned (localCheckpoint RDDs,
    # leaked .persist() frames)
    gc.collect()
    try:
        for rdd in list(
            spark.sparkContext._jsc.getPersistentRDDs().values()
        ):
            rdd.unpersist()
    except Exception:
        pass
    return n


def _minhash_pairs_artifact(spark: SparkSession, sf_dir: str) -> "DataFrame":
    """The materialized near-dup pair table (minhash_lsh_pairs at the
    standard 12-hash / 4-band config) as a per-(session, sf_dir)
    artifact. In a real pipeline the dedup stage's pair list is written
    ONCE and every downstream stage (cluster labeling, keeper
    selection, leakage-safe splitting, curation manifests) reads that
    materialization — re-deriving shingles+signatures+banding per
    consumer is the anti-pattern. Same session-memo contract as
    _scored_embeddings / the IVF codebook. dedup_minhash_lsh itself
    does NOT consume this (it is the row that measures BUILDING the
    artifact); only downstream stages do."""

    def build() -> DataFrame:
        docs = load_table(spark, "documents", sf_dir)
        return dedup.minhash_lsh_pairs(
            docs, num_hashes=12, bands=4
        ).localCheckpoint()

    return _session_memo(
        spark, ("minhash_pairs_12_4", _os.path.abspath(sf_dir)), build
    )


def _fuzzy_part_name_pairs_artifact(spark: SparkSession, sf_dir: str) -> "DataFrame":
    """The materialized fuzzy-match pair table over distinct part names
    (q-gram blocked + levenshtein-verified at the standard d=2 / q=2
    config) as a per-(session, sf_dir) artifact — the
    _minhash_pairs_artifact contract applied to the entity-resolution
    family: in a real pipeline the blocking+verify stage's pair list is
    written ONCE and every downstream stage (connected components,
    canonicalization, survivorship) reads that materialization;
    re-deriving grams+index+verify per consumer is the anti-pattern.
    fuzzy_name_pairs itself does NOT consume this (it is the row that
    measures BUILDING the artifact); downstream stages
    (entity_resolution_parts) join it to their id space. Rows are
    (id1, id2, s1, s2, dist) keyed by the distinct NAME (fuzzy_pairs
    dedups strings at ingest), already localCheckpoint-ed by
    fuzzy_pairs."""

    def build() -> DataFrame:
        part = load_table(spark, "part", sf_dir)
        return fuzzy.fuzzy_pairs(
            part, id_col="p_name", str_col="p_name", max_dist=2, q=2
        )

    return _session_memo(
        spark, ("fuzzy_part_name_pairs_d2_q2", _os.path.abspath(sf_dir)), build
    )


def _q(name: str, oracle: str):
    def deco(fn: SparkQuery) -> SparkQuery:
        QUERIES[name] = fn
        ORACLE[name] = oracle
        return fn

    return deco


# Shared DuckDB SQL fragments -------------------------------------------------

# tokens / n-gram shingles, replicating functions.tokens / functions.shingles
_SQL_TOKS = r"SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t FROM documents"


def _sql_shingles(n: int) -> str:
    gram = " || ' ' || ".join(f"t[i+{j}]" if j else "t[i]" for j in range(n))
    return rf"""
toks AS ({_SQL_TOKS}),
sh AS (
  SELECT DISTINCT doc_id, {gram} AS sh
  FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(t)-{n - 1}, 0))) AS i) u
)"""


_SQL_SHINGLES = _sql_shingles(3)


def _sql_doc_bytes(n: int) -> str:
    """The codec gates' input: ``img`` holds each document's first n
    characters as ``px`` when they are n single-byte characters (the
    chars == bytes guard _doc_prefix_bytes applies on the Spark side);
    ``b`` holds one row (doc_id, i, v) per 1-based position i with its
    byte value v."""
    return f"""img AS (
  SELECT doc_id, substr(text, 1, {n}) AS px
  FROM documents WHERE length(text) >= {n}
    AND strlen(substr(text, 1, {n})) = {n}
),
b AS (
  SELECT doc_id, i, ascii(substr(px, i, 1)) AS v
  FROM img, (SELECT unnest(generate_series(1, {n})) AS i) u
)"""


def _doc_prefix_bytes(spark: SparkSession, sf_dir: str, n: int) -> DataFrame:
    """(doc_id, px): each document's first n characters as UTF-8 bytes,
    kept only when they encode to exactly n bytes, so the payload's
    chars equal its bytes and the DuckDB replay (_sql_doc_bytes) can
    read them with ascii(substr())."""
    return (
        load_table(spark, "documents", sf_dir)
        .filter(F.length("text") >= n)
        .select("doc_id", F.encode(F.substring("text", 1, n), "utf-8").alias("px"))
        .filter(F.octet_length("px") == n)
    )

_SQL_HASH64 = "('0x' || substr(md5({x}), 1, 15))::BIGINT"

# Multiply-shift seed family constants (ssp_spark.functions._mix_consts,
# k=12) as DuckDB list literals, indexed [seed+1].
from ssp_spark.functions import _mix_consts as __mix  # noqa: E402

_SQL_MIX_A = "[" + ", ".join(str(a) for a in __mix(12)[0]) + "]"
_SQL_MIX_B = "[" + ", ".join(str(b) for b in __mix(12)[1]) + "]"


# ---------------------------------------------------------------------------
# Flagship + relational core
# ---------------------------------------------------------------------------


@_q(
    "word_count",
    r"""
    SELECT word, count(*) AS cnt
    FROM (SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS word
          FROM documents)
    GROUP BY word
    """,
)
def word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ssp's flagship (README.md:93-138 word count): tokenize -> groupBy ->
    count. Plan: scan(text only) -> generate(explode) -> partial agg ->
    shuffle(word) -> final agg. Map-side partial aggregation keeps the
    shuffle at |vocab| x partitions, not |tokens| — the property that
    makes this work on 100 TB of text."""
    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


@_q(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)      AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) / 10000.0
               AS sum_disc_price,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT))
                    * (100 + CAST(round(l_tax * 100) AS BIGINT))) AS BIGINT) / 1000000.0
               AS sum_charge,
           round(sum(l_quantity), 2) / count(*)      AS avg_qty,
           round(sum(l_extendedprice), 2) / count(*) AS avg_price,
           round(sum(l_discount), 2) / count(*)      AS avg_disc,
           count(*)                                  AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: single scan, predicate pushed to parquet, partial
    +final hash agg on a tiny key space — no plan risk at any scale.

    Cross-engine float determinism: price*discount*tax products are summed
    as EXACT integers (cents x basis points, bigint — no FP accumulation
    order dependence), then scaled back; averages divide a cent-rounded
    sum by the exact count. See tests/oracle_harness.py rationale.
    """
    li = load_table(spark, "lineitem", sf_dir)
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_bp = 100 - F.round(F.col("l_discount") * 100).cast("long")
    tax_bp = 100 + F.round(F.col("l_tax") * 100).cast("long")
    n = F.count("*")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            (F.sum(cents * disc_bp) / 10000.0).alias("sum_disc_price"),
            (F.sum(cents * disc_bp * tax_bp) / 1000000.0).alias("sum_charge"),
            (F.round(F.sum("l_quantity"), 2) / n).alias("avg_qty"),
            (F.round(F.sum("l_extendedprice"), 2) / n).alias("avg_price"),
            (F.round(F.sum("l_discount"), 2) / n).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


@_q(
    "q3_top_orders",
    """
    SELECT l_orderkey,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) / 10000.0
               AS revenue,
           epoch(o_orderdate)::BIGINT AS orderdate_ep
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape. customer is filtered then joined — at bench scale
    Spark broadcast-joins it under AQE; lineitem never shuffles twice.
    Deterministic limit: ties broken by l_orderkey."""
    cust = load_table(spark, "customer", sf_dir).filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp_ntz")
    )
    li = load_table(spark, "lineitem", sf_dir)
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_bp = 100 - F.round(F.col("l_discount") * 100).cast("long")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg((F.sum(cents * disc_bp) / 10000.0).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.col("o_orderdate").cast("timestamp").alias("_od"),
        )
        .select("l_orderkey", "revenue", F.unix_timestamp("_od").alias("orderdate_ep"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@_q(
    "q5_nation_revenue",
    """
    SELECT n_name,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) / 10000.0
               AS revenue
    FROM region JOIN nation   ON n_regionkey = r_regionkey
                JOIN customer ON c_nationkey = n_nationkey
                JOIN orders   ON o_custkey   = c_custkey
                JOIN lineitem ON l_orderkey  = o_orderkey
                JOIN supplier ON s_suppkey   = l_suppkey AND s_nationkey = c_nationkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: region/nation explicitly broadcast (constant-size
    dims at every SF, catalog.ALWAYS_BROADCAST); the big fact join chain
    shuffles each fact table exactly once on its join key."""
    region = load_table(spark, "region", sf_dir).filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, "nation", sf_dir)
    nr = F.broadcast(nation.join(region, nation.n_regionkey == region.r_regionkey))
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    supp = load_table(spark, "supplier", sf_dir)
    # Round 13, examined and left alone (guide §3.1): at bench scale the
    # planner broadcasts the column-pruned lineitem scan (BuildLeft —
    # its 4-column estimate is below the joined cust⋈orders subtree's
    # inflated join estimate) whichever side the join chain is written
    # from; an li-first rewrite was measured plan-identical and
    # reverted. At cluster scale every estimate exceeds the threshold
    # and each fact shuffles exactly once on its join key, as designed.
    return (
        cust.join(nr, cust.c_nationkey == nr.n_nationkey)
        .join(orders, orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(supp, (supp.s_suppkey == li.l_suppkey) & (supp.s_nationkey == cust.c_nationkey))
        .groupBy("n_name")
        .agg(
            (
                F.sum(
                    F.round(F.col("l_extendedprice") * 100).cast("long")
                    * (100 - F.round(F.col("l_discount") * 100).cast("long"))
                )
                / 10000.0
            ).alias("revenue")
        )
    )


@_q(
    "top_customers_per_nation",
    """
    SELECT c_nationkey, c_custkey, c_name, c_acctbal, rn FROM (
      SELECT c_nationkey, c_custkey, c_name, c_acctbal,
             CAST(row_number() OVER (PARTITION BY c_nationkey
                                     ORDER BY c_acctbal DESC, c_custkey) AS INT) AS rn
      FROM customer)
    WHERE rn <= 3
    """,
)
def top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OVER-window top-k (SURVEY §2.3 sorts/limits/top-k). Spark plans
    rank<=k as WindowGroupLimit: partial top-k before the shuffle, so
    full partitions are never materialized."""
    cust = load_table(spark, "customer", sf_dir)
    return relational.top_k_per_group(
        cust.select("c_nationkey", "c_custkey", "c_name", "c_acctbal"),
        ["c_nationkey"],
        [F.col("c_acctbal").desc(), F.col("c_custkey")],
        3,
    )


@_q(
    "running_user_spend",
    """
    SELECT event_id, user_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_spend,
           CAST(count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_n
    FROM events
    """,
)
def running_user_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch replay of ssp's update-mode emission (NewStatefulNode emits
    every prefix state — affo/ssp engine_test.go:123-155): one row
    per event carrying the per-user running sum/count."""
    ev = load_table(spark, "events", sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 2).alias("run_spend"),
        F.count("*").over(w).alias("run_n"),
    )


# ---------------------------------------------------------------------------
# Event-time windows (ssp O13/O15 analogues)
# ---------------------------------------------------------------------------


@_q(
    "sliding_window_counts",
    """
    SELECT ws, ws + 300 AS we, event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
    FROM (
      SELECT ((epoch_us(ts) // 120000000) - k.k) * 120 AS ws, epoch_us(ts) AS eus, event_type, value
      FROM events CROSS JOIN (SELECT unnest([0, 1, 2]) AS k) k
    )
    WHERE eus < ws * 1000000 + 300000000
    GROUP BY ws, event_type
    """,
)
def sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ssp NewWindowedNode sliding window (window.go:83-111): size 300s,
    slide 120s, keyed by event_type. Native F.window -> single shuffle."""
    ev = load_table(spark, "events", sf_dir)
    return windows.sliding(
        ev,
        "ts",
        "300 seconds",
        "120 seconds",
        {"cnt": F.count("*"), "sum_value": F.round(F.sum("value"), 2)},
        ["event_type"],
    )


@_q(
    "tumbling_hourly_stats",
    """
    SELECT ws, ws + 3600 AS we, count(*) AS cnt,
           round(sum(value), 2) AS sum_value,
           round(sum(value), 2) / count(*) AS avg_value
    FROM (SELECT (epoch_us(ts) // 3600000000) * 3600 AS ws, value FROM events)
    GROUP BY ws
    """,
)
def tumbling_hourly_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ssp tumbling window (window_test.go:154-230 analogue), 1 h."""
    ev = load_table(spark, "events", sf_dir)
    return windows.tumbling(
        ev,
        "ts",
        "1 hour",
        {
            "cnt": F.count("*"),
            "sum_value": F.round(F.sum("value"), 2),
            # cent-rounded sum / exact count: bit-identical across engines
            # (a raw avg() diverges in FP summation order)
            "avg_value": F.round(F.sum("value"), 2) / F.count("*"),
        },
    )


@_q(
    "session_windows",
    """
    WITH marked AS (
      SELECT user_id, epoch_us(ts) AS t, value,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts)
                       >= 1800000000 THEN 1 ELSE 0 END AS new_s
      FROM events
    ), islands AS (
      SELECT user_id, t, value,
             CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY t
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
      FROM marked
    )
    SELECT min(t) AS session_start_us, user_id, count(*) AS n_events, round(sum(value), 2) AS sum_value
    FROM islands GROUP BY user_id, sid
    """,
)
def session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows, 30 min gap, per user (native session_window;
    oracle = gaps-and-islands SQL). Not in the reference (§2.3)."""
    ev = load_table(spark, "events", sf_dir)
    return windows.session(
        ev,
        "ts",
        "30 minutes",
        {"n_events": F.count("*"), "sum_value": F.round(F.sum("value"), 2)},
        ["user_id"],
    )


# ---------------------------------------------------------------------------
# Joins: semi / anti / range / as-of  (SURVEY §2.3 Joins)
# ---------------------------------------------------------------------------


@_q(
    "semi_join_open_orders",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
    """,
)
def semi_join_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir).filter(F.col("o_orderstatus") == "O")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@_q(
    "anti_join_inactive_customers",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
)
def anti_join_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@_q(
    "range_join_value_bands",
    """
    SELECT band, count(*) AS cnt, round(sum(value), 2) AS sum_value
    FROM events
    JOIN (VALUES ('low', 0.0, 50.0), ('mid', 50.0, 120.0),
                 ('high', 120.0, 250.0), ('xhigh', 250.0, 1000000.0)) b(band, lo, hi)
      ON value >= lo AND value < hi
    GROUP BY band
    """,
)
def range_join_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi range join against a literal bands table — planned as
    BroadcastNestedLoopJoin with the 4-row side broadcast: the fact side
    streams, never shuffles (operators.relational.range_join_bands)."""
    ev = load_table(spark, "events", sf_dir)
    bands = spark.createDataFrame(
        [("low", 0.0, 50.0), ("mid", 50.0, 120.0), ("high", 120.0, 250.0), ("xhigh", 250.0, 1e6)],
        ["band", "lo", "hi"],
    )
    return (
        relational.range_join_bands(ev, "value", bands)
        .filter(F.col("band").isNotNull())
        .groupBy("band")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


@_q(
    "asof_join_purchase_signup",
    """
    WITH ev AS (
      SELECT user_id, event_id, epoch_us(ts) AS t, event_type
      FROM events WHERE event_type IN ('signup', 'purchase')
    ), carried AS (
      SELECT user_id, event_id, t, event_type,
             max(CASE WHEN event_type = 'signup' THEN t END)
               OVER (PARTITION BY user_id
                     ORDER BY t, CASE WHEN event_type = 'signup' THEN 0 ELSE 1 END
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS signup_us
      FROM ev
    )
    SELECT event_id, user_id, signup_us
    FROM carried WHERE event_type = 'purchase' AND signup_us IS NOT NULL
    """,
)
def asof_join_purchase_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (event-time analogue of ssp's Align pattern,
    engine_test.go:558-590): each purchase matched to the user's latest
    signup at-or-before it. Union+carry-forward — ONE shuffle on user_id,
    no pairwise blow-up (operators.relational.asof_join)."""
    ev = load_table(spark, "events", sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .select("user_id", "ts", F.unix_micros("ts").alias("signup_us"))
    )
    return relational.asof_join(
        purchases,
        signups,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_value_cols=["signup_us"],
        how="inner",
    ).select("event_id", "user_id", "signup_us")


# ---------------------------------------------------------------------------
# Set ops / rollup / scalar-function surface
# ---------------------------------------------------------------------------


@_q(
    "set_ops_users",
    """
    (SELECT user_id FROM events WHERE event_type = 'purchase'
     GROUP BY user_id HAVING count(*) > 10
     INTERSECT
     SELECT user_id FROM events WHERE event_type = 'error'
     GROUP BY user_id HAVING count(*) > 10)
    EXCEPT
    SELECT user_id FROM events WHERE event_type = 'click'
    GROUP BY user_id HAVING count(*) > 15
    """,
)
def set_ops_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT/EXCEPT surface (§2.3 set ops). Thresholded user sets so
    the result stays non-degenerate at every scale factor."""
    ev = load_table(spark, "events", sf_dir)

    def users(t: str, min_n: int) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == t)
            .groupBy("user_id")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") > min_n)
            .select("user_id")
        )

    return users("purchase", 10).intersect(users("error", 10)).exceptAll(users("click", 15)).distinct()


@_q(
    "rollup_order_stats",
    """
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           count(*) AS cnt, round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def rollup_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "cnt",
            "total",
        )
    )


@_q(
    "json_extract_events",
    """
    SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k,
           count(*) AS cnt, round(sum(value), 2) AS sum_value
    FROM events GROUP BY k
    """,
)
def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar-function surface (SURVEY §2.3): get_json_object stays
    JVM-side (Jackson), no Python."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.select(
            F.get_json_object("props", "$.k").cast("int").alias("k"),
            "value",
        )
        .groupBy("k")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


@_q(
    "string_funcs",
    """
    SELECT c_custkey, upper(c_name) AS name_up, CAST(length(c_name) AS INT) AS name_len,
           substr(c_name, 1, 8) AS name_prefix,
           concat_ws('|', c_mktsegment, CAST(c_nationkey AS VARCHAR)) AS seg_nation
    FROM customer
    """,
)
def string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    return cust.select(
        "c_custkey",
        F.upper("c_name").alias("name_up"),
        F.length("c_name").alias("name_len"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.concat_ws("|", F.col("c_mktsegment"), F.col("c_nationkey").cast("string")).alias(
            "seg_nation"
        ),
    )


@_q(
    "date_funcs_monthly_orders",
    """
    SELECT CAST(year(o_orderdate) AS INT) AS yr, CAST(month(o_orderdate) AS INT) AS mo,
           count(*) AS cnt, round(sum(o_totalprice), 2) AS total,
           round(sum(o_totalprice), 2) / count(*) AS avg_price
    FROM orders GROUP BY yr, mo
    """,
)
def date_funcs_monthly_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    return (
        orders.select(
            F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mo"), "o_totalprice"
        )
        .groupBy("yr", "mo")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
            (F.round(F.sum("o_totalprice"), 2) / F.count("*")).alias("avg_price"),
        )
    )


@_q(
    "cust_above_nation_avg",
    """
    SELECT c_custkey, c_nationkey, c_acctbal, nav AS nation_avg
    FROM (
      SELECT c_custkey, c_nationkey, c_acctbal,
             round(sum(c_acctbal) OVER (PARTITION BY c_nationkey), 2)
               / count(*) OVER (PARTITION BY c_nationkey) AS nav
      FROM customer)
    WHERE c_acctbal > nav
    """,
)
def cust_above_nation_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery capability via a window aggregate: one shuffle
    on nationkey, no self-join."""
    cust = load_table(spark, "customer", sf_dir)
    w = Window.partitionBy("c_nationkey")
    nav = F.round(F.sum("c_acctbal").over(w), 2) / F.count("*").over(w)
    return (
        cust.select("c_custkey", "c_nationkey", "c_acctbal", nav.alias("nav"))
        .filter(F.col("c_acctbal") > F.col("nav"))
        .select("c_custkey", "c_nationkey", "c_acctbal", F.col("nav").alias("nation_avg"))
    )


@_q(
    "user_activity_pivot",
    """
    SELECT user_id, count(*) AS n_events,
           CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS n_purchase,
           CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT)    AS n_error,
           CAST(count(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT)   AS n_signup,
           CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT)    AS n_click,
           CAST(count(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT)     AS n_view,
           round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END), 2) AS purchase_value
    FROM events GROUP BY user_id
    """,
)
def user_activity_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-aggregation pivot: single shuffle, map-side partials."""
    ev = load_table(spark, "events", sf_dir)

    def n(t: str) -> F.Column:
        return F.count(F.when(F.col("event_type") == t, 1)).alias(f"n_{t}")

    return ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        n("purchase"),
        n("error"),
        n("signup"),
        n("click"),
        n("view"),
        F.round(F.sum(F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0)), 2).alias(
            "purchase_value"
        ),
    )


@_q(
    "distinct_event_users",
    """
    SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def distinct_event_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users"), F.count("*").alias("n_events")
    )


# ---------------------------------------------------------------------------
# Dedup suite (SURVEY §7 Phase 6)
# ---------------------------------------------------------------------------


@_q(
    "dedup_exact",
    """
    SELECT md5(text) AS content_md5, min(doc_id) AS keeper_id, count(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.dedup_exact(load_table(spark, "documents", sf_dir))


@_q(
    "dedup_jaccard_pairs",
    f"""
    WITH {_sql_shingles(4)},
    freq AS (SELECT sh, count(*) AS df_ FROM sh GROUP BY sh),
    kept AS (SELECT s.doc_id, s.sh FROM sh s JOIN freq USING (sh) WHERE df_ <= 50),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS shared
      FROM kept a JOIN kept b USING (sh)
      WHERE a.doc_id < b.doc_id GROUP BY 1, 2
    )
    SELECT id1, id2, round(shared / (s1.n_sh + s2.n_sh - shared), 6) AS jaccard
    FROM pairs JOIN sizes s1 ON s1.doc_id = id1 JOIN sizes s2 ON s2.doc_id = id2
    WHERE shared / (s1.n_sh + s2.n_sh - shared) >= 0.5
    """,
)
def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 4-gram-shingle Jaccard near-dup pairs via inverted-index
    self-join (cost ~ near-dup density, not n^2). See operators.dedup.
    r3 parameter sweep at sf0.1 (n in {3,4,5} x cap in {50,100}): every
    config finds the IDENTICAL 256 pairs at threshold 0.5, and 4-gram +
    cap 50 cuts the candidate-pair shuffle ~35% vs 3-gram + cap 100
    (wider shingles are rarer -> lower per-shingle doc frequency -> less
    k^2 fan-out), so the declared query uses the cheaper parameters."""
    return dedup.jaccard_pairs(
        load_table(spark, "documents", sf_dir), n=4, threshold=0.5, max_doc_freq=50
    )


@_q(
    "dedup_minhash_lsh",
    f"""
    WITH {_SQL_SHINGLES},
    base AS (SELECT doc_id, {_SQL_HASH64.format(x="sh")} AS h64 FROM sh),
    mh AS (
      SELECT doc_id, seed,
             min(({_SQL_MIX_A}[seed + 1] * (h64 & 4294967295)
                  + {_SQL_MIX_B}[seed + 1]) & 4294967295) AS minhash
      FROM base CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS seed) s
      GROUP BY doc_id, seed
    ),
    banded AS (
      SELECT doc_id, CAST(seed // 3 AS INT) AS band,
             string_agg(minhash::VARCHAR, ',' ORDER BY seed) AS band_sig
      FROM mh GROUP BY doc_id, band
    )
    SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
    FROM banded a JOIN banded b USING (band, band_sig)
    WHERE a.doc_id < b.doc_id
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(12)+LSH(4 bands x 3 rows) candidate pairs, md5-portable
    hash family so the oracle reproduces signatures exactly."""
    return dedup.minhash_lsh_pairs(
        load_table(spark, "documents", sf_dir), num_hashes=12, bands=4
    )


@_q(
    "dedup_span_pairs",
    """
    WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 64),
    pos AS (SELECT doc_id, unnest(range(1, length(text) - 64 + 2, 32)) AS p, text
            FROM d),
    spans AS (SELECT DISTINCT doc_id, md5(substr(text, CAST(p AS INT), 64)) AS span
              FROM pos),
    freq AS (SELECT span FROM spans GROUP BY span HAVING count(*) <= 100),
    kept AS (SELECT s.doc_id, s.span FROM spans s JOIN freq USING (span))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS shared_spans
    FROM kept a JOIN kept b ON a.span = b.span AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING count(*) >= 2
    """,
)
def dedup_span_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication: doc pairs sharing >= 2 exact 64-char
    windows (stride 32) — the dedup modality doc-level MinHash/SimHash
    miss (verbatim licenses/boilerplate/quotes inside otherwise-different
    docs; the suffix-array concern from the training-data-dedup
    literature, stride-sampled into a shuffle-friendly inverted-index
    join). Boilerplate spans shared by >100 docs are capped exactly like
    jaccard_pairs' stop-shingles. See operators/dedup.py:span_dup_pairs
    for the alignment guarantee and scale accounting."""
    return dedup.span_dup_pairs(load_table(spark, "documents", sf_dir))


@_q(
    "dedup_simhash",
    rf"""
    WITH toks AS (
      SELECT DISTINCT doc_id,
             unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS tok
      FROM documents
    ),
    h AS (SELECT doc_id, {_SQL_HASH64.format(x="tok")} AS th FROM toks),
    votes AS (
      SELECT doc_id, b.bit,
             CASE WHEN ((th >> b.bit) & 1) = 1 THEN 1 ELSE -1 END AS vote
      FROM h CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS bit) b
    ),
    bits AS (SELECT doc_id, bit, CAST(sum(vote) AS BIGINT) AS s FROM votes GROUP BY doc_id, bit)
    SELECT doc_id,
           CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprints (bit-vote over distinct tokens)."""
    return dedup.simhash(load_table(spark, "documents", sf_dir))


@_q(
    "dedup_embedding_cosine",
    """
    SELECT id1, id2, cos FROM (
      SELECT a.vec_id AS id1, b.vec_id AS id2,
             round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
                   (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                    sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS cos
      FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id)
    WHERE cos >= 0.4
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked cosine near-dup pairs (block = label); JVM array math in
    index order, bit-identical to DuckDB's list_dot_product."""
    return dedup.embedding_near_dup(
        load_table(spark, "embeddings", sf_dir), threshold=0.4
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


@_q(
    "ann_topk_bruteforce",
    """
    SELECT qid, nid, CAST(rank AS INT) AS rank, cos FROM (
      SELECT q.vec_id AS qid, c.vec_id AS nid,
             round(list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
                   (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
                    sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))), 6) AS cos,
             row_number() OVER (PARTITION BY q.vec_id
                                ORDER BY round(list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
                                               (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
                                                sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))), 6) DESC,
                                         c.vec_id) AS rank
      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      WHERE q.vec_id % 25 = 0)
    WHERE rank <= 10
    """,
)
def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 per query (queries = vec_id % 25 == 0),
    broadcast queries x streaming corpus + WindowGroupLimit partial
    top-k. The exact baseline for the LSH scale path."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    return similarity.brute_force_topk(queries, emb, k=10)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@_q(
    "lang_id",
    r"""
    WITH t AS (
      SELECT doc_id, lang, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
      FROM documents
    ), scored AS (
      SELECT doc_id, lang,
             len(list_filter(toks, x -> x IN ('the', 'a', 'fast', 'slow'))) AS en,
             len(list_filter(toks, x -> x IN ('data', 'value', 'row')))     AS de,
             len(list_filter(toks, x -> x IN ('query', 'filter', 'merge'))) AS fr
      FROM t
    )
    SELECT doc_id, lang,
           CASE WHEN en >= de AND en >= fr AND en > 0 THEN 'en'
                WHEN de >= fr AND de > 0 THEN 'de'
                WHEN fr > 0 THEN 'fr'
                ELSE 'und' END AS lang_pred
    FROM scored
    """,
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return text.lang_id(docs).select("doc_id", "lang", "lang_pred")


@_q(
    "quality_score",
    r"""
    WITH t AS (
      SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
      FROM documents
    ), m AS (
      SELECT doc_id,
             CAST(len(toks) AS INT) AS n_tokens,
             CAST(list_sum(list_transform(toks, x -> length(x))) AS INT) AS total_len,
             CAST(len(list_filter(toks, x -> x IN ('the', 'a', 'of', 'and'))) AS INT) AS n_stop
      FROM t
    )
    SELECT doc_id, n_tokens,
           round(CASE WHEN n_tokens > 0 THEN total_len / n_tokens ELSE 0.0 END, 4) AS avg_token_len,
           round(CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0.0 END, 4) AS stopword_ratio,
           CASE WHEN n_tokens > 0 THEN
             ((50 * (CAST(n_tokens AS BIGINT) * least(n_tokens, 200)
                     + 120 * least(4 * CAST(n_stop AS BIGINT), n_tokens)
                     + 10 * least(CAST(total_len AS BIGINT), 8 * CAST(n_tokens AS BIGINT)))
               + n_tokens) // (2 * CAST(n_tokens AS BIGINT))) / 10000.0
           ELSE 0.0 END AS quality
    FROM m
    """,
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return text.quality_score(docs).select(
        "doc_id", "n_tokens", "avg_token_len", "stopword_ratio", "quality"
    )


@_q(
    "char_entropy_docs",
    """
    WITH chars AS (
      SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
    ),
    counts AS (
      SELECT doc_id, ch, count(*) AS c FROM chars WHERE ch <> '' GROUP BY 1, 2
    )
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars,
           CAST(count(*) AS BIGINT) AS n_distinct_chars,
           round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 6) AS entropy_bits
    FROM counts GROUP BY doc_id
    """,
)
def char_entropy_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-distribution Shannon entropy — the cheap
    gibberish / base64-blob / boilerplate screen that complements
    quality_score's token ratios and quality_repetition_filter's n-gram
    stats. Fully JVM-side (explode + two map-side-combined keyed
    aggregates; shuffle carries |doc| x |alphabet| COUNT rows, never
    raw characters); entropy terms are log2 of integers, so engines
    differ only in summation order under the 6 dp round. See
    text.char_entropy for the empty-doc and ASCII contract."""
    docs = load_table(spark, "documents", sf_dir)
    return text.char_entropy(docs)


@_q(
    "token_count",
    r"""
    SELECT doc_id,
           CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS INT) AS ws_tokens,
           CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS INT) AS piece_tokens
    FROM documents
    """,
)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return text.token_counts(docs).select("doc_id", "ws_tokens", "piece_tokens")


@_q(
    "doc_fingerprint",
    rf"""
    WITH n AS (SELECT doc_id, regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS norm,
                      list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
               FROM documents)
    SELECT doc_id, md5(norm) AS fp_md5, {_SQL_HASH64.format(x="norm")} AS fp64,
           list_reduce(
             list_prepend(0::BIGINT, list_transform(t, tk -> {_SQL_HASH64.format(x="tk")})),
             (acc, h) -> (acc * 31 + h) % 1000000007
           ) AS fp_roll
    FROM n
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5 + 60-bit + order-sensitive polynomial rolling-hash fingerprints
    (operators/text.py::fingerprint)."""
    docs = load_table(spark, "documents", sf_dir)
    return text.fingerprint(docs).select("doc_id", "fp_md5", "fp64", "fp_roll")


@_q(
    "quality_repetition_filter",
    r"""
    WITH toks AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
                  FROM documents),
    g AS (
      SELECT doc_id, t[i] || ' ' || t[i+1] AS g
      FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(t)-1, 0))) AS i) u
    ),
    per AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY doc_id, g),
    st AS (SELECT doc_id, CAST(sum(c) AS INT) AS n_bigrams, max(c) AS maxr, count(*) AS nd
           FROM per GROUP BY doc_id)
    SELECT doc_id, n_bigrams,
           round(maxr / n_bigrams, 4) AS top_bigram_frac,
           round((n_bigrams - nd) / n_bigrams, 4) AS dup_bigram_frac,
           CAST(maxr / n_bigrams <= 0.18 AND (n_bigrams - nd) / n_bigrams <= 0.30 AS INT) AS keep
    FROM st
    """,
)
def quality_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter (operators/text.py::repetition_stats):
    top-bigram fraction + duplicate-bigram fraction per document and the
    keep decision, computed as a ZERO-SHUFFLE projection (sorted-gram
    run-length fold). The oracle takes the equivalent explode+group route;
    both partition the same bigram multiset, so counts agree exactly."""
    docs = load_table(spark, "documents", sf_dir)
    return text.repetition_stats(docs)


@_q(
    "dedup_ngram_corpus",
    f"""
    WITH {_sql_shingles(6)},
    marked AS (SELECT doc_id, CAST(count(*) OVER (PARTITION BY sh) > 1 AS INT) AS is_shared
               FROM sh),
    per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
                   CAST(sum(is_shared) AS BIGINT) AS n_shared
            FROM marked GROUP BY doc_id)
    SELECT doc_id, n_ngrams, n_shared,
           round(n_shared / n_ngrams, 4) AS shared_frac,
           CAST(n_shared / n_ngrams >= 0.5 AS INT) AS dup_flag
    FROM per
    """,
)
def dedup_ngram_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-6-gram signal (exact-substring-dedup family,
    Lee et al. 2022 scaled to word n-grams — operators/text.py::
    corpus_ngram_stats): per document, how many of its distinct 6-grams
    appear in other documents, and the >= 0.5 boilerplate flag. Two
    key-partitioned exchanges (n-gram, then doc), no joins."""
    docs = load_table(spark, "documents", sf_dir)
    return text.corpus_ngram_stats(docs)


def _sql_kmeans(k: int, iters: int, final: str | None = None) -> str:
    """DuckDB replay of the fixed-iteration Lloyd's run (operators/
    cluster.py::kmeans): same seeds (k lowest vec_ids), same (d2, cid)
    argmin tie-break, same mean update, iteration by iteration. ``final``
    overrides the tail select; ``{b}`` is the last assignment CTE."""
    parts = [
        "emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)",
        f"""c0 AS (SELECT vec_id AS cid, e AS ce FROM emb
           WHERE vec_id IN (SELECT vec_id FROM emb ORDER BY vec_id LIMIT {k}))""",
    ]
    for t in range(iters):
        parts.append(
            f"""
    x{t} AS (
      SELECT v.vec_id, v.e, c.cid, power(list_distance(v.e, c.ce), 2) AS d2
      FROM emb v CROSS JOIN c{t} c
    ),
    a{t} AS (
      SELECT vec_id, e, cid, d2,
             row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
      FROM x{t}
    ),
    b{t} AS (SELECT vec_id, e, cid, d2 FROM a{t} WHERE rk = 1)"""
        )
        if t < iters - 1:
            parts.append(
                f"""
    c{t + 1} AS (
      SELECT cid, list(m ORDER BY p) AS ce
      FROM (
        SELECT cid, p, avg(e[p]) AS m
        FROM b{t}, LATERAL (SELECT unnest(generate_series(1, len(e))) AS p) u
        GROUP BY cid, p
      )
      GROUP BY cid
    )"""
            )
    final = final or "SELECT vec_id, cid AS cluster, round(d2, 4) AS dist2 FROM {b}"
    return "WITH " + ",".join(parts) + "\n    " + final.format(b=f"b{iters - 1}")


@_q("kmeans_embeddings", _sql_kmeans(8, 3))
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic clustering for data curation: 3-iteration Lloyd's k-means
    (k=8) over the embedding column — deterministic seeds + fixed
    iterations make an iterative ML algorithm exactly oracle-checkable.
    Assignment is a zero-shuffle projection against driver-side centroids
    (broadcast-a-model); each update is one k x d-bounded partial-agg
    shuffle. See operators/cluster.py for the 100 TB cost model."""
    emb = load_table(spark, "embeddings", sf_dir)
    return cluster.kmeans(emb, k=8, iters=3)


@_q(
    "cluster_balanced_sample",
    _sql_kmeans(
        8,
        3,
        final="""SELECT cluster, CAST(rk AS INT) AS rk, vec_id, dist2 FROM (
      SELECT cid AS cluster, vec_id, round(d2, 4) AS dist2,
             row_number() OVER (PARTITION BY cid ORDER BY round(d2, 4), vec_id) AS rk
      FROM {b}
    ) WHERE rk <= 2""",
    ),
)
def cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity sampling for training mixes: the 2 most central vectors
    per k-means cluster (representative selection — the k-means medoid
    approximation used to build cluster-balanced data mixes). Composes
    the kmeans operator with a per-cluster WindowGroupLimit; ordering is
    (rounded distance, vec_id) so the cut is engine-deterministic."""
    from pyspark.sql.window import Window

    emb = load_table(spark, "embeddings", sf_dir)
    km = cluster.kmeans(emb, k=8, iters=3)
    w = Window.partitionBy("cluster").orderBy("dist2", "vec_id")
    return (
        km.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 2)
        .select("cluster", "rk", "vec_id", "dist2")
    )


def _sql_pagerank(iters: int, d: float) -> str:
    """DuckDB replay of the fixed-iteration PageRank (operators/graph.py):
    identical seeds (uniform 1/N), literals, and update rule, iteration
    by iteration over the same symmetric customer-supplier edge list."""
    steps = [
        """base AS (SELECT DISTINCT CAST(o_custkey * 2 AS BIGINT) AS src,
                           CAST(l_suppkey * 2 + 1 AS BIGINT) AS dst
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey)""",
        "edges AS (SELECT src, dst FROM base UNION ALL SELECT dst, src FROM base)",
        "deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src)",
        "nn AS (SELECT count(DISTINCT src) AS n FROM edges)",
        "r0 AS (SELECT DISTINCT src AS node, 1.0 / n AS rank FROM edges CROSS JOIN nn)",
    ]
    for t in range(iters):
        steps.append(
            f"""
    r{t + 1} AS (
      SELECT e.dst AS node,
             (1 - {d}) / (SELECT n FROM nn) + {d} * sum(r.rank / dg.deg) AS rank
      FROM edges e JOIN r{t} r ON e.src = r.node JOIN deg dg ON e.src = dg.src
      GROUP BY e.dst
    )"""
        )
    return (
        "WITH " + ",".join(steps) + f"\n    SELECT node, round(rank, 6) AS rank FROM r{iters}"
    )


@_q("pagerank_customer_supplier", _sql_pagerank(3, 0.85))
def pagerank_customer_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the bipartite customer-supplier
    interaction graph (who-bought-from-whom via orders x lineitem, made
    symmetric so no dangling mass exists) — authority scoring as a
    curation signal, and the canonical iterative join+re-aggregate Spark
    workload. Node ids are parity-disjoint (cust*2, supp*2+1). 3 rounds,
    damping 0.85; the oracle replays each round. See operators/graph.py
    for the per-iteration exchange accounting."""
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    base = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).cast("long").alias("src"),
            (F.col("l_suppkey") * 2 + 1).cast("long").alias("dst"),
        )
        .distinct()
    )
    # reversed copy: src/dst parities are disjoint, so the union is
    # already duplicate-free — no second distinct pass
    edges = base.union(base.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return graph.pagerank(edges, iters=3, damping=0.85)


@_q(
    "graph_reachability_bfs",
    """
    WITH RECURSIVE base AS (
      SELECT DISTINCT CAST(o_custkey * 2 AS BIGINT) AS src,
                      CAST(l_suppkey * 2 + 1 AS BIGINT) AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    edges AS (SELECT src, dst FROM base UNION ALL SELECT dst, src FROM base),
    seeds AS (SELECT DISTINCT src FROM base ORDER BY src LIMIT 3),
    reach(node, hops) AS (
      SELECT src, 0 FROM seeds
      UNION
      SELECT e.dst, r.hops + 1 FROM reach r JOIN edges e ON e.src = r.node
      WHERE r.hops < 3
    )
    SELECT node, CAST(MIN(hops) AS INT) AS hops FROM reach GROUP BY node
    """,
)
def graph_reachability_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-bounded reachability (min-hop distance <= 3) from the three
    smallest customer nodes over the same symmetric customer-supplier
    graph pagerank_customer_supplier walks — the "contamination blast
    radius" primitive (everything linked to a flagged item within k
    steps). Implementation is graph.bfs_levels: level-synchronous
    frontier BFS with per-level distinct + anti-join against visited —
    |V|-bounded state, one keyed join per level, NO path enumeration.
    The oracle replays it as DuckDB's distinct-recursion
    ``WITH RECURSIVE ... UNION``; Spark 4's native recursive CTE is
    UNION ALL-only (path-multiplying, verified on this build), which is
    exactly why the operator exists — see operators/graph.py:62 and the
    native-CTE consistency test in tests/test_curation.py."""
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    base = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).cast("long").alias("src"),
            (F.col("l_suppkey") * 2 + 1).cast("long").alias("dst"),
        )
        .distinct()
    )
    edges = base.union(base.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    seeds = base.select("src").distinct().orderBy("src").limit(3)
    return graph.bfs_levels(edges, seeds, max_hops=3)


@_q(
    "k_anonymity_events",
    """
    WITH g AS (
      SELECT concat_ws('|', CAST(event_type AS VARCHAR),
                            CAST(hour(ts) AS VARCHAR),
                            CAST(minute(ts) // 10 AS VARCHAR)) AS qi_key,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_sensitive
      FROM events GROUP BY 1
    )
    SELECT qi_key, cnt, n_sensitive,
           cnt < 5 AS k_violation, n_sensitive < 2 AS l_violation
    FROM g WHERE cnt < 5 OR n_sensitive < 2
    ORDER BY cnt, n_sensitive, qi_key LIMIT 20
    """,
)
def k_anonymity_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit before publishing an event extract: the 20 worst
    quasi-identifier groups (event_type x hour x 10-minute bucket)
    violating k-anonymity (< 5 rows — re-identification risk) or
    l-diversity (< 2 distinct users — attribute disclosure). One
    two-level map-side-combined aggregate + a deterministic
    TakeOrderedAndProject cut; the structured-data sibling of
    text_normalize_redact's PII scrubbing. See operators/privacy.py."""
    ev = load_table(spark, "events", sf_dir)
    return privacy.k_anonymity_report(
        ev,
        [
            F.col("event_type"),
            F.hour("ts"),
            (F.minute("ts") / 10).cast("int"),
        ],
        "user_id",
        k=5,
        l_div=2,
        top=20,
    )


@_q(
    "ema_daily_user_spend",
    """
    WITH RECURSIVE daily AS (
      SELECT user_id,
             CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ),
    seq AS (SELECT user_id, d, cents,
                   CAST(row_number() OVER (PARTITION BY user_id ORDER BY d) AS INT) AS t
            FROM daily),
    rec(key, t, x, y) AS (
      SELECT user_id, 1, cents, CAST(cents AS DOUBLE) FROM seq WHERE t = 1
      UNION ALL
      SELECT s.user_id, s.t, s.cents, (1 * s.cents + 3 * r.y) / 4
      FROM rec r JOIN seq s ON s.user_id = r.key AND s.t = r.t + 1
    )
    SELECT key, t AS step, x AS value, round(y, 6) AS ema FROM rec
    """,
)
def ema_daily_user_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMA (alpha = 1/4) of each user's daily purchase spend — the
    non-associative keyed recurrence window frames cannot express (see
    operators/recurrence.py: this is the reference's O2 keyed-fold shape
    done with Arrow batches instead of per-record channel hops). The
    power-of-two alpha makes the fold a reproducible float64 op
    sequence; the oracle replays it STEP BY STEP in a recursive CTE and
    the 6dp rounding uses the sign-aware HALF_UP emulation on the Spark
    side so dyadic ties (reachable: every EMA value has a 4^-t binary
    fraction) round identically to DuckDB's half-away round()."""
    ev = load_table(spark, "events", sf_dir)
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(
            "user_id",
            F.unix_timestamp(F.date_trunc("day", "ts")).alias("d"),
        )
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("cents"))
    )
    return recurrence.keyed_ema(
        daily, key="user_id", order="d", value="cents", alpha_num=1, alpha_den=4
    )


@_q(
    "cusum_user_activity",
    """
    WITH RECURSIVE daily AS (
      SELECT user_id,
             CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    seq AS (SELECT user_id, d, c,
                   CAST(row_number() OVER (PARTITION BY user_id ORDER BY d) AS INT) AS t
            FROM daily),
    rec(key, t, s, alarm) AS (
      SELECT user_id, 1, greatest(0, c - 2), greatest(0, c - 2) >= 5
      FROM seq WHERE t = 1
      UNION ALL
      SELECT s2.user_id, s2.t,
             greatest(0, (CASE WHEN r.alarm THEN 0 ELSE r.s END) + s2.c - 2),
             greatest(0, (CASE WHEN r.alarm THEN 0 ELSE r.s END) + s2.c - 2) >= 5
      FROM rec r JOIN seq s2 ON s2.user_id = r.key AND s2.t = r.t + 1
    )
    SELECT key, t AS step, s, alarm FROM rec
    """,
)
def cusum_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift detector (drift 2/day, threshold 5, reset
    after alarm) over each user's daily event counts — 'did this
    source's volume drift upward' as an exact integer recurrence. Same
    keyed-scan machinery as the EMA; the oracle steps the recursion
    with alarm resets in a recursive CTE. Pure integers: exact on any
    engine."""
    ev = load_table(spark, "events", sf_dir)
    daily = ev.groupBy(
        "user_id",
        F.unix_timestamp(F.date_trunc("day", "ts")).alias("d"),
    ).agg(F.count("*").cast("long").alias("c"))
    return recurrence.keyed_cusum(
        daily, key="user_id", order="d", value="c", drift=2, threshold=5
    )


@_q(
    "time_decayed_user_spend",
    """
    WITH v AS (
      SELECT user_id,
             CAST(round(value * 100) AS BIGINT) AS cents,
             CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS d
      FROM events WHERE event_type = 'purchase'
    ),
    anchor AS (SELECT max(d) AS a FROM v)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(cents) AS BIGINT) AS raw_cents,
           sum(cents / CAST(CAST(1 AS BIGINT)
                 << least((a - d) // 604800, 20) AS DOUBLE)) AS decayed_cents
    FROM v CROSS JOIN anchor
    GROUP BY user_id
    """,
)
def time_decayed_user_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted spend per user: each purchase is worth
    cents · 2^-weeks_old (half-life one week, anchored at the newest
    purchase day in the corpus, capped at 2^-20) — the standard decayed
    popularity / freshness score for recency-weighted sampling and
    mixture design. EXACT across engines by construction: the weight is
    a dyadic rational built by integer shift (1 << k), never pow()
    (libm pow differs across engines), so every term — and the sum, all
    terms being multiples of 2^-20 well inside double's 53-bit mantissa
    — is the same IEEE value regardless of summation order or
    partitioning. Plan: one scan, a 1-row anchor aggregate broadcast
    back, one map-side-combined groupBy — no windows, no global sort."""
    ev = load_table(spark, "events", sf_dir)
    v = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.unix_timestamp(F.date_trunc("day", "ts")).alias("d"),
    )
    anchor = v.agg(F.max("d").alias("a"))
    # pyspark's shiftleft() only takes a literal shift amount, so the
    # 1 << k dyadic weight is built as a SQL expression column
    w = F.expr(
        "CAST(shiftleft(CAST(1 AS BIGINT),"
        " CAST(least((a - d) div 604800, 20) AS INT)) AS DOUBLE)"
    )
    return (
        v.crossJoin(F.broadcast(anchor))
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_purchases"),
            F.sum("cents").cast("long").alias("raw_cents"),
            F.sum(F.col("cents") / w).alias("decayed_cents"),
        )
    )


def _sql_mmr(k: int, shortlist: int) -> str:
    """DuckDB replay of MMR selection (similarity.mmr_topk): identical
    int8 unit-quantization, integer dot products, and k greedy argmax
    stages with (score desc, vec_id) ties."""
    dq = "list_transform({c}, x -> CAST(x AS DOUBLE))"
    idot = (
        "CAST(list_dot_product("
        + dq.format(c="{a}")
        + ", "
        + dq.format(c="{b}")
        + ") AS BIGINT)"
    )
    steps = [
        f"""qd AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE)
                     / sqrt(list_aggregate(list_transform(embedding,
                              y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)), 'sum'))
                     * 127) AS INT)) AS q
      FROM embeddings WHERE embedding IS NOT NULL)""",
        "probe AS (SELECT q AS pq FROM qd ORDER BY vec_id LIMIT 1)",
        f"""rel AS (SELECT vec_id, q, {idot.format(a='q', b='pq')} AS rel
           FROM qd CROSS JOIN probe)""",
        f"short AS (SELECT * FROM rel ORDER BY rel DESC, vec_id LIMIT {shortlist})",
        """sel1 AS (SELECT vec_id, q, rel, CAST(rel AS BIGINT) AS score
           FROM short ORDER BY rel DESC, vec_id LIMIT 1)""",
        "selected1 AS (SELECT vec_id, q FROM sel1)",
    ]
    for t in range(2, k + 1):
        steps.append(
            f"""
    cand{t} AS (
      SELECT c.vec_id, c.q, c.rel,
             (SELECT max({idot.format(a='c.q', b='s.q')})
              FROM selected{t - 1} s) AS msim
      FROM short c
      WHERE c.vec_id NOT IN (SELECT vec_id FROM selected{t - 1})),
    sel{t} AS (SELECT vec_id, q, rel, rel - msim AS score
               FROM cand{t} ORDER BY score DESC, vec_id LIMIT 1),
    selected{t} AS (SELECT vec_id, q FROM selected{t - 1}
                    UNION ALL SELECT vec_id, q FROM sel{t})"""
        )
    finals = " UNION ALL ".join(
        f"SELECT CAST({t} AS INT) AS rank, vec_id, score FROM sel{t}"
        for t in range(1, k + 1)
    )
    return "WITH " + ",".join(steps) + "\n    " + finals


@_q("mmr_diverse_topk", _sql_mmr(5, 50))
def mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance selection of 5 diverse exemplars from
    the embeddings corpus (probe = min-id vector, lambda = 1/2: the
    all-integer objective rel - max_sim over int8
    unit-quantized vectors — every argmax compares exact integers, so
    the greedy replays exactly on both engines). Corpus-scale work is
    one zero-shuffle quantize+dot projection + a TakeOrderedAndProject
    shortlist; the O(k x shortlist) greedy runs on the collected
    model-sized shortlist. See similarity.mmr_topk."""
    emb = load_table(spark, "embeddings", sf_dir)
    return similarity.mmr_topk(emb, k=5, shortlist=50)


@_q("mmr_diverse_topk_arrow", ORACLE["mmr_diverse_topk"])
def mmr_diverse_topk_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mmr_diverse_topk's DEPLOYMENT kernel twin (the ann_lsh_topk_gemm
    precedent): identical MMR semantics, but the quantize+relevance pass
    is ONE mapInPandas numpy matmul instead of interpreted Catalyst HOF
    folds — 153 s -> ~1 s at the 100x fixture (SCALE.md). Shares the
    JVM twin's oracle verbatim (same greedy, same integer objective);
    tests/test_curation.py pins both kernels identical."""
    emb = load_table(spark, "embeddings", sf_dir)
    return similarity.mmr_topk(emb, k=5, shortlist=50, kernel="arrow")


def _sql_kcore(k: int, iters: int) -> str:
    """DuckDB replay of fixed-iteration k-core peeling (graph.kcore_prune)
    over the same symmetric customer-supplier edge list."""
    steps = [
        """base AS (SELECT DISTINCT CAST(o_custkey * 2 AS BIGINT) AS src,
                           CAST(l_suppkey * 2 + 1 AS BIGINT) AS dst
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey)""",
        "e0 AS (SELECT src, dst FROM base UNION ALL SELECT dst, src FROM base)",
    ]
    for t in range(iters):
        steps.append(
            f"""
    keep{t} AS (SELECT src AS n FROM e{t} GROUP BY src HAVING count(*) >= {k}),
    e{t + 1} AS (
      SELECT e.src, e.dst FROM e{t} e
      WHERE e.src IN (SELECT n FROM keep{t}) AND e.dst IN (SELECT n FROM keep{t})
    )"""
        )
    return (
        "WITH "
        + ",".join(steps)
        + f"""
    SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
    FROM e{iters} GROUP BY src"""
    )


@_q("kcore_user_graph", _sql_kcore(8, 3))
def kcore_user_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core pruning (k=8, 3 peeling rounds) of the symmetric
    customer-supplier interaction graph — the standard cheap
    interaction-graph quality filter (degree alone over-keeps nodes
    propped up by other weak nodes; peeling removes the support chains).
    Fixed rounds, oracle replays each peel; see graph.kcore_prune for
    the per-round exchange accounting."""
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    base = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).cast("long").alias("src"),
            (F.col("l_suppkey") * 2 + 1).cast("long").alias("dst"),
        )
        .distinct()
    )
    edges = base.union(base.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return graph.kcore_prune(edges, k=8, iters=3)


def _sql_lpa(iters: int) -> str:
    """DuckDB replay of fixed-iteration synchronous label propagation
    (graph.label_propagation) over the same symmetric customer-supplier
    edge list as _sql_kcore: per round, each node's next label is the
    most frequent neighbour label, ties -> smallest label."""
    steps = [
        """base AS (SELECT DISTINCT CAST(o_custkey * 2 AS BIGINT) AS src,
                           CAST(l_suppkey * 2 + 1 AS BIGINT) AS dst
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey)""",
        "e AS (SELECT src, dst FROM base UNION ALL SELECT dst, src FROM base)",
        "l0 AS (SELECT DISTINCT src AS node, src AS lab FROM e)",
    ]
    for t in range(1, iters + 1):
        steps.append(
            f"""
    c{t} AS (SELECT e.src AS node, l.lab, count(*) AS c
             FROM e JOIN l{t - 1} l ON l.node = e.dst GROUP BY 1, 2),
    l{t} AS (SELECT node, lab FROM (
               SELECT node, lab,
                      row_number() OVER (PARTITION BY node
                                         ORDER BY c DESC, lab ASC) AS rn
               FROM c{t}) WHERE rn = 1)"""
        )
    return (
        "WITH "
        + ",".join(steps)
        + f"""
    SELECT node, lab AS community,
           CAST(count(*) OVER (PARTITION BY lab) AS BIGINT) AS community_size
    FROM l{iters}"""
    )


@_q("label_propagation_communities", _sql_lpa(3))
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (3 rounds,
    ties -> min label) over the symmetric customer-supplier interaction
    graph — the coarse 'which sources cluster together' signal mixture
    and contamination analyses consume, and the deterministic complement
    to connected components (which over-merges through single bridge
    edges). Fixed rounds + integer tie-break = exact replay on any
    engine; the oracle unrolls each round. Per-round cost is one
    key-partitioned edge x label join plus |V|-bounded aggregates — no
    windows, no global sorts; see graph.label_propagation."""
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    base = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).cast("long").alias("src"),
            (F.col("l_suppkey") * 2 + 1).cast("long").alias("dst"),
        )
        .distinct()
    )
    edges = base.union(base.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return graph.label_propagation(edges, iters=3)


# Fixed BPE merge table for bpe_token_stats: the 12 merges
# text.bpe_train(documents@sf0.001, num_merges=12) learns (deterministic
# argmax with (count desc, pair asc) ties; re-derivable any time). The
# QUERY pins the table as literals — like a deployed tokenizer artifact —
# which is what lets the DuckDB oracle replay the encode exactly; the
# LEARNER itself is covered by goldens + a hypothesis property test
# against a pure-Python BPE (tests/test_curation.py, test_properties.py).
_BPE_MERGES: list[tuple[str, str]] = [
    ("e", "r"), ("o", "r"), ("i", "n"), ("o", "w"), ("s", "t"), ("l", "u"),
    ("a", "r"), ("p", "ar"), ("m", "er"), ("a", "t"), ("a", "n"), ("c", "an"),
]


def _bpe_oracle_sql(merges: list[tuple[str, str]]) -> str:
    rep = "' ' || rtrim(regexp_replace(w, '(.)', '\\1  ', 'g')) || ' '"
    for a, b in merges:
        rep = f"replace({rep}, ' {a}  {b} ', ' {a}{b} ')"
    return f"""
    WITH words AS (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
      FROM documents),
    sym AS (SELECT {rep} AS s FROM words WHERE w <> ''),
    toks AS (SELECT unnest(string_split(trim(s), '  ')) AS token FROM sym)
    SELECT token, CAST(count(*) AS BIGINT) AS cnt
    FROM toks GROUP BY token ORDER BY cnt DESC, token LIMIT 30
    """


@_q("bpe_token_stats", _bpe_oracle_sql(_BPE_MERGES))
def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 BPE tokens of the corpus under a FIXED 12-merge table (the
    deployed-tokenizer-artifact pattern: learning via text.bpe_train is
    model-sized driver work; the encode pass is per word a chain of 12
    LITERAL replaces over the double-space symbol encoding, identical
    semantics in Spark and DuckDB `replace`, zero UDFs — see
    operators/text.py:_bpe_word_sym for why literal replace IS the BPE
    greedy merge pass, and text.bpe_token_stream for the explode-first
    plan shape that keeps the chain in whole-stage codegen (the r8
    bench regression was the HOF form evaluating interpreted, three
    times, on one task)."""
    docs = load_table(spark, "documents", sf_dir)
    return (
        text.bpe_token_stream(docs, _BPE_MERGES, id_col="doc_id")
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("token"))
        .limit(30)
    )


@_q(
    "inverted_index_postings",
    r"""
    WITH toks AS (SELECT doc_id,
                         list_filter(regexp_split_to_array(text, '\s+'),
                                     x -> x <> '') AS t
                  FROM documents),
    tok AS (SELECT doc_id, unnest(t) AS term FROM toks),
    tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           FROM tok GROUP BY 1, 2),
    agg AS (SELECT term,
                   CAST(count(*) AS BIGINT) AS df,
                   CAST(sum(tf) AS BIGINT) AS cf,
                   max(struct_pack(tf := tf, nd := -doc_id)) AS m
            FROM tf GROUP BY term)
    SELECT term, df, cf,
           CAST(-(m.nd) AS BIGINT) AS top_doc,
           CAST(m.tf AS BIGINT) AS top_tf
    FROM agg
    """,
)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-index construction: the per-term posting-list summary
    (document frequency, collection frequency, and the highest-tf
    posting with deterministic ties -> min doc) every retrieval stack
    materializes before serving — the artifact form of what
    bm25_topk_docs consumes on the fly. Two map-side-combined keyed
    aggregates — (term, doc) then term — with the top posting picked by
    an exact integer struct-max, no windows, no global sorts; shuffle
    volume is postings then vocabulary, never raw tokens. Whitespace
    tokens (functions.tokens), matching the tfidf/bm25 family."""
    docs = load_table(spark, "documents", sf_dir)
    tf = (
        docs.select(
            "doc_id", F.explode(tokens(F.col("text"))).alias("term")
        )
        .groupBy("term", "doc_id")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    return (
        tf.groupBy("term")
        .agg(
            F.count("*").cast("long").alias("df"),
            F.sum("tf").cast("long").alias("cf"),
            F.max(
                F.struct(F.col("tf"), (-F.col("doc_id")).alias("nd"))
            ).alias("m"),
        )
        .select(
            "term",
            "df",
            "cf",
            (-F.col("m.nd")).cast("long").alias("top_doc"),
            F.col("m.tf").cast("long").alias("top_tf"),
        )
    )


@_q(
    "tfidf_top_terms",
    r"""
    WITH toks AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
                  FROM documents),
    tok AS (SELECT doc_id, unnest(t) AS term FROM toks),
    tf AS (SELECT doc_id, term, count(*) AS c FROM tok GROUP BY doc_id, term),
    tot AS (SELECT doc_id, term, c, sum(c) OVER (PARTITION BY doc_id) AS tot FROM tf),
    dfreq AS (SELECT term, count(*) AS df_ FROM tf GROUP BY term),
    nd AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, term, round((c / tot) * ln(n_docs / df_), 6) AS score
      FROM tot JOIN dfreq USING (term) CROSS JOIN nd
    ),
    ranked AS (
      SELECT doc_id, term, score,
             row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
      FROM scored
    )
    SELECT doc_id, CAST(rk AS INT) AS rk, term, score FROM ranked WHERE rk <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms: tf = term count / doc length,
    idf = ln(n_docs / doc_freq), ranked by (rounded score desc, term asc)
    so the cut is deterministic in both engines.

    Plan shape (asserted in test_plans): ONE tokenize+aggregate pass —
    doc-frequency and doc-length are windows over the same (doc,term)
    table, so the token stream is exploded and shuffled exactly once —
    then a per-doc WindowGroupLimit takes the top 3 on the partitioning
    the previous window already established. The corpus-size scalar joins
    in as a broadcast of a 1-row aggregate, never a collected literal.
    Every stage is key-partitioned; vocabulary and document cardinality
    bound the windows."""
    docs = load_table(spark, "documents", sf_dir)
    from pyspark.sql.window import Window

    tok = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf0 = tok.groupBy("doc_id", "term").agg(F.count("*").alias("c"))
    # doc-frequency as a window over the SAME aggregate (tf0 rows are
    # distinct (doc,term) pairs, so count-over-term == docs containing the
    # term): one token pass, one aggregation, no self-join of the token
    # stream — the two-branch groupBy form double-scans the corpus.
    # term-window first, doc-window second: the doc_id partitioning then
    # carries straight into the final per-doc top-k (no re-exchange).
    tf = tf0.withColumn("df_", F.count("*").over(Window.partitionBy("term"))).withColumn(
        "tot", F.sum("c").over(Window.partitionBy("doc_id"))
    )
    nd = docs.agg(F.count("*").alias("n_docs"))
    scored = tf.crossJoin(F.broadcast(nd)).withColumn(
        "score",
        F.round((F.col("c") / F.col("tot")) * F.log(F.col("n_docs") / F.col("df_")), 6),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "rk", "term", "score")
    )


@_q(
    "vocab_coverage",
    r"""
    WITH wc AS (
      SELECT word, count(*)::BIGINT AS cnt
      FROM (SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS word
            FROM documents)
      GROUP BY word
    ),
    tot AS (SELECT sum(cnt)::BIGINT AS total FROM wc),
    ranked AS (
      SELECT word, cnt,
             row_number() OVER (ORDER BY cnt DESC, word) AS rank,
             sum(cnt) OVER (ORDER BY cnt DESC, word ROWS UNBOUNDED PRECEDING) AS cum
      FROM wc
    )
    SELECT word, cnt, CAST(rank AS INT) AS rank,
           CAST((cum * 1000000) // total AS BIGINT) AS coverage_e6
    FROM ranked, tot
    WHERE rank <= 1000
    """,
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-ranked vocabulary with cumulative corpus coverage — the
    tokenizer-training primitive ("how many types cover 99% of tokens").
    coverage_e6 = floor(cumulative_count * 1e6 / total) is pure BIGINT
    arithmetic, exact in any engine and summation order.

    Scale shape (round-10 rewrite — VERDICT r9 #5: the old form ran
    rank/cumsum/total as GLOBAL windows over the whole vocabulary on
    one single-partition exchange, and at 100 TB a corpus vocabulary is
    ~1e9 types — data-shaped, not model-shaped): the token stream
    aggregates to the vocabulary in one map-side-combined shuffle on
    word (the word_count plan); the output is capped at rank <= 1000,
    so the rank pass is a distributed TOP-K — orderBy(cnt desc, word)
    .limit(1000) compiles to TakeOrderedAndProject, a per-partition
    top-k heap that never sorts (or single-partitions) the vocabulary.
    Rank and cumulative coverage are then computed INSIDE a bounded
    1000-element array (collect_list of the top-k — a model artifact,
    the IVF-codebook argument) with indexed transform + slice-aggregate
    (O(k^2) = 5e5 long adds in codegen); no Window operator anywhere,
    so nothing ever moves ALL vocab rows to one partition. The corpus
    total is a sum branch over the SAME word-shuffle exchange (Catalyst
    ReusedExchange — the corpus is still tokenized once; asserted: one
    scan) broadcast onto the 1-row packed frame."""
    docs = load_table(spark, "documents", sf_dir)
    wc = (
        docs.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    # struct(-cnt, word) sorts ascending == (cnt desc, word asc): one
    # array_sort key for both the heap's compound order and the packed
    # array's final order.
    top = wc.orderBy(F.desc("cnt"), F.asc("word")).limit(1000)
    packed = top.agg(
        F.sort_array(
            F.collect_list(
                F.struct((-F.col("cnt")).alias("nc"), F.col("word").alias("word"))
            )
        ).alias("arr")
    )
    tot = wc.agg(F.sum("cnt").alias("total"))
    arr = F.col("arr")
    rows = F.transform(
        arr,
        lambda x, i: F.struct(
            x["word"].alias("word"),
            (-x["nc"]).alias("cnt"),
            (i + 1).cast("int").alias("rank"),
            F.aggregate(
                F.slice(arr, F.lit(1), i + 1),
                F.lit(0).cast("long"),
                lambda acc, y: acc - y["nc"],
            ).alias("cum"),
        ),
    )
    return (
        packed.crossJoin(F.broadcast(tot))
        .select(F.explode(rows).alias("r"), "total")
        .select(
            F.col("r.word").alias("word"),
            F.col("r.cnt").alias("cnt"),
            F.col("r.rank").alias("rank"),
            F.expr("(r.cum * 1000000) div total").alias("coverage_e6"),
        )
    )


# ---------------------------------------------------------------------------
# Non-SQL-expressible / approximate (rows-only checks)
# ---------------------------------------------------------------------------


@_q(
    "approx_distinct_users",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS exact_users,
           TRUE AS approx_within_5pct
    FROM events GROUP BY event_type
    """,
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ sketch (O10 global-state analogue) made oracle-checkable: the
    declared output is the exact distinct count plus a boolean asserting
    the approx_count_distinct estimate lands within 5% of it. rsd=0.01
    leaves ~5 sigma of headroom under the 5% bound, so the boolean is
    deterministic; the estimate itself stays exercised without putting a
    nondeterministic value in the hashed output (r2 `no_oracle` row)."""
    ev = load_table(spark, "events", sf_dir)
    exact = F.count_distinct("user_id")
    approx = F.approx_count_distinct("user_id", rsd=0.01)
    return ev.groupBy("event_type").agg(
        exact.alias("exact_users"),
        (F.abs(approx.cast("double") - exact) <= 0.05 * exact).alias(
            "approx_within_5pct"
        ),
    )


# The LSH hyperplanes are deterministic functions of (plane, dim) via the
# md5-portable hash; similarity.plane_signs is the ONE definition of the
# matrix (precomputed driver-side since round 4 — the per-row md5-of-
# constants form was VERDICT r3's top inefficiency), and the oracle
# inlines the same 8x64 signs as literals to rebuild identical buckets.
_lsh_signs = similarity.plane_signs

_SQL_LSH_BUCKET = " + ".join(
    f"(CASE WHEN list_dot_product(v, [{', '.join(str(s) for s in row)}]) > 0"
    f" THEN {1 << p} ELSE 0 END)"
    for p, row in enumerate(_lsh_signs())
)

# Multi-probe mask list (Hamming weight <= 2 over 8 planes) as a SQL
# literal — the same deterministic sequence similarity.probe_masks builds.
_SQL_LSH_MASKS = ", ".join(str(m) for m in similarity.probe_masks(8, 2))


@_q(
    "ann_lsh_topk",
    f"""
    WITH ve AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS vn
      FROM embeddings
    ),
    b AS (SELECT vec_id, v, vn, {_SQL_LSH_BUCKET} AS bucket FROM ve),
    probes AS (
      SELECT vec_id, v, vn, xor(bucket, m) AS bucket
      FROM (SELECT * FROM b WHERE vec_id % 25 = 0),
           LATERAL (SELECT unnest([{_SQL_LSH_MASKS}]) AS m) u
    )
    SELECT qid, nid, CAST(rank AS INT) AS rank, cos FROM (
      SELECT q.vec_id AS qid, c.vec_id AS nid,
             round(list_dot_product(q.v, c.v) / (q.vn * c.vn), 6) AS cos,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY round(list_dot_product(q.v, c.v) / (q.vn * c.vn), 6) DESC, c.vec_id) AS rank
      FROM probes q JOIN b c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id)
    WHERE rank <= 10
    """,
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-PROBE LSH approximate top-k (probe radius 2: the query's
    bucket plus every bucket within Hamming distance 2 — 37 of 256
    probes, lifting measured recall@10 from ~2% single-bucket to ~30% on
    this corpus's weak-similarity neighbors; see
    similarity.lsh_topk's docstring and the recall test). The oracle
    reproduces the exact index: hyperplane signs are md5-derived per
    (plane, dim), inlined as SQL literals, and the probe mask sequence is
    inlined the same way; both engines bucket, probe, join, score, and
    rank identical candidate sets."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    return similarity.lsh_topk(queries, emb, k=10, probe_radius=2)


# The GEMM kernel is oracle-checked against the SAME ground truth as the
# JVM fold — the oracle describes bucket/probe/rank semantics, not the
# kernel (cf. embedding_covariance_blas below).
@_q("ann_lsh_topk_gemm", ORACLE["ann_lsh_topk"])
def ann_lsh_topk_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ann_lsh_topk with the blocked-GEMM scoring kernel
    (similarity.lsh_topk_gemm): identical multi-probe candidate
    generation, but each bucket's query x corpus block is scored by ONE
    numpy matmul inside applyInPandas — vectors cross to Python once per
    bucket, never once per pair. The round-5 100x measurement motivated
    it (the per-pair JVM fold took 126 s on ~90M candidates; this kernel
    takes 6 s on the same input — 21x). The per-block quota selects
    under the SAME (rounded cos desc, nid) total order the final window
    ranks by, and every candidate pair arises via exactly one bucket, so
    given equal rounded cosines the output EQUALS the JVM path's —
    it shares ann_lsh_topk's oracle (registered below). The one caveat:
    BLAS pairwise summation can differ from the fold in the last float
    bits, so a cosine sitting exactly on a 1e-6 rounding boundary could
    diverge — none does on these fixtures (consistency test
    tests/test_curation.py::test_lsh_topk_gemm_kernel_consistency pins
    overlap 1.0, max cos delta 0.0). This query routes through
    ``lsh_topk(kernel="gemm")`` — the documented deployment switch — so
    the driver row covers the wiring, not just the kernel function."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    return similarity.lsh_topk(queries, emb, k=10, probe_radius=2, kernel="gemm")


@_q(
    "streaming_wordcount_replay",
    # A bounded replay must end at exactly the batch answer, so the batch
    # word_count oracle applies verbatim — full row+hash check, not the
    # weaker rows-only contract.
    r"""
    SELECT word, count(*) AS cnt
    FROM (SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS word
          FROM documents)
    GROUP BY word
    """,
)
def streaming_wordcount_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded streaming replay of the flagship word count: file stream ->
    explode -> groupBy -> memory sink in complete mode, then read the
    table back (ssp Close protocol == trigger(availableNow)). The result
    must equal the batch word_count exactly (same oracle)."""
    import uuid

    from ssp_spark.streaming import _await_bounded

    docs_schema = load_table(spark, "documents", sf_dir).schema
    # file stream source needs a DIRECTORY; select the one fixture file by glob
    sdf = (
        spark.readStream.schema(docs_schema)
        .format("parquet")
        .option("pathGlobFilter", "documents.parquet")
        .load(sf_dir)
    )
    counts = (
        sdf.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    name = f"wc_{uuid.uuid4().hex[:8]}"
    q = (
        counts.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _await_bounded(q, 120)
    return spark.table(name)


# ---------------------------------------------------------------------------
# Batch 2: wider relational + function surface (SURVEY §2.3 checklist)
# ---------------------------------------------------------------------------


@_q(
    "cube_order_stats",
    """
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           count(*) AS cnt, round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "cnt",
            "total",
        )
    )


@_q(
    "grouping_sets_orders",
    """
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           count(*) AS cnt
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """,
)
def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via SQL over the parquet path (no temp-view state)."""
    return spark.sql(
        f"""
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               count(*) AS cnt
        FROM parquet.`{sf_dir}/orders.parquet`
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """
    )


@_q(
    "left_join_customer_order_counts",
    """
    SELECT c_custkey, count(o_orderkey) AS n_orders,
           round(coalesce(sum(o_totalprice), 0), 2) AS total_spent
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey
    """,
)
def left_join_customer_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_spent"),
        )
    )


@_q(
    "full_outer_user_activity",
    """
    SELECT coalesce(p.user_id, e.user_id) AS user_id,
           coalesce(p.n, 0) AS n_purchase, coalesce(e.n, 0) AS n_error
    FROM (SELECT user_id, count(*) AS n FROM events WHERE event_type = 'purchase'
          AND user_id % 3 = 0 GROUP BY user_id) p
    FULL OUTER JOIN
         (SELECT user_id, count(*) AS n FROM events WHERE event_type = 'error'
          AND user_id % 3 = 1 GROUP BY user_id) e
    ON p.user_id = e.user_id
    """,
)
def full_outer_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join with disjoint key subsets so both null sides are
    exercised."""
    ev = load_table(spark, "events", sf_dir)
    p = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("user_id") % 3 == 0))
        .groupBy("user_id")
        .agg(F.count("*").alias("pn"))
    )
    e = (
        ev.filter((F.col("event_type") == "error") & (F.col("user_id") % 3 == 1))
        .groupBy("user_id")
        .agg(F.count("*").alias("en"))
    )
    return p.join(e, "user_id", "full_outer").select(
        F.col("user_id"),
        F.coalesce("pn", F.lit(0)).alias("n_purchase"),
        F.coalesce("en", F.lit(0)).alias("n_error"),
    )


@_q(
    "window_funcs_showcase",
    """
    SELECT o_custkey, o_orderkey,
           CAST(row_number() OVER w_full AS INT) AS rn,
           CAST(rank() OVER w_year AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w_year AS BIGINT) AS drnk,
           round(lag(o_totalprice) OVER w_full, 2) AS prev_price,
           round(lead(o_totalprice) OVER w_full, 2) AS next_price,
           CAST(ntile(4) OVER w_full AS INT) AS quartile
    FROM orders
    WINDOW w_full AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey),
           w_year AS (PARTITION BY o_custkey ORDER BY year(o_orderdate))
    """,
)
def window_funcs_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OVER-function surface: row_number/rank/dense_rank/lag/lead/ntile.
    rank/dense_rank run over a COARSE ordering (order year) so tie
    semantics are actually exercised; row_number/lag/lead/ntile use a
    fully deterministic ordering."""
    orders = load_table(spark, "orders", sf_dir)
    w_full = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    w_year = Window.partitionBy("o_custkey").orderBy(F.year("o_orderdate"))
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w_full).alias("rn"),
        F.rank().over(w_year).cast("long").alias("rnk"),
        F.dense_rank().over(w_year).cast("long").alias("drnk"),
        F.round(F.lag("o_totalprice").over(w_full), 2).alias("prev_price"),
        F.round(F.lead("o_totalprice").over(w_full), 2).alias("next_price"),
        F.ntile(4).over(w_full).alias("quartile"),
    )


@_q(
    "math_funcs",
    """
    SELECT l_orderkey, l_linenumber,
           abs(l_quantity - 25) AS dist_from_25,
           round(power(l_discount, 2), 6) AS disc_sq,
           round(sqrt(l_quantity), 6) AS qty_sqrt,
           round(ln(l_quantity), 6) AS qty_ln,
           CAST(ceil(l_extendedprice / 1000) AS BIGINT) AS price_k_ceil,
           CAST(floor(l_extendedprice / 1000) AS BIGINT) AS price_k_floor,
           round(l_extendedprice % 97, 2) AS price_mod
    FROM lineitem WHERE l_orderkey % 50 = 0
    """,
)
def math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir).filter(F.col("l_orderkey") % 50 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_quantity") - 25).alias("dist_from_25"),
        F.round(F.pow("l_discount", F.lit(2)), 6).alias("disc_sq"),
        F.round(F.sqrt("l_quantity"), 6).alias("qty_sqrt"),
        F.round(F.log("l_quantity"), 6).alias("qty_ln"),
        F.ceil(F.col("l_extendedprice") / 1000).alias("price_k_ceil"),
        F.floor(F.col("l_extendedprice") / 1000).alias("price_k_floor"),
        F.round(F.col("l_extendedprice") % 97, 2).alias("price_mod"),
    )


@_q(
    "array_funcs_embeddings",
    """
    SELECT vec_id,
           CAST(len(embedding) AS INT) AS dim,
           list_max(list_transform(embedding, x -> x::DOUBLE)) AS vmax,
           list_min(list_transform(embedding, x -> x::DOUBLE)) AS vmin,
           round(list_sum(list_transform(embedding, x -> x::DOUBLE)), 6) AS vsum,
           embedding[1]::DOUBLE AS first_dim
    FROM embeddings
    """,
)
def array_funcs_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    as_double = F.transform("embedding", lambda x: x.cast("double"))
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.array_max(as_double).alias("vmax"),
        F.array_min(as_double).alias("vmin"),
        F.round(F.aggregate(as_double, F.lit(0.0), lambda a, x: a + x), 6).alias("vsum"),
        F.element_at(as_double, 1).alias("first_dim"),
    )


@_q(
    "percentiles_by_flag",
    """
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS p25,
           quantile_cont(l_quantity, 0.50) AS p50,
           quantile_cont(l_quantity, 0.75) AS p75,
           round(min(l_quantity), 2) AS qmin, round(max(l_quantity), 2) AS qmax
    FROM lineitem GROUP BY l_returnflag
    """,
)
def percentiles_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark percentile == DuckDB
    quantile_cont: both linear interpolation over the sorted values)."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.25)).alias("p25"),
        F.percentile("l_quantity", F.lit(0.50)).alias("p50"),
        F.percentile("l_quantity", F.lit(0.75)).alias("p75"),
        F.round(F.min("l_quantity"), 2).alias("qmin"),
        F.round(F.max("l_quantity"), 2).alias("qmax"),
    )


@_q(
    "date_trunc_weekly_orders",
    """
    SELECT epoch(date_trunc('week', o_orderdate))::BIGINT AS week_start_ep,
           count(*) AS cnt
    FROM orders GROUP BY week_start_ep
    """,
)
def date_trunc_weekly_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    return (
        orders.select(
            F.unix_timestamp(F.date_trunc("week", "o_orderdate").cast("timestamp")).alias(
                "week_start_ep"
            )
        )
        .groupBy("week_start_ep")
        .agg(F.count("*").alias("cnt"))
    )


@_q(
    "dedup_events_keeper",
    """
    SELECT user_id, event_type, min(event_id) AS keeper_event_id, count(*) AS n_dups
    FROM events GROUP BY user_id, event_type
    """,
)
def dedup_events_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dropDuplicates: keep min event_id per key (the
    order-dependent dropDuplicates() itself is exercised in tests)."""
    ev = load_table(spark, "events", sf_dir)
    return ev.groupBy("user_id", "event_type").agg(
        F.min("event_id").alias("keeper_event_id"), F.count("*").alias("n_dups")
    )


@_q(
    "q10_top_customers_by_revenue",
    """
    SELECT c_custkey, c_name,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) / 10000.0
               AS revenue,
           count(DISTINCT o_orderkey) AS n_orders
    FROM customer JOIN orders ON o_custkey = c_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
    GROUP BY c_custkey, c_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_top_customers_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: fact-to-fact join + per-customer rollup + top-k.
    Deterministic limit ties on c_custkey; revenue integer-scaled."""
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz")
    )
    li = load_table(spark, "lineitem", sf_dir)
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_bp = 100 - F.round(F.col("l_discount") * 100).cast("long")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            (F.sum(cents * disc_bp) / 10000.0).alias("revenue"),
            F.count_distinct("o_orderkey").alias("n_orders"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@_q(
    "stats_numeric",
    """
    SELECT event_type, count(*) AS n,
           TRUE AS std_ok, TRUE AS var_ok, TRUE AS skew_ok
    FROM events GROUP BY event_type
    """,
)
def stats_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in stddev/variance/skewness, made oracle-checkable (r2
    `no_oracle` row): their FP accumulation order is partition-dependent,
    so instead of hashing the raw values the query emits booleans
    asserting each built-in matches an exact integer-moment recomputation
    within 1e-6 relative error — deterministically TRUE (FP noise is
    ~1e-12) yet still failing on any real implementation divergence.
    Third moment accumulates in double: cents^3*n overflows BIGINT past
    ~sf1 at these magnitudes, and 1e-6 tolerance needs no exactness."""
    ev = load_table(spark, "events", sf_dir)
    cents = F.round(F.col("value") * 100).cast("long")
    cd = cents.cast("double")
    agg = ev.select("event_type", cents.alias("c"), cd.alias("cd")).groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
        F.sum(F.col("cd") * F.col("cd") * F.col("cd")).alias("s3"),
        F.stddev("cd").alias("b_std"),
        F.variance("cd").alias("b_var"),
        F.skewness("cd").alias("b_skew"),
    )
    n, s1, s2, s3 = F.col("n"), F.col("s1").cast("double"), F.col("s2").cast("double"), F.col("s3")
    mean = s1 / n
    # sample variance (built-in variance/stddev are sample-normalized)
    var_s = (n * s2 - s1 * s1) / (n * (n - F.lit(1.0)))
    # population moments for skewness: g1 = m3 / m2^(3/2)
    m2 = s2 / n - mean * mean
    m3 = s3 / n - 3 * mean * (s2 / n) + 2 * mean * mean * mean
    skew = m3 / F.pow(F.sqrt(m2), 3)

    def _close(a, b):
        return F.abs(a - b) <= 1e-6 * F.greatest(F.abs(b), F.lit(1.0))

    return agg.select(
        "event_type",
        "n",
        _close(F.col("b_std"), F.sqrt(var_s)).alias("std_ok"),
        _close(F.col("b_var"), var_s).alias("var_ok"),
        _close(F.col("b_skew"), skew).alias("skew_ok"),
    )


@_q(
    "map_funcs_roundtrip",
    """
    SELECT event_id,
           'type,uid' AS keys,
           event_type AS type_val,
           '{"type":"' || event_type || '","uid":"' || CAST(user_id AS VARCHAR) || '"}' AS as_json
    FROM events
    """,
)
def map_funcs_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-function surface (create_map/map_keys/element_at/to_json). The
    oracle reconstructs Spark's to_json rendering literally — valid here
    because event_type values need no JSON escaping (asserted nowhere
    cheaper than the hash match itself). ``keys`` is joined to a scalar
    string: the driver's pandas canonicalizer cannot sort list-valued
    cells (r2 red row), and array_join keeps map_keys exercised with a
    sortable schema."""
    ev = load_table(spark, "events", sf_dir)
    m = F.create_map(F.lit("type"), F.col("event_type"), F.lit("uid"), F.col("user_id").cast("string"))
    return ev.select(
        "event_id",
        F.array_join(F.map_keys(m), ",").alias("keys"),
        F.element_at(m, "type").alias("type_val"),
        F.to_json(m).alias("as_json"),
    )


@_q(
    "stats_numeric_exact",
    """
    WITH c AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents FROM events),
    m AS (SELECT event_type, count(*) AS n,
                 sum(cents) AS s1, sum(cents * cents) AS s2
          FROM c GROUP BY event_type)
    SELECT event_type, n,
           round(s1 / n / 100.0, 4) AS value_mean,
           round((n * s2 - s1 * s1) / (n * (n - 1)) / 10000.0, 4) AS value_var,
           round(sqrt((n * s2 - s1 * s1) / (n * (n - 1))) / 100.0, 4) AS value_std
    FROM m
    """,
)
def stats_numeric_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic two-moment statistics: values are cent-scaled to
    exact integers, so sums/counts are exact and sample variance
    (n*S2 - S1^2) / (n*(n-1)) is computed from identical operands in
    both engines — unlike the built-in stddev/variance (stats_numeric,
    rows-only), whose FP accumulation order is partition-dependent.

    Moments ride DECIMAL(38,0) (round-9 fix: the sf10 suite run CRASHED
    here with ARITHMETIC_OVERFLOW — n*S2 at 100x events is ~2.5e23,
    past BIGINT, exactly the promotion this docstring had promised).
    DuckDB needed no change: its integer sums already promote to
    HUGEINT. Cross-engine float parity is preserved because every
    decimal stays an EXACT integer (< 10^38) and both engines convert
    the identical integers to double (IEEE nearest) immediately before
    the single division sequence — the same doubles the BIGINT form
    produced at small scale, now without the 2^63 ceiling."""
    ev = load_table(spark, "events", sf_dir)
    cents = F.round(F.col("value") * 100).cast("long")
    dec = "decimal(38,0)"
    m = (
        ev.select("event_type", cents.alias("cents"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("cents").cast(dec)).alias("s1"),
            F.sum((F.col("cents") * F.col("cents")).cast(dec)).alias("s2"),
        )
    )
    nd = F.col("n").cast(dec)
    num = (nd * F.col("s2") - F.col("s1") * F.col("s1")).cast("double")
    den = (nd * (nd - 1)).cast("double")
    var_cents = num / den
    return m.select(
        "event_type",
        "n",
        F.round(F.col("s1").cast("double") / F.col("n").cast("double") / 100.0, 4).alias(
            "value_mean"
        ),
        F.round(var_cents / 10000.0, 4).alias("value_var"),
        F.round(F.sqrt(var_cents) / 100.0, 4).alias("value_std"),
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing as declared queries: media bytes are DERIVED from
# documents.text (utf-8 encode) since the fixtures carry no real media —
# the binary column, Arrow-batched mapInPandas, and fan-out shapes are the
# real thing; only the codec is a deterministic stand-in
# (ssp_spark.operators.multimodal).
# ---------------------------------------------------------------------------


@_q(
    "multimodal_features",
    """
    SELECT doc_id AS media_id,
           octet_length(encode(text))::BIGINT AS n_bytes,
           md5(text) AS content_md5
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column feature extraction (operators/multimodal.py):
    documents.text -> opaque bytes -> mapInPandas(extract_features).
    The oracle checks the byte-level outputs (length, md5 digest); the
    fake embedding column is plumbing-only and projected away here (its
    determinism is asserted in tests/test_multimodal.py)."""
    from ssp_spark.operators import multimodal as mm

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", F.encode("text", "utf-8").alias("data")
    )
    feats = mm.extract_features(mm.attach_media(docs, "data", "image", "png"), "doc_id", "data")
    return feats.select("media_id", "n_bytes", "content_md5")


@_q(
    "multimodal_frame_sampling",
    """
    SELECT doc_id AS media_id, CAST(i AS INT) AS frame_idx,
           CAST(i * 1000 AS BIGINT) AS offset_ms
    FROM documents,
         LATERAL (SELECT unnest(generate_series(0,
                    (octet_length(encode(text)) - 1) // 1000)) AS i) u
    WHERE octet_length(encode(text)) > 0
    """,
)
def multimodal_frame_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing (1->n fan-out through mapInPandas,
    operators/multimodal.py sample_frames): fake duration = byte length,
    one frame per 1000 'ms'. Oracle reproduces the offset arithmetic."""
    from ssp_spark.operators import multimodal as mm

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", F.encode("text", "utf-8").alias("data")
    )
    return mm.sample_frames(docs, "doc_id", "data", every_ms=1000)


@_q(
    "regexp_funcs",
    r"""
    SELECT event_id,
           regexp_extract(props, '"k":\s*(\d+)', 1) AS k_str,
           regexp_replace(event_type, '[aeiou]', '_', 'g') AS type_devoweled,
           CASE WHEN regexp_matches(event_type, '^(click|view)$') THEN 1 ELSE 0 END AS is_impression
    FROM events WHERE event_id % 20 = 0
    """,
)
def regexp_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_* scalar surface (SURVEY §2.3): extract/replace/match, all
    JVM-side Catalyst expressions."""
    ev = load_table(spark, "events", sf_dir).filter(F.col("event_id") % 20 == 0)
    return ev.select(
        "event_id",
        F.regexp_extract("props", r'"k":\s*(\d+)', 1).alias("k_str"),
        F.regexp_replace("event_type", "[aeiou]", "_").alias("type_devoweled"),
        F.when(F.col("event_type").rlike("^(click|view)$"), 1).otherwise(0).alias("is_impression"),
    )


# ---------------------------------------------------------------------------
# Batch 3: subquery shapes (EXISTS / NOT EXISTS / IN / correlated &
# uncorrelated scalar subqueries) + TPC-H Q6 + IVF similarity search.
#
# The subquery queries go through spark.sql on purpose: the engine's SQL
# surface is part of the contract, and Catalyst's subquery rewrites
# (EXISTS -> left semi join, NOT EXISTS -> left anti join, correlated
# scalar -> aggregate + join) are exactly the plans we'd hand-write —
# asserted in tests/test_plans.py.
# ---------------------------------------------------------------------------


@_q(
    "q6_forecast_revenue",
    """
    SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) / 10000.0
               AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan + conjunctive predicate + global agg.
    The whole WHERE clause reaches the parquet reader as PushedFilters
    (asserted in test_plans.py) — at 100 TB this is the difference
    between reading 4 columns of a few row groups and reading the table."""
    return spark.sql(
        f"""
        SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                        * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) / 1e4
                   AS revenue,
               count(*) AS n_items
        FROM parquet.`{sf_dir}/lineitem.parquet`
        WHERE l_shipdate >= TIMESTAMP_NTZ '1997-01-01'
          AND l_shipdate < TIMESTAMP_NTZ '1998-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
        """
    )


@_q(
    "q4_priority_exists",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
    GROUP BY o_orderpriority
    """,
)
def q4_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (correlated EXISTS; the fixture lineitem has no
    commit/receipt dates, so the inner predicate is quantity > 45).
    Catalyst rewrites the EXISTS to a left semi join on l_orderkey —
    lineitem is aggregated to distinct keys before the join, never
    duplicated."""
    return spark.sql(
        f"""
        SELECT o_orderpriority, count(*) AS order_count
        FROM parquet.`{sf_dir}/orders.parquet` o
        WHERE o_orderdate >= TIMESTAMP_NTZ '1997-01-01'
          AND o_orderdate < TIMESTAMP_NTZ '1998-01-01'
          AND EXISTS (SELECT 1 FROM parquet.`{sf_dir}/lineitem.parquet` l
                      WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
        GROUP BY o_orderpriority
        """
    )


@_q(
    "q17_small_qty_revenue",
    """
    SELECT round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 7e2, 2)
             AS avg_yearly,
           count(*) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#13'
      AND l_quantity < (SELECT 0.5 * avg(l2.l_quantity) FROM lineitem l2
                        WHERE l2.l_partkey = p_partkey)
    """,
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery (per-part average
    quantity). Catalyst decorrelates it into a per-partkey aggregate
    joined back — one extra scan + one small join instead of a
    per-row subquery. Determinism: l_quantity is integral, so avg is
    an exact sum/count; revenue is summed as cent-scaled BIGINT so the
    accumulation order cannot move the result (a raw double sum is
    partition-order-dependent before rounding)."""
    return spark.sql(
        f"""
        SELECT round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 7e2, 2)
                 AS avg_yearly,
               count(*) AS n_items
        FROM parquet.`{sf_dir}/lineitem.parquet`
        JOIN parquet.`{sf_dir}/part.parquet` ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#13'
          AND l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                            FROM parquet.`{sf_dir}/lineitem.parquet` l2
                            WHERE l2.l_partkey = p_partkey)
        """
    )


@_q(
    "q18_large_orders",
    """
    SELECT c_custkey, o_orderkey, epoch(o_orderdate)::BIGINT AS orderdate_ep,
           round(o_totalprice, 2) AS total_price, round(sum(l_quantity), 2) AS total_qty
    FROM customer JOIN orders ON o_custkey = c_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey HAVING sum(l_quantity) > 100)
    GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (orders with total quantity > 100). The textbook
    IN-subquery form makes Catalyst infer the semi-join filter onto BOTH
    sides of the orders-lineitem join, duplicating the per-order quantity
    aggregate (two full lineitem scans+aggs — observed in the plan). The
    scale-correct plan aggregates lineitem ONCE, HAVING-filters, and
    joins the survivors; identical results, half the heavy lifting. The
    oracle keeps the classic IN form. Quantity sums are exact (integral)."""
    return spark.sql(
        f"""
        WITH big AS (
          SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
          FROM parquet.`{sf_dir}/lineitem.parquet`
          GROUP BY l_orderkey HAVING sum(l_quantity) > 100
        )
        SELECT c_custkey, o_orderkey,
               unix_timestamp(CAST(o_orderdate AS TIMESTAMP)) AS orderdate_ep,
               round(o_totalprice, 2) AS total_price,
               total_qty
        FROM big
        JOIN parquet.`{sf_dir}/orders.parquet` ON o_orderkey = l_orderkey
        JOIN parquet.`{sf_dir}/customer.parquet` ON c_custkey = o_custkey
        """
    )


@_q(
    "q22_idle_rich_customers",
    """
    SELECT c_nationkey, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
    FROM customer c
    WHERE c_acctbal > (SELECT round(sum(c_acctbal), 2) / count(*) FROM customer)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
    GROUP BY c_nationkey
    """,
)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: uncorrelated scalar subquery (global average
    acctbal — computed once, broadcast as a literal at runtime) plus a
    correlated NOT EXISTS (no pending order), which Catalyst turns into
    a left anti join. The average is round(sum)/count so both engines
    divide identical operands."""
    return spark.sql(
        f"""
        SELECT c_nationkey, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
        FROM parquet.`{sf_dir}/customer.parquet` c
        WHERE c_acctbal > (SELECT round(sum(c_acctbal), 2) / count(*)
                           FROM parquet.`{sf_dir}/customer.parquet`)
          AND NOT EXISTS (SELECT 1 FROM parquet.`{sf_dir}/orders.parquet` o
                          WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
        GROUP BY c_nationkey
        """
    )


@_q(
    "ann_ivf_topk",
    """
    WITH cent AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cv,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS cn
      FROM embeddings WHERE vec_id % 50 = 7
    ),
    corp AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS vn
      FROM embeddings
    ),
    asg AS (
      SELECT vec_id, v, vn, cid FROM (
        SELECT c.vec_id, c.v, c.vn, n.cid,
               row_number() OVER (PARTITION BY c.vec_id
                 ORDER BY round(list_dot_product(c.v, n.cv) / (c.vn * n.cn), 6) DESC, n.cid) AS rn
        FROM corp c CROSS JOIN cent n)
      WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id AS qid, v AS qv, vn AS qn, cid FROM (
        SELECT c.vec_id, c.v, c.vn, n.cid,
               row_number() OVER (PARTITION BY c.vec_id
                 ORDER BY round(list_dot_product(c.v, n.cv) / (c.vn * n.cn), 6) DESC, n.cid) AS rn
        FROM corp c CROSS JOIN cent n WHERE c.vec_id % 25 = 0)
      WHERE rn <= 2
    )
    SELECT qid, nid, CAST(rank AS INT) AS rank, cos FROM (
      SELECT p.qid, a.vec_id AS nid,
             round(list_dot_product(p.qv, a.v) / (p.qn * a.vn), 6) AS cos,
             row_number() OVER (PARTITION BY p.qid
               ORDER BY round(list_dot_product(p.qv, a.v) / (p.qn * a.vn), 6) DESC, a.vec_id) AS rank
      FROM probes p JOIN asg a ON a.cid = p.cid AND a.vec_id <> p.qid)
    WHERE rank <= 10
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-10 per query: codebook = vectors with
    vec_id % 50 == 7 (deterministic stand-in for k-means centroids, so
    the oracle can rebuild the identical index), nprobe=2. Cell
    assignment is map-side against driver-collected codebook literals;
    search joins only the probed cells (similarity.ivf_topk). The
    codebook is a per-(session, dataset) model artifact, collected once
    and reused across calls — same reuse rule as catalog.load_table."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    per_session = _IVF_CODEBOOKS.setdefault(spark, {})
    cached = per_session.get(sf_dir)
    if cached is None:
        centroids = emb.filter(F.col("vec_id") % 50 == 7)
        codebook = similarity.ivf_codebook(centroids)
        cent_frame = similarity._centroid_frame(spark, codebook)
        cached = per_session[sf_dir] = (codebook, cent_frame)
    codebook, cent_frame = cached
    return similarity.ivf_topk(
        queries, emb, None, k=10, nprobe=2, codebook=codebook, cent_frame=cent_frame
    )


# The GEMM assignment kernel is oracle-checked against the SAME ground
# truth as the expr fold — the oracle describes codebook/probe/rank
# semantics, not the kernel (cf. ann_lsh_topk_gemm above).
@_q("ann_ivf_topk_gemm", ORACLE["ann_ivf_topk"])
def ann_ivf_topk_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ann_ivf_topk with the GEMM assignment kernel
    (similarity.ivf_cells_gemm): identical codebook, probes, and rank
    semantics, but the corpus x cells scoring — the ENTIRE wall clock
    once cells grow with the corpus (sf1 measured 69.9 s on the expr
    kernel, BASELINE.md round 8) — runs as one numpy matmul per Arrow
    batch. vnorms and the final candidate cosines stay on the exact
    JVM index-order fold, so the only divergence risk vs the expr twin
    is a CELL choice whose rounded cosine sits on a 1e-6 boundary (the
    lsh_topk_gemm caveat; none on these fixtures — consistency test
    tests/test_curation.py::test_ivf_topk_gemm_kernel_consistency).
    Routed through ``ivf_topk(kernel="gemm")`` — the documented
    deployment switch — so the driver row covers the wiring."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    per_session = _IVF_CODEBOOKS.setdefault(spark, {})
    cached = per_session.get(sf_dir)
    if cached is None:
        centroids = emb.filter(F.col("vec_id") % 50 == 7)
        codebook = similarity.ivf_codebook(centroids)
        cent_frame = similarity._centroid_frame(spark, codebook)
        cached = per_session[sf_dir] = (codebook, cent_frame)
    codebook, _ = cached
    return similarity.ivf_topk(
        queries, emb, None, k=10, nprobe=2, codebook=codebook, kernel="gemm"
    )


@_q(
    "q7_nation_volume",
    """
    SELECT supp_nation, cust_nation, yr,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) / 10000.0
               AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(o_orderdate) AS INT) AS yr, l_extendedprice, l_discount
      FROM lineitem JOIN orders   ON o_orderkey = l_orderkey
                    JOIN customer ON c_custkey = o_custkey
                    JOIN supplier ON s_suppkey = l_suppkey
                    JOIN nation n1 ON n1.n_nationkey = s_nationkey
                    JOIN nation n2 ON n2.n_nationkey = c_nationkey
      WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    GROUP BY supp_nation, cust_nation, yr
    """,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between a nation pair by year.
    The nation dim joins both roles (supplier-side and customer-side) as
    broadcasts; the disjunctive pair filter lands after both so the fact
    chain still shuffles each table once."""
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    supp = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    n1 = F.broadcast(nation.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")))
    n2 = F.broadcast(nation.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")))
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_bp = 100 - F.round(F.col("l_discount") * 100).cast("long")
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(n1, supp.s_nationkey == F.col("n1_key"))
        .join(n2, cust.c_nationkey == F.col("n2_key"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("o_orderdate").alias("yr"))
        .agg((F.sum(cents * disc_bp) / 10000.0).alias("revenue"))
    )


@_q(
    "q14_promo_revenue",
    """
    WITH j AS (
      SELECT p_type,
             CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS cd
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE l_shipdate >= TIMESTAMP '1997-09-01' AND l_shipdate < TIMESTAMP '1997-10-01'
    )
    SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN cd ELSE 0 END) AS BIGINT) / 10000.0
               AS promo_revenue,
           CAST(sum(cd) AS BIGINT) / 10000.0 AS total_revenue,
           round((CAST(sum(CASE WHEN p_type = 'PROMO' THEN cd ELSE 0 END) AS BIGINT) / 10000.0)
                 / (CAST(sum(cd) AS BIGINT) / 10000.0) * 100.0, 6) AS promo_pct
    FROM j
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo share of one month's revenue. The shipdate
    predicate is pushed to the lineitem scan; part joins broadcast under
    AQE. Both revenue sums are exact integers before one final division."""
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp_ntz"))
    )
    part = load_table(spark, "part", sf_dir)
    cd = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        100 - F.round(F.col("l_discount") * 100).cast("long")
    )
    agg = (
        li.join(part, li.l_partkey == part.p_partkey)
        .select("p_type", cd.alias("cd"))
        .agg(
            (F.sum(F.when(F.col("p_type") == "PROMO", F.col("cd")).otherwise(F.lit(0))) / 10000.0).alias(
                "promo_revenue"
            ),
            (F.sum("cd") / 10000.0).alias("total_revenue"),
        )
    )
    return agg.select(
        "promo_revenue",
        "total_revenue",
        F.round(F.col("promo_revenue") / F.col("total_revenue") * 100.0, 6).alias("promo_pct"),
    )


@_q(
    "q19_disjunctive_revenue",
    """
    SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) / 10000.0
               AS revenue,
           count(*) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#22' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 35)
       OR (p_brand = 'Brand#25' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 50)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive brand/size/quantity
    predicates across the join. Catalyst extracts the common l_quantity
    bounds push-down-able to the scan; the full disjunction evaluates
    post-join on the broadcast part side."""
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir)
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_bp = 100 - F.round(F.col("l_discount") * 100).cast("long")

    def arm(brand: str, smin: int, smax: int, qmin: int, qmax: int):
        return (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(smin, smax)
            & F.col("l_quantity").between(qmin, qmax)
        )

    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(arm("Brand#13", 1, 15, 1, 20) | arm("Brand#22", 10, 30, 10, 35) | arm("Brand#25", 20, 50, 20, 50))
        .agg(
            (F.sum(cents * disc_bp) / 10000.0).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@_q(
    "dedup_minhash_clusters",
    f"""
    WITH RECURSIVE {_SQL_SHINGLES},
    base AS (SELECT doc_id, {_SQL_HASH64.format(x="sh")} AS h64 FROM sh),
    mh AS (
      SELECT doc_id, seed,
             min(({_SQL_MIX_A}[seed + 1] * (h64 & 4294967295)
                  + {_SQL_MIX_B}[seed + 1]) & 4294967295) AS minhash
      FROM base CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS seed) s
      GROUP BY doc_id, seed
    ),
    banded AS (
      SELECT doc_id, CAST(seed // 3 AS INT) AS band,
             string_agg(minhash::VARCHAR, ',' ORDER BY seed) AS band_sig
      FROM mh GROUP BY doc_id, band
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      FROM banded a JOIN banded b USING (band, band_sig)
      WHERE a.doc_id < b.doc_id
    ),
    edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
              UNION ALL SELECT id2, id1 FROM pairs),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    reach(id, label) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.src, r.label FROM reach r JOIN edges e ON e.dst = r.id
    )
    SELECT id AS doc_id, min(label) AS component_id FROM reach GROUP BY id
    """,
)
def dedup_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: MinHash-LSH candidate pairs resolved into
    connected components (component_id = min doc id in the cluster) via
    iterative hash-to-min label propagation (operators.dedup
    .connected_components). The reference has nothing iterative; the
    oracle verifies the fixpoint with a recursive CTE over the identical
    pair graph — an exact, transitive match, not a per-pair check."""
    docs = load_table(spark, "documents", sf_dir)
    # downstream stage: consumes the materialized pair artifact (see
    # _minhash_pairs_artifact — dedup_minhash_lsh measures building it)
    pairs = _minhash_pairs_artifact(spark, sf_dir)
    return dedup.connected_components(pairs).select(
        F.col("id").alias("doc_id"), "component_id"
    )


@_q(
    "leakage_safe_split",
    f"""
    WITH RECURSIVE {_SQL_SHINGLES},
    base AS (SELECT doc_id, {_SQL_HASH64.format(x="sh")} AS h64 FROM sh),
    mh AS (
      SELECT doc_id, seed,
             min(({_SQL_MIX_A}[seed + 1] * (h64 & 4294967295)
                  + {_SQL_MIX_B}[seed + 1]) & 4294967295) AS minhash
      FROM base CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS seed) s
      GROUP BY doc_id, seed
    ),
    banded AS (
      SELECT doc_id, CAST(seed // 3 AS INT) AS band,
             string_agg(minhash::VARCHAR, ',' ORDER BY seed) AS band_sig
      FROM mh GROUP BY doc_id, band
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      FROM banded a JOIN banded b USING (band, band_sig)
      WHERE a.doc_id < b.doc_id
    ),
    edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
              UNION ALL SELECT id2, id1 FROM pairs),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    reach(id, label) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.src, r.label FROM reach r JOIN edges e ON e.dst = r.id
    ),
    comp AS (SELECT id AS doc_id, min(label) AS g FROM reach GROUP BY id),
    grouped AS (
      SELECT d.doc_id, COALESCE(c.g, d.doc_id) AS g
      FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
    ),
    assigned AS (
      SELECT doc_id, g,
             CASE WHEN {_SQL_HASH64.format(x="g::VARCHAR")} % 100 < 80 THEN 'train'
                  WHEN {_SQL_HASH64.format(x="g::VARCHAR")} % 100 < 90 THEN 'valid'
                  ELSE 'test' END AS split
      FROM grouped
    )
    SELECT split, count(*) AS n_docs,
           CAST(count(DISTINCT g) AS BIGINT) AS n_groups,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum
    FROM assigned GROUP BY split
    """,
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware train/valid/test split: the unit of assignment is the
    NEAR-DUP CLUSTER, not the document — a doc and its near-duplicates
    always land on the same side, so evaluation can't score memorized
    training text (the leakage sample_split_hash's per-doc hash cannot
    rule out). Composition of shipped operators: MinHash-LSH pairs →
    connected components → singleton docs fall back to their own id as
    the group key → the SAME content-stable hash split, keyed by group.

    Scale: adds exactly one broadcast-or-shuffle left join (docs ×
    component labels, label table ≤ docs) and one aggregation on top of
    the clusters plan; the output is split-level stats with an id
    checksum, so the oracle verifies every assignment transitively."""
    docs = load_table(spark, "documents", sf_dir)
    # downstream stage: consumes the materialized pair artifact (see
    # _minhash_pairs_artifact — dedup_minhash_lsh measures building it)
    pairs = _minhash_pairs_artifact(spark, sf_dir)
    comp = dedup.connected_components(pairs).withColumnRenamed("id", "doc_id")
    grouped = docs.join(comp, "doc_id", "left").select(
        "doc_id", F.coalesce("component_id", F.col("doc_id")).alias("g")
    )
    h = portable_hash64(F.col("g").cast("string"))
    split = (
        F.when(h % 100 < 80, F.lit("train"))
        .when(h % 100 < 90, F.lit("valid"))
        .otherwise(F.lit("test"))
    )
    return grouped.select("doc_id", "g", split.alias("split")).groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("g").cast("long").alias("n_groups"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
    )


@_q(
    "bucketed_join_order_revenue",
    """
    SELECT o_orderpriority,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
               AS revenue_e4,
           count(*) AS n_items
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def bucketed_join_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join end-to-end: orders and lineitem are
    persisted bucketed+sorted by the order key (catalog.write_bucketed,
    external tables under the repo scratch dir), then joined WITHOUT any
    exchange on either fact side — the disk layout carries the
    partitioning, the physical plan is a SortMergeJoin whose only
    shuffle is the tiny per-priority aggregate (asserted). This is THE
    batch co-location strategy at 100 TB: the one-time bucketed write
    amortizes across every subsequent join/agg on the key. The oracle
    joins the original tables — bucketing must not change results.
    Revenue is cent×percent-scaled BIGINT (exact in any engine); the
    merge hint pins the sort-merge path so the demonstration doesn't
    degrade into a broadcast at toy scale."""
    import os
    import re

    from ssp_spark import catalog

    tag = re.sub(r"[^0-9A-Za-z]", "_", os.path.basename(sf_dir.rstrip("/")))
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    od = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_orderpriority")
    li_t, od_t = f"li_bkt_{tag}", f"od_bkt_{tag}"
    catalog.write_bucketed(
        li, li_t, ["l_orderkey"], 16, path=os.path.join(_SCRATCH, li_t)
    )
    catalog.write_bucketed(
        od, od_t, ["o_orderkey"], 16, path=os.path.join(_SCRATCH, od_t)
    )
    lib, odb = spark.table(li_t), spark.table(od_t)
    joined = odb.hint("merge").join(lib, lib.l_orderkey == odb.o_orderkey)
    return joined.groupBy("o_orderpriority").agg(
        F.sum(
            F.round(F.col("l_extendedprice") * 100).cast("long")
            * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("long"))
        )
        .cast("long")
        .alias("revenue_e4"),
        F.count("*").alias("n_items"),
    )


@_q(
    "sample_split_hash",
    f"""
    SELECT split, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_checksum
    FROM (
      SELECT doc_id,
             CASE WHEN h % 100 < 80 THEN 'train'
                  WHEN h % 100 < 90 THEN 'valid'
                  ELSE 'test' END AS split
      FROM (SELECT doc_id, {_SQL_HASH64.format(x="doc_id::VARCHAR")} AS h FROM documents))
    GROUP BY split
    """,
)
def sample_split_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/valid/test split (80/10/10) by content-stable
    hash of the document id — the scale-correct sampling method: fully
    map-side, reproducible across engines, runs, partitionings, and
    cluster sizes (unlike df.sample/sampleBy, whose output depends on
    partitioning). The same pattern at any rate gives reproducible
    down-sampling of a 100 TB corpus."""
    docs = load_table(spark, "documents", sf_dir)
    h = portable_hash64(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(h < 80, "train").when(h < 90, "valid").otherwise("test")
    )
    return (
        docs.select("doc_id", split.alias("split"))
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"), F.sum("doc_id").alias("id_checksum"))
    )


@_q(
    "text_normalize_redact",
    r"""
    SELECT event_id,
           regexp_replace(trim(lower(props)), '\s+', ' ', 'g') AS norm_props,
           regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS redacted
    FROM events WHERE event_id % 10 = 0
    """,
)
def text_normalize_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization + numeric-PII masking over a text column (the
    training-data cleaning primitives): lower/trim/whitespace-collapse
    and global digit-run redaction — all JVM-side regexp expressions."""
    ev = load_table(spark, "events", sf_dir).filter(F.col("event_id") % 10 == 0)
    return ev.select(
        "event_id",
        F.regexp_replace(F.trim(F.lower("props")), r"\s+", " ").alias("norm_props"),
        F.regexp_replace("props", "[0-9]+", "<NUM>").alias("redacted"),
    )


@_q(
    "rolling_30d_spend",
    """
    SELECT o_orderkey, o_custkey,
           round(sum(round(o_totalprice, 2))
                 OVER (PARTITION BY o_custkey ORDER BY o_orderdate
                       RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW), 2)
               AS spend_30d,
           CAST(count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate
                               RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW)
                AS BIGINT) AS n_orders_30d
    FROM orders
    """,
)
def rolling_30d_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-interval window frame (event-time rolling aggregate): per
    customer, spend over the trailing 30 days of each order. RANGE frames
    bound by VALUE, not row count — Spark needs the order key as seconds
    for a numeric rangeBetween, which is exactly what the SQL interval
    frame compiles to. One shuffle on o_custkey."""
    orders = load_table(spark, "orders", sf_dir)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp(F.col("o_orderdate").cast("timestamp")))
        .rangeBetween(-30 * 86400, 0)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.sum(F.round("o_totalprice", 2)).over(w), 2).alias("spend_30d"),
        F.count("*").over(w).alias("n_orders_30d"),
    )


@_q(
    "window_frame_funcs",
    """
    SELECT o_orderkey, o_custkey,
           round(first_value(o_totalprice)
                 OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 2)
               AS first_price,
           round(last_value(o_totalprice)
                 OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 2)
               AS last_price,
           round(nth_value(o_totalprice, 2)
                 OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 2)
               AS second_price,
           sum(CAST(round(o_totalprice * 100) AS BIGINT))
               OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)
             / (100.0 * count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                       ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING))
               AS centered_avg3
    FROM orders
    """,
)
def window_frame_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth_value over full-partition frames plus a centered
    3-row moving average (bounded ROWS frame). Deterministic ordering via
    the (date, orderkey) tiebreak. The centered avg is an exact integer
    cent sum divided by 100*count and left UNROUNDED: both engines divide
    identical operands, giving bit-identical doubles — a final round(,2)
    would flake where the quotient sits on a half-cent (Spark rounds the
    shortest decimal repr, DuckDB the raw binary double)."""
    orders = load_table(spark, "orders", sf_dir)
    base = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    full = base.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    near = base.rowsBetween(-1, 1)
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.first("o_totalprice").over(full), 2).alias("first_price"),
        F.round(F.last("o_totalprice").over(full), 2).alias("last_price"),
        F.round(F.nth_value("o_totalprice", 2).over(full), 2).alias("second_price"),
        (
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).over(near)
            / (F.lit(100.0) * F.count("*").over(near))
        ).alias("centered_avg3"),
    )


@_q(
    "event_type_pivot_api",
    """
    SELECT user_id,
           round(sum(CASE WHEN event_type = 'click' THEN value ELSE 0 END), 2)    AS click,
           round(sum(CASE WHEN event_type = 'error' THEN value ELSE 0 END), 2)    AS error,
           round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END), 2) AS purchase,
           round(sum(CASE WHEN event_type = 'signup' THEN value ELSE 0 END), 2)   AS signup,
           round(sum(CASE WHEN event_type = 'view' THEN value ELSE 0 END), 2)     AS view
    FROM events GROUP BY user_id
    """,
)
def event_type_pivot_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real DataFrame pivot() API (vs user_activity_pivot's manual
    conditional aggregation): explicit pivot values keep the plan a
    single pass + one shuffle (no distinct-values pre-query) and the
    output schema deterministic — the required form at scale, where an
    unbounded value set would both add a job and blow up the schema."""
    ev = load_table(spark, "events", sf_dir)
    kinds = ["click", "error", "purchase", "signup", "view"]
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", kinds)
        .agg(F.round(F.sum("value"), 2))
    )
    return out.select(
        "user_id", *[F.coalesce(F.col(k), F.lit(0.0)).alias(k) for k in kinds]
    )


@_q(
    "dedup_simhash_pairs",
    rf"""
    WITH toks AS (
      SELECT DISTINCT doc_id,
             unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS tok
      FROM documents
    ),
    h AS (SELECT doc_id, {_SQL_HASH64.format(x="tok")} AS th FROM toks),
    votes AS (
      SELECT doc_id, b.bit,
             CASE WHEN ((th >> b.bit) & 1) = 1 THEN 1 ELSE -1 END AS vote
      FROM h CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS bit) b
    ),
    bits AS (SELECT doc_id, bit, CAST(sum(vote) AS BIGINT) AS s FROM votes GROUP BY doc_id, bit),
    sim AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash
      FROM bits GROUP BY doc_id
    ),
    banded0 AS (
      SELECT doc_id, b.band, (simhash >> (b.band * 8)) & 255 AS band_val
      FROM sim CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band) b
    ),
    banded AS (
      SELECT doc_id, band, band_val FROM (
        SELECT doc_id, band, band_val,
               row_number() OVER (
                 PARTITION BY band, band_val
                 ORDER BY {_SQL_HASH64.format(x="CAST(doc_id AS VARCHAR)")},
                          doc_id) AS rn
        FROM banded0
      ) WHERE rn <= 1024
    )
    SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
    FROM banded a JOIN banded b USING (band, band_val)
    WHERE a.doc_id < b.doc_id
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-candidate pairs (operators.dedup.simhash_pairs):
    4×8-bit band rotation over the 32-bit fingerprints — any pair within
    Hamming distance 3 is guaranteed captured (pigeonhole), hot band
    buckets bounded at 1024 docs by the deterministic
    (portable_hash64, id) rank the oracle replays (round-9 guard, see
    dedup.banded_fingerprints; bites at sf0.1 where the templated text
    collides to 2566-doc buckets)."""
    return dedup.simhash_pairs(load_table(spark, "documents", sf_dir))


@_q(
    "dedup_simhash64_pairs",
    rf"""
    WITH toks AS (
      SELECT DISTINCT doc_id,
             unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS tok
      FROM documents
    ),
    h AS (SELECT doc_id, {_SQL_HASH64.format(x="tok")} AS th FROM toks),
    votes AS (
      SELECT doc_id, b.bit,
             CASE WHEN ((th >> b.bit) & 1) = 1 THEN 1 ELSE -1 END AS vote
      FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS bit) b
    ),
    bits AS (SELECT doc_id, bit, CAST(sum(vote) AS BIGINT) AS s FROM votes GROUP BY doc_id, bit),
    sim AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash
      FROM bits GROUP BY doc_id
    ),
    banded0 AS (
      SELECT doc_id, b.band, (simhash >> (b.band * 15)) & 32767 AS band_val
      FROM sim CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band) b
    ),
    banded AS (
      SELECT doc_id, band, band_val FROM (
        SELECT doc_id, band, band_val,
               row_number() OVER (
                 PARTITION BY band, band_val
                 ORDER BY {_SQL_HASH64.format(x="CAST(doc_id AS VARCHAR)")},
                          doc_id) AS rn
        FROM banded0
      ) WHERE rn <= 1024
    )
    SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
    FROM banded a JOIN banded b USING (band, band_val)
    WHERE a.doc_id < b.doc_id
    """,
)
def dedup_simhash64_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production-width simhash variant (the 32-bit query's docstring
    knob made real): 60-bit fingerprints — the full width of the portable
    hash, the honest stand-in for production's 64 — banded into 4×15-bit
    slices. Wider fingerprints resolve more token evidence per doc; wider
    slices (2^15 values vs 2^8) make band collisions ~128× rarer, so the
    candidate set is far tighter at the same pigeonhole guarantee
    (Hamming distance ≤ 3 always captured). The fingerprint stage is the
    same ZERO-shuffle map-side fold — band width changes constants, not
    the plan. Hot band buckets bounded at 1024 by the oracle-replayed
    deterministic rank (round-9 sf10 guard, dedup.banded_fingerprints;
    bites at sf0.1 — max bucket 1582 pre-cap)."""
    return dedup.simhash_pairs(
        load_table(spark, "documents", sf_dir), bits=60, bands=4
    )


@_q(
    "lineitem_unpivot",
    """
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value
    FROM lineitem WHERE l_orderkey % 100 = 0
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
    FROM lineitem WHERE l_orderkey % 100 = 0
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
    FROM lineitem WHERE l_orderkey % 100 = 0
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
    FROM lineitem WHERE l_orderkey % 100 = 0
    """,
)
def lineitem_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unpivot/melt (the inverse of pivot): wide measure columns to long
    (metric, value) rows via DataFrame.unpivot — planned as a single-pass
    Expand (one scan, xN_measures rows), not N self-unions."""
    li = load_table(spark, "lineitem", sf_dir).filter(F.col("l_orderkey") % 100 == 0)
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "metric",
        "value",
    )


# ---------------------------------------------------------------------------
# Non-parquet sources (csv / json) exercised end-to-end
# ---------------------------------------------------------------------------

import tempfile as _tempfile  # noqa: E402

# Scratch area for source round-trips (the fixtures are read-only): under
# the first Spark local dir, else the system temp dir. Small dimension
# tables only — the export is part of the query.
_SCRATCH = _os.path.join(
    (_os.environ.get("SPARK_LOCAL_DIRS") or _tempfile.gettempdir()).split(",")[0],
    "ssp_spark_scratch",
)


@_q(
    "source_csv_scan",
    """
    SELECT n_regionkey, count(*) AS n_nations, min(n_name) AS first_nation
    FROM nation GROUP BY n_regionkey
    """,
)
def source_csv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source end-to-end: export nation to csv (quoted), scan it back
    through sources.read_batch with an EXPLICIT schema (no inferSchema
    pre-scan — that is a second full read at scale), aggregate. The
    oracle runs the same aggregate on the original parquet view, so the
    csv hop must be lossless."""
    import os

    from ssp_spark import sources

    nation = load_table(spark, "nation", sf_dir)
    path = os.path.join(_SCRATCH, "nation_csv")
    nation.coalesce(1).write.mode("overwrite").option("header", True).csv(path)
    ddl = "n_nationkey INT, n_name STRING, n_regionkey INT"
    df = sources.read_batch(spark, "csv", path, schema=ddl, header=True)
    return df.groupBy("n_regionkey").agg(
        F.count("*").alias("n_nations"), F.min("n_name").alias("first_nation")
    )


@_q(
    "source_json_scan",
    """
    SELECT r_regionkey, upper(r_name) AS region_uc, length(r_name) AS name_len
    FROM region
    """,
)
def source_json_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source end-to-end: export region to json, scan it back
    with an explicit schema (skips schema inference), project. Oracle
    runs on the original parquet view — the json hop must round-trip."""
    import os

    from ssp_spark import sources

    region = load_table(spark, "region", sf_dir)
    path = os.path.join(_SCRATCH, "region_json")
    region.coalesce(1).write.mode("overwrite").json(path)
    ddl = "r_regionkey INT, r_name STRING"
    df = sources.read_batch(spark, "json", path, schema=ddl)
    return df.select(
        "r_regionkey",
        F.upper("r_name").alias("region_uc"),
        F.length("r_name").alias("name_len"),
    )


@_q(
    "source_text_scan",
    r"""
    SELECT word, count(*) AS cnt
    FROM (SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS word
          FROM documents WHERE doc_id % 10 = 4)
    GROUP BY word
    """,
)
def source_text_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain-text source end-to-end: export a document subset as raw .txt
    (spark.write.text, one value column), read it back as lines, and run
    the flagship word count over the lines. The comparison is on the
    TOKEN MULTISET, which a text round-trip preserves exactly even if a
    document ever contained newlines (line re-segmentation cannot create
    or destroy whitespace-delimited tokens) — so the oracle counts words
    from the original parquet view. NULL text is filtered before the
    write (the text datasource rejects null values); a null document
    carries zero tokens on both engines, so the token multiset — and the
    oracle, which needs no filter — is unchanged. Text is the
    lowest-common-denominator ingest format for LLM corpora; at scale the
    same plan streams a directory of .txt shards."""
    import os

    docs = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") % 10 == 4)
    path = os.path.join(_SCRATCH, "documents_txt")
    docs.select("text").filter(F.col("text").isNotNull()).coalesce(1).write.mode(
        "overwrite"
    ).text(path)
    lines = spark.read.text(path)
    return (
        lines.select(F.explode(tokens("value")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


@_q(
    "source_orc_scan",
    """
    SELECT s_nationkey, count(*) AS n_suppliers,
           CAST(sum(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT) AS acctbal_cents
    FROM supplier GROUP BY s_nationkey
    """,
)
def source_orc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source end-to-end (the third columnar/file format after
    parquet+csv+json): export supplier to ORC, scan it back, aggregate
    with cent-scaled exact money sums. ORC carries types natively so no
    explicit schema is needed — but predicate pushdown and column pruning
    apply the same as parquet. The oracle aggregates the original parquet
    view; the ORC hop must be lossless."""
    import os

    from ssp_spark import sources

    supplier = load_table(spark, "supplier", sf_dir)
    path = os.path.join(_SCRATCH, "supplier_orc")
    supplier.coalesce(1).write.mode("overwrite").orc(path)
    df = sources.read_batch(spark, "orc", path)
    return df.groupBy("s_nationkey").agg(
        F.count("*").alias("n_suppliers"),
        F.sum(F.round(F.col("s_acctbal") * 100).cast("long")).alias("acctbal_cents"),
    )


# ---------------------------------------------------------------------------
# TPC-H completion: the remaining 10 query shapes (adapted to fixture
# columns — the driver tables carry no partsupp / commitdate / comment, so
# supply-cost and lateness predicates are restated over lineitem prices
# and shipdate-vs-orderdate gaps; the SHAPES — correlated scalar min,
# market-share ratio, semi-join chains, exists/not-exists decorrelation,
# distribution-of-distribution — are the point).
# ---------------------------------------------------------------------------


@_q(
    "q2_min_cost_supplier",
    """
    WITH cost AS (
      SELECT l_partkey AS partkey, l_suppkey AS suppkey,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS price_cents,
             sum(CAST(round(l_quantity) AS BIGINT)) AS qty
      FROM lineitem GROUP BY 1, 2
    ),
    unit_eu AS (
      SELECT c.partkey, c.suppkey, c.price_cents / c.qty AS unit_price,
             s_name, round(s_acctbal, 2) AS acctbal, n_name
      FROM cost c
      JOIN supplier ON s_suppkey = c.suppkey
      JOIN nation ON n_nationkey = s_nationkey
      JOIN region ON r_regionkey = n_regionkey
      WHERE r_name = 'EUROPE'
    )
    SELECT p_partkey, p_name, s_name, n_name, acctbal,
           round(unit_price, 4) AS unit_price
    FROM unit_eu u JOIN part ON p_partkey = u.partkey
    WHERE p_size <= 5
      AND unit_price = (SELECT min(u2.unit_price) FROM unit_eu u2
                        WHERE u2.partkey = u.partkey)
    ORDER BY acctbal DESC, n_name, s_name, p_partkey, u.suppkey
    LIMIT 100
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated scalar MIN subquery picking the cheapest
    regional supplier per part, multi-dim join, ordered top-100. No
    partsupp in the fixtures, so "supply cost" is the observed unit price
    sum(price)/sum(qty) per (part, supplier) from lineitem — exact BIGINT
    sums, so the double division is identical cross-engine. The ORDER BY
    carries a full unique tiebreak (..., p_partkey, suppkey) so LIMIT is
    deterministic. Catalyst decorrelates the min into an aggregate+join."""
    return spark.sql(
        f"""
        WITH cost AS (
          SELECT l_partkey AS partkey, l_suppkey AS suppkey,
                 sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS price_cents,
                 sum(CAST(round(l_quantity) AS BIGINT)) AS qty
          FROM parquet.`{sf_dir}/lineitem.parquet` GROUP BY 1, 2
        ),
        unit_eu AS (
          SELECT c.partkey, c.suppkey, c.price_cents / c.qty AS unit_price,
                 s_name, round(s_acctbal, 2) AS acctbal, n_name
          FROM cost c
          JOIN parquet.`{sf_dir}/supplier.parquet` ON s_suppkey = c.suppkey
          JOIN parquet.`{sf_dir}/nation.parquet` ON n_nationkey = s_nationkey
          JOIN parquet.`{sf_dir}/region.parquet` ON r_regionkey = n_regionkey
          WHERE r_name = 'EUROPE'
        )
        SELECT p_partkey, p_name, s_name, n_name, acctbal,
               round(unit_price, 4) AS unit_price
        FROM unit_eu u JOIN parquet.`{sf_dir}/part.parquet` ON p_partkey = u.partkey
        WHERE p_size <= 5
          AND unit_price = (SELECT min(u2.unit_price) FROM unit_eu u2
                            WHERE u2.partkey = u.partkey)
        ORDER BY acctbal DESC, n_name, s_name, p_partkey, u.suppkey
        LIMIT 100
        """
    )


@_q(
    "q8_market_share",
    """
    SELECT yr,
           round(CAST(sum(CASE WHEN supp_nation = 'NATION_7' THEN rev_e4 ELSE 0 END)
                      AS DOUBLE) / CAST(sum(rev_e4) AS DOUBLE), 6) AS mkt_share
    FROM (
      SELECT CAST(year(o_orderdate) AS INT) AS yr,
             CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_e4,
             n2.n_name AS supp_nation
      FROM lineitem
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON n1.n_nationkey = c_nationkey
      JOIN region ON r_regionkey = n1.n_regionkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation n2 ON n2.n_nationkey = s_nationkey
      JOIN part ON p_partkey = l_partkey
      WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
    )
    GROUP BY yr
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: national market share — one nation's fraction of
    regional revenue per year, over a 7-table join. Revenue is summed as
    exact 1e-4-dollar BIGINTs on both engines; the single double division
    happens once per year row, so the ratio is bit-identical. Catalyst
    broadcasts every dimension (region/nation/supplier/part at this SF)
    and the two fact tables shuffle once each on the join key."""
    return spark.sql(
        f"""
        SELECT yr,
               round(CAST(sum(CASE WHEN supp_nation = 'NATION_7' THEN rev_e4 ELSE 0 END)
                          AS DOUBLE) / CAST(sum(rev_e4) AS DOUBLE), 6) AS mkt_share
        FROM (
          SELECT CAST(year(o_orderdate) AS INT) AS yr,
                 CAST(round(l_extendedprice * 100) AS BIGINT)
                   * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_e4,
                 n2.n_name AS supp_nation
          FROM parquet.`{sf_dir}/lineitem.parquet`
          JOIN parquet.`{sf_dir}/orders.parquet` ON o_orderkey = l_orderkey
          JOIN parquet.`{sf_dir}/customer.parquet` ON c_custkey = o_custkey
          JOIN parquet.`{sf_dir}/nation.parquet` n1 ON n1.n_nationkey = c_nationkey
          JOIN parquet.`{sf_dir}/region.parquet` ON r_regionkey = n1.n_regionkey
          JOIN parquet.`{sf_dir}/supplier.parquet` ON s_suppkey = l_suppkey
          JOIN parquet.`{sf_dir}/nation.parquet` n2 ON n2.n_nationkey = s_nationkey
          JOIN parquet.`{sf_dir}/part.parquet` ON p_partkey = l_partkey
          WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
        )
        GROUP BY yr
        """
    )


@_q(
    "q9_product_profit",
    """
    SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS yr,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                      * (100 - CAST(round(l_discount * 100) AS BIGINT))
                    - 50 * CAST(round(p_retailprice * 100) AS BIGINT)
                         * CAST(round(l_quantity) AS BIGINT)) AS BIGINT) / 1e4
             AS profit
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    JOIN orders ON o_orderkey = l_orderkey
    WHERE p_name LIKE '%red%'
    GROUP BY n_name, year(o_orderdate)
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by (supplier nation, order year) with a
    LIKE part filter. No partsupp supply cost in the fixtures, so cost is
    restated as half the part's retail price per unit; the whole amount
    stays an exact 1e-4-dollar BIGINT until one final division."""
    return spark.sql(
        f"""
        SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS yr,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                          * (100 - CAST(round(l_discount * 100) AS BIGINT))
                        - 50 * CAST(round(p_retailprice * 100) AS BIGINT)
                             * CAST(round(l_quantity) AS BIGINT)) AS BIGINT) / 1e4
                 AS profit
        FROM parquet.`{sf_dir}/lineitem.parquet`
        JOIN parquet.`{sf_dir}/part.parquet` ON p_partkey = l_partkey
        JOIN parquet.`{sf_dir}/supplier.parquet` ON s_suppkey = l_suppkey
        JOIN parquet.`{sf_dir}/nation.parquet` ON n_nationkey = s_nationkey
        JOIN parquet.`{sf_dir}/orders.parquet` ON o_orderkey = l_orderkey
        WHERE p_name LIKE '%red%'
        GROUP BY n_name, year(o_orderdate)
        """
    )


@_q(
    "q11_important_parts",
    """
    WITH val AS (
      SELECT l_partkey AS partkey,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS val_cents
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      WHERE n_name IN ('NATION_3', 'NATION_8')
      GROUP BY l_partkey
    )
    SELECT partkey, CAST(val_cents AS BIGINT) AS val_cents
    FROM val
    WHERE val_cents > (SELECT sum(val_cents) / 500.0 FROM val)
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part value held by one nation group, filtered
    by a GLOBAL-total scalar subquery (HAVING > fraction-of-sum). The
    value CTE is referenced twice — once aggregated to a scalar — which
    Catalyst plans as a reused exchange + broadcast of the one-row total,
    not a recompute. Cent-BIGINT sums; the only double is the shared
    threshold, derived identically on both engines."""
    return spark.sql(
        f"""
        WITH val AS (
          SELECT l_partkey AS partkey,
                 sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS val_cents
          FROM parquet.`{sf_dir}/lineitem.parquet`
          JOIN parquet.`{sf_dir}/supplier.parquet` ON s_suppkey = l_suppkey
          JOIN parquet.`{sf_dir}/nation.parquet` ON n_nationkey = s_nationkey
          WHERE n_name IN ('NATION_3', 'NATION_8')
          GROUP BY l_partkey
        )
        SELECT partkey, CAST(val_cents AS BIGINT) AS val_cents
        FROM val
        WHERE val_cents > (SELECT sum(val_cents) / 500.0 FROM val)
        """
    )


@_q(
    "q12_ship_priority_class",
    """
    SELECT CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                THEN 'late' ELSE 'ontime' END AS ship_class,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_count
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY 1
    """,
)
def q12_ship_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: join + dual conditional counts per shipping
    class. The fixtures carry no shipmode/commit/receipt dates, so the
    class is shipdate-vs-orderdate lag (> 90 days = late). The date
    filter reaches the lineitem scan as a pushed predicate."""
    return spark.sql(
        f"""
        SELECT CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                    THEN 'late' ELSE 'ontime' END AS ship_class,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
               CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS low_count
        FROM parquet.`{sf_dir}/lineitem.parquet`
        JOIN parquet.`{sf_dir}/orders.parquet` ON o_orderkey = l_orderkey
        WHERE l_shipdate >= TIMESTAMP_NTZ '1997-01-01'
          AND l_shipdate < TIMESTAMP_NTZ '1998-01-01'
        GROUP BY 1
        """
    )


@_q(
    "q13_custdist",
    """
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON o_custkey = c_custkey AND o_orderpriority <> '5-LOW'
      GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
)
def q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of per-customer order counts
    (customers with zero orders included via the left join's preserved
    rows) — a groupBy over a groupBy, the classic two-level aggregation.
    The join-side filter sits in the ON clause so zero-order customers
    survive; Q13's o_comment NOT LIKE filter is restated on priority."""
    return spark.sql(
        f"""
        SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        FROM (
          SELECT c_custkey, count(o_orderkey) AS c_count
          FROM parquet.`{sf_dir}/customer.parquet` LEFT JOIN parquet.`{sf_dir}/orders.parquet`
            ON o_custkey = c_custkey AND o_orderpriority <> '5-LOW'
          GROUP BY c_custkey
        )
        GROUP BY c_count
        """
    )


@_q(
    "q15_top_supplier",
    """
    WITH rev AS (
      SELECT l_suppkey AS suppkey,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS rev_e4
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(rev_e4 AS BIGINT) / 1e4 AS total_revenue
    FROM supplier JOIN rev ON s_suppkey = suppkey
    WHERE rev_e4 = (SELECT max(rev_e4) FROM rev)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: revenue "view" per supplier over one quarter,
    then the supplier(s) achieving the global MAX via a scalar subquery
    over the same CTE. Revenue stays an exact 1e-4-dollar BIGINT, so the
    max-equality join cannot be perturbed by float accumulation; ties
    (multiple max suppliers) are all returned, as in the spec."""
    return spark.sql(
        f"""
        WITH rev AS (
          SELECT l_suppkey AS suppkey,
                 sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                     * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS rev_e4
          FROM parquet.`{sf_dir}/lineitem.parquet`
          WHERE l_shipdate >= TIMESTAMP_NTZ '1997-01-01'
            AND l_shipdate < TIMESTAMP_NTZ '1997-04-01'
          GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, CAST(rev_e4 AS BIGINT) / 1e4 AS total_revenue
        FROM parquet.`{sf_dir}/supplier.parquet` JOIN rev ON s_suppkey = suppkey
        WHERE rev_e4 = (SELECT max(rev_e4) FROM rev)
        """
    )


@_q(
    "q16_supplier_cnt",
    """
    SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
      AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per (brand, type, size)
    with negated filters and a NOT IN anti-join (complaint suppliers ->
    negative account balance here). Catalyst plans the NOT IN as a null-
    aware anti join; the distinct count aggregates after it."""
    return spark.sql(
        f"""
        SELECT p_brand, p_type, p_size,
               CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        FROM parquet.`{sf_dir}/lineitem.parquet`
        JOIN parquet.`{sf_dir}/part.parquet` ON p_partkey = l_partkey
        WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
          AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
          AND l_suppkey NOT IN (SELECT s_suppkey FROM parquet.`{sf_dir}/supplier.parquet`
                                WHERE s_acctbal < 0)
        GROUP BY p_brand, p_type, p_size
        """
    )


@_q(
    "q20_qty_suppliers",
    """
    SELECT s_suppkey, s_name
    FROM supplier JOIN nation ON n_nationkey = s_nationkey
    WHERE n_name IN ('NATION_1', 'NATION_6')
      AND s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_type = 'SMALL'
          AND l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY l_suppkey, l_partkey
        HAVING sum(CAST(round(l_quantity) AS BIGINT)) > 50
      )
    """,
)
def q20_qty_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: semi-join chain — suppliers (in a nation group)
    that moved more than a threshold quantity of filtered parts in a
    year. The inner per-(supplier, part) aggregate replaces partsupp's
    availqty comparison; quantities sum as exact BIGINTs. IN over the
    aggregate becomes a left semi join above the HAVING filter."""
    return spark.sql(
        f"""
        SELECT s_suppkey, s_name
        FROM parquet.`{sf_dir}/supplier.parquet`
        JOIN parquet.`{sf_dir}/nation.parquet` ON n_nationkey = s_nationkey
        WHERE n_name IN ('NATION_1', 'NATION_6')
          AND s_suppkey IN (
            SELECT l_suppkey
            FROM parquet.`{sf_dir}/lineitem.parquet`
            JOIN parquet.`{sf_dir}/part.parquet` ON p_partkey = l_partkey
            WHERE p_type = 'SMALL'
              AND l_shipdate >= TIMESTAMP_NTZ '1997-01-01'
              AND l_shipdate < TIMESTAMP_NTZ '1998-01-01'
            GROUP BY l_suppkey, l_partkey
            HAVING sum(CAST(round(l_quantity) AS BIGINT)) > 50
          )
        """
    )


@_q(
    "q21_waiting_supplier",
    """
    WITH late AS (
      SELECT l_orderkey, l_suppkey
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      WHERE o_orderstatus = 'F'
        AND l_shipdate > o_orderdate + INTERVAL 100 DAY
      GROUP BY 1, 2
    ),
    stats AS (
      SELECT l_orderkey, count(DISTINCT l_suppkey) AS n_supp
      FROM lineitem GROUP BY 1
    ),
    late_stats AS (SELECT l_orderkey, count(*) AS n_late FROM late GROUP BY 1)
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM late
    JOIN stats USING (l_orderkey)
    JOIN late_stats USING (l_orderkey)
    JOIN supplier ON s_suppkey = late.l_suppkey
    WHERE n_supp > 1 AND n_late = 1
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late supplier on a
    multi-supplier finished order. Q21's correlated EXISTS / NOT EXISTS
    pair is expressed directly as the per-order aggregates the optimizer
    would decorrelate them into (n_supp > 1 = exists other supplier;
    n_late = 1 = not exists other late supplier) — the aggregation form
    IS the scale-correct plan: two shuffles of lineitem, no repeated
    correlated probes. Lateness is shipdate > orderdate + 100 days (no
    receipt/commit dates in the fixtures)."""
    return spark.sql(
        f"""
        WITH late AS (
          SELECT l_orderkey, l_suppkey
          FROM parquet.`{sf_dir}/lineitem.parquet`
          JOIN parquet.`{sf_dir}/orders.parquet` ON o_orderkey = l_orderkey
          WHERE o_orderstatus = 'F'
            AND l_shipdate > o_orderdate + INTERVAL 100 DAY
          GROUP BY 1, 2
        ),
        stats AS (
          SELECT l_orderkey, count(DISTINCT l_suppkey) AS n_supp
          FROM parquet.`{sf_dir}/lineitem.parquet` GROUP BY 1
        ),
        late_stats AS (SELECT l_orderkey, count(*) AS n_late FROM late GROUP BY 1)
        SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        FROM late
        JOIN stats USING (l_orderkey)
        JOIN late_stats USING (l_orderkey)
        JOIN parquet.`{sf_dir}/supplier.parquet` ON s_suppkey = late.l_suppkey
        WHERE n_supp > 1 AND n_late = 1
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 100
        """
    )


# ---------------------------------------------------------------------------
# Sketches (count-min / bloom), stratified sampling, rank distributions
# ---------------------------------------------------------------------------

from ssp_spark.functions import seeded_hash32_sql as _sh32_sql  # noqa: E402
from ssp_spark.operators import sketch as _sketch  # noqa: E402

_CMS_D, _CMS_W = 4, 256

_CMS_CELLS_SQL = " UNION ALL ".join(
    f"SELECT {d} AS d, {_sh32_sql('h64', d, _CMS_D)} % {_CMS_W} AS w FROM base"
    for d in range(_CMS_D)
)
_CMS_PROBES_SQL = " UNION ALL ".join(
    f"SELECT user_key, {d} AS d, {_sh32_sql('h64', d, _CMS_D)} % {_CMS_W} AS w FROM keys"
    for d in range(_CMS_D)
)


@_q(
    "cms_user_counts",
    f"""
    WITH base AS (
      SELECT {_SQL_HASH64.format(x="CAST(user_id AS VARCHAR)")} AS h64 FROM events
    ),
    cells AS (
      SELECT d, w, CAST(count(*) AS BIGINT) AS cnt
      FROM ({_CMS_CELLS_SQL}) GROUP BY d, w
    ),
    keys AS (
      SELECT CAST(k AS VARCHAR) AS user_key,
             {_SQL_HASH64.format(x="CAST(k AS VARCHAR)")} AS h64
      FROM (SELECT unnest(generate_series(0, 19)) AS k)
    ),
    probes AS ({_CMS_PROBES_SQL})
    SELECT user_key, CAST(min(coalesce(cnt, 0)) AS BIGINT) AS est
    FROM probes LEFT JOIN cells USING (d, w)
    GROUP BY user_key
    """,
)
def cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch point estimates (operators.sketch): build a 4x256
    sketch over events.user_id, then estimate counts for user ids 0..19.
    The sketch is a bounded-size aggregate (map-side partial counts, one
    shuffle of <=1024 cells regardless of input size) and the estimate
    join broadcasts it — the reason a sketch beats exact counting at
    100 TB. md5-portable hash family, so the oracle rebuilds every cell."""
    ev = load_table(spark, "events", sf_dir).select(
        F.col("user_id").cast("string").alias("uid")
    )
    sk = _sketch.cms_sketch(ev, "uid", _CMS_D, _CMS_W)
    keys = spark.range(0, 20).select(F.col("id").cast("string").alias("user_key"))
    return _sketch.cms_estimate(sk, keys, "user_key", _CMS_D, _CMS_W)


_BLOOM_K, _BLOOM_M = 5, 16384

_BLOOM_BITS_SQL = " UNION ALL ".join(
    f"SELECT {_sh32_sql('h64', s, _BLOOM_K)} % {_BLOOM_M} AS bit FROM base"
    for s in range(_BLOOM_K)
)
_BLOOM_PROBE_SQL = " UNION ALL ".join(
    f"SELECT name, {_sh32_sql('h64', s, _BLOOM_K)} % {_BLOOM_M} AS bit FROM keys"
    for s in range(_BLOOM_K)
)


@_q(
    "bloom_customer_names",
    f"""
    WITH base AS (
      SELECT {_SQL_HASH64.format(x="c_name")} AS h64 FROM customer
    ),
    bits AS (SELECT DISTINCT bit FROM ({_BLOOM_BITS_SQL})),
    keys AS (
      SELECT name, {_SQL_HASH64.format(x="name")} AS h64
      FROM (SELECT unnest([
        'Customer#000000001', 'Customer#000000002', 'Customer#000000003',
        'Customer#000000004', 'Customer#000000005',
        'nobody_1', 'nobody_2', 'nobody_3', 'nobody_4', 'nobody_5'
      ]) AS name)
    ),
    probes AS ({_BLOOM_PROBE_SQL})
    SELECT p.name, count(*) = sum(CASE WHEN b.bit IS NULL THEN 0 ELSE 1 END) AS member
    FROM probes p LEFT JOIN bits b USING (bit)
    GROUP BY p.name
    """,
)
def bloom_customer_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership (operators.sketch): build a 5-hash/16384-bit
    filter over customer names (emitted as portable set-bit positions, a
    bounded artifact), then probe 5 present + 5 absent names. No false
    negatives by construction; the oracle rebuilds identical bits."""
    cust = load_table(spark, "customer", sf_dir)
    bits = _sketch.bloom_bits(cust, "c_name", _BLOOM_K, _BLOOM_M)
    names = [f"Customer#{i:09d}" for i in range(1, 6)] + [
        f"nobody_{i}" for i in range(1, 6)
    ]
    keys = spark.createDataFrame([(n,) for n in names], ["name"])
    return _sketch.bloom_might_contain(bits, keys, "name", _BLOOM_K, _BLOOM_M)


@_q(
    "stratified_sample_events",
    f"""
    SELECT event_id, event_type FROM events
    WHERE {_SQL_HASH64.format(x="CAST(event_id AS VARCHAR)")} % 100 <
          CASE event_type WHEN 'click' THEN 50 WHEN 'view' THEN 10 ELSE 5 END
    """,
)
def stratified_sample_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-stratum rates applied via
    the portable hash of the row key (hash % 100 < rate), so the sample
    is reproducible across engines, partitionings, and reruns — the
    property `df.sample()` does NOT give you. Pure map-side filter."""
    ev = load_table(spark, "events", sf_dir)
    rate = (
        F.when(F.col("event_type") == "click", 50)
        .when(F.col("event_type") == "view", 10)
        .otherwise(5)
    )
    keep = (portable_hash64(F.col("event_id").cast("string")) % 100) < rate
    return ev.filter(keep).select("event_id", "event_type")


_HLL_P = 8
_HLL_M = 1 << _HLL_P
_HLL_MAXR = 61 - _HLL_P
_HLL_CONST = _sketch.hll_alpha_m2_pow(_HLL_P)


@_q(
    "hll_distinct_users",
    f"""
    WITH base AS (
      SELECT event_type,
             {_SQL_HASH64.format(x="CAST(user_id AS VARCHAR)")} AS h64
      FROM events
    ),
    rj AS (
      SELECT event_type, h64 & {_HLL_M - 1} AS j,
             CASE WHEN (h64 >> {_HLL_P}) = 0 THEN {_HLL_MAXR}
                  ELSE {_HLL_MAXR} - length(bin(h64 >> {_HLL_P})) END AS rho
      FROM base
    ),
    regs0 AS (SELECT event_type, j, max(rho) AS r FROM rj GROUP BY event_type, j),
    regs AS (
      SELECT * FROM regs0
      UNION ALL
      SELECT '__all__' AS event_type, j, max(r) AS r FROM regs0 GROUP BY j
    ),
    agg AS (
      SELECT event_type, count(*) AS nz,
             CAST(sum(1::BIGINT << ({_HLL_MAXR} - r)) AS BIGINT) AS s_nz
      FROM regs GROUP BY event_type
    ),
    sc AS (
      SELECT event_type, CAST(nz AS INT) AS registers_used,
             {_HLL_M} - nz AS v,
             {_HLL_CONST!r} / CAST(s_nz + ({_HLL_M} - nz) * (1::BIGINT << {_HLL_MAXR}) AS DOUBLE) AS e_raw
      FROM agg
    )
    SELECT event_type, registers_used,
           CAST(CASE WHEN e_raw <= {2.5 * _HLL_M!r} AND v > 0
                     THEN round({float(_HLL_M)!r} * ln({float(_HLL_M)!r} / CAST(v AS DOUBLE)))
                     ELSE round(e_raw) END AS BIGINT) AS est
    FROM sc
    """,
)
def hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user estimates per event type PLUS a merged
    '__all__' row derived by max-combining the per-group registers — the
    mergeability demo: the global estimate comes from the registers, not
    a second scan. (ssp's analogue would be a global-key stateful fold,
    node.go:66-73; approx_distinct_users covers Spark's built-in HLL++ —
    this one is the engine-portable register-table form.)

    Scale shape: one shuffle of <= |groups| * 256 register rows after
    map-side partial max (the scan never re-runs for the merge), then an
    O(registers) estimate aggregate. The indicator sum stays in exact
    integer arithmetic; alpha*m^2*2^53 is a single shared float literal —
    the only cross-engine float ops are one IEEE division and the
    small-range ln, rounded to an integer count."""
    ev = load_table(spark, "events", sf_dir).select(
        "event_type", F.col("user_id").cast("string").alias("uid")
    )
    regs = _sketch.hll_registers(ev, "uid", ["event_type"], _HLL_P)
    merged = regs.groupBy("j").agg(F.max("r").alias("r")).select(
        F.lit("__all__").alias("event_type"), "j", "r"
    )
    return _sketch.hll_estimate(
        regs.unionByName(merged), ["event_type"], _HLL_P
    )


@_q(
    "window_rank_stats",
    """
    SELECT o_orderkey, o_orderpriority,
           round(percent_rank() OVER w, 6) AS pr,
           round(cume_dist() OVER w, 6) AS cd
    FROM orders
    WHERE o_orderkey % 50 = 0
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    """,
)
def window_rank_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-distribution window functions (percent_rank / cume_dist) with
    a fully deterministic frame order (totalprice, orderkey unique). Both
    are exact small-integer ratios, so the doubles agree cross-engine."""
    return spark.sql(
        f"""
        SELECT o_orderkey, o_orderpriority,
               round(percent_rank() OVER w, 6) AS pr,
               round(cume_dist() OVER w, 6) AS cd
        FROM parquet.`{sf_dir}/orders.parquet`
        WHERE o_orderkey % 50 = 0
        WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
        """
    )


# ---------------------------------------------------------------------------
# UDTF / UDAF surface (Spark 4 Python UDTF; Arrow grouped-agg pandas UDF)
# ---------------------------------------------------------------------------


@_q(
    "udtf_sentence_split",
    r"""
    SELECT doc_id, trim(s) AS sentence
    FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '\.')) AS s
          FROM documents WHERE doc_id % 10 = 0)
    WHERE trim(s) <> ''
    """,
)
def udtf_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 table function): 1-row-to-n-rows sentence
    split — the reference's 0..n collector contract (node.go:57-64) on
    the TABLE-function surface rather than explode. Row-at-a-time Python
    is the SLOW path by design here; the query exists to pin the UDTF
    API and its lateral-join planning, and runs on a 1/10th sample. The
    bulk-data equivalent is the explode form used everywhere else."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, sentence string")
    class SentenceSplit:
        def eval(self, doc_id, text):
            for part in text.split("."):
                s = part.strip()
                if s:
                    yield doc_id, s

    docs = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") % 10 == 0)
    spark.udtf.register("sentence_split_udtf", SentenceSplit)
    docs.createOrReplaceTempView("__udtf_docs")
    return spark.sql(
        "SELECT s.doc_id, s.sentence FROM __udtf_docs d, "
        "LATERAL sentence_split_udtf(d.doc_id, d.text) s"
    )


@_q(
    "udaf_user_spend",
    """
    SELECT user_id,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0
             AS total_spend
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id
    """,
)
def udaf_user_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF (the UDAF surface): per-user purchase
    spend summed inside an Arrow-batched numpy kernel. Determinism: the
    kernel sums cent-scaled int64 (exact, order-free), divides once at
    the end — same rule as the built-in money sums. The built-in
    sum() is the production path; this pins the UDAF API."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # functionType passed explicitly: this module uses postponed annotation
    # evaluation (PEP 563), which defeats pandas_udf's signature inference.
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def spend_cents_sum(v):
        import numpy as np

        # floor(v*100 + 0.5), NOT Series.round(): numpy rounds half-to-even
        # while the oracle's round() (and F.round elsewhere) rounds half
        # AWAY from zero — ties like 0.125 would diverge by one cent.
        # Values are non-negative (purchase amounts), so +0.5-floor is
        # exactly half-up.
        return float(np.floor(v.to_numpy() * 100 + 0.5).astype("int64").sum() / 100.0)

    ev = load_table(spark, "events", sf_dir).filter(F.col("event_type") == "purchase")
    return ev.groupBy("user_id").agg(spend_cents_sum("value").alias("total_spend"))


@_q(
    "time_rollup_multigrain",
    """
    SELECT CASE WHEN grouping(d) = 0 AND grouping(h) = 0 THEN 'hour'
                WHEN grouping(d) = 0 THEN 'day' ELSE 'week' END AS grain,
           CAST(epoch(coalesce(h, d, w)) AS BIGINT) AS bucket_ep,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM (
      SELECT value,
             date_trunc('hour', ts) AS h,
             date_trunc('day', ts) AS d,
             date_trunc('week', ts) AS w
      FROM events
    )
    GROUP BY GROUPING SETS ((w, d, h), (w, d), (w))
    """,
)
def time_rollup_multigrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-granularity rollup: hour/day/week buckets of
    the events stream in ONE pass — GROUPING SETS plans as a single scan
    + Expand(x3) + one exchange, not three scans. The sets are nested
    ((w,d,h) ⊃ (w,d) ⊃ (w)), exactly a time-series store's continuous-
    aggregate hierarchy; at 100 TB the Expand multiplies rows by the
    grain count BEFORE map-side partial aggregation collapses them, so
    the shuffle carries only |buckets| rows per grain. Buckets exported
    as epoch seconds; money as cent BIGINTs."""
    ev = load_table(spark, "events", sf_dir)
    base = ev.select(
        "value",
        F.date_trunc("hour", "ts").alias("h"),
        F.date_trunc("day", "ts").alias("d"),
        F.date_trunc("week", "ts").alias("w"),
    )
    rolled = base.groupingSets([["w", "d", "h"], ["w", "d"], ["w"]], "w", "d", "h").agg(
        # grouping() is only legal inside the grouping aggregate itself
        F.grouping("d").alias("__gd"),
        F.grouping("h").alias("__gh"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("value_cents"),
    )
    grain = (
        F.when((F.col("__gd") == 0) & (F.col("__gh") == 0), "hour")
        .when(F.col("__gd") == 0, "day")
        .otherwise("week")
    )
    return rolled.select(
        grain.alias("grain"),
        F.unix_timestamp(F.coalesce("h", "d", "w")).alias("bucket_ep"),
        "n_events",
        "value_cents",
    )


@_q(
    "salted_join_event_spend",
    """
    SELECT e.user_id, c.c_mktsegment,
           CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS spend_cents,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    WHERE e.event_type = 'purchase'
    GROUP BY e.user_id, c.c_mktsegment
    """,
)
def salted_join_event_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated equi-join through the driver gate: events joined to
    customers via relational.salted_join (deterministic xxhash salt on
    the big side, small side exploded n_salts ways), then the per-user
    spend rollup. Results are salt-invariant by construction — the
    oracle is the plain join — and the salted plan spreads any hot
    user_id over 8 reducers instead of one (test_scale_ops asserts the
    spread). This is the heavy-skew fallback; AQE skew-splitting is the
    zero-cost default."""
    ev = (
        load_table(spark, "events", sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "value")
    )
    cust = load_table(spark, "customer", sf_dir).select(
        F.col("c_custkey"), F.col("c_mktsegment")
    )
    joined = relational.salted_join(
        ev, cust.withColumnRenamed("c_custkey", "user_id"), ["user_id"], n_salts=8
    )
    return joined.groupBy("user_id", "c_mktsegment").agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("spend_cents"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )


@_q(
    "key_skew_report_events",
    """
    WITH counts AS (
      SELECT CAST(event_type AS VARCHAR) AS key_value, count(*) AS cnt
      FROM events GROUP BY 1),
    total AS (SELECT CAST(sum(cnt) AS BIGINT) AS __total FROM counts),
    topk AS (SELECT key_value, cnt FROM counts ORDER BY cnt DESC, key_value LIMIT 8)
    SELECT key_value, cnt,
           CAST((cnt * 1000000) // __total AS BIGINT) AS share_ppm,
           CAST(cnt // ((__total + 31) // 32) AS BIGINT) AS skew_x,
           CAST((cnt * 32 + __total - 1) // __total AS INT) AS salt_factor
    FROM topk CROSS JOIN total
    """,
)
def key_skew_report_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-health profile of the events stream's event_type key —
    the planning-side salt advisor feeding salted_join_event_spend's
    n_salts. diagnostics.key_skew_report: one map-side-combined count
    shuffle, a TakeOrderedAndProject top-k (per-partition heap, no
    global sort), a broadcast single-row total; every metric is pure
    integer ``div`` arithmetic (Spark's double->long cast truncates
    where DuckDB rounds — float division here would flake the oracle).
    See operators/diagnostics.py for the 100 TB rationale (AQE covers
    skewed sort-merge JOINS at runtime; aggregations and ahead-of-time
    planning need this)."""
    ev = load_table(spark, "events", sf_dir)
    return diagnostics.key_skew_report(
        ev, ["event_type"], top=8, target_partitions=32
    )


@_q(
    "asof_join_forward_tolerance",
    """
    WITH ev AS (
      SELECT user_id, event_id, epoch_us(ts) AS t, event_type
      FROM events WHERE event_type IN ('signup', 'purchase')
    ), carried AS (
      SELECT user_id, event_id, t, event_type,
             min(CASE WHEN event_type = 'purchase' THEN t END)
               OVER (PARTITION BY user_id
                     ORDER BY t, CASE WHEN event_type = 'signup' THEN 0 ELSE 1 END
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS purchase_us
      FROM ev
    )
    SELECT event_id, user_id, purchase_us
    FROM carried
    WHERE event_type = 'signup' AND purchase_us IS NOT NULL
      AND purchase_us - t <= 604800000000::BIGINT
    """,
)
def asof_join_forward_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join with a tolerance bound: each signup matched to
    the user's FIRST purchase at-or-after it, but only within 7 days —
    the conversion-window query every funnel pipeline runs. Same linear
    union+carry plan as the backward form (one shuffle on user_id); the
    tolerance is a post-carry projection, not an extra join
    (operators.relational.asof_join, direction='forward')."""
    ev = load_table(spark, "events", sf_dir)
    signups = ev.filter(F.col("event_type") == "signup").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", F.unix_micros("ts").alias("purchase_us"))
    )
    return relational.asof_join(
        signups,
        purchases,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_value_cols=["purchase_us"],
        how="inner",
        direction="forward",
        tolerance="7 days",
    ).select("event_id", "user_id", "purchase_us")


@_q(
    "pipeline_train_manifest",
    f"""
    WITH t AS (
      SELECT doc_id, text,
             list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
      FROM documents
    ), m AS (
      SELECT doc_id, text,
             CAST(len(toks) AS INT) AS n_tokens,
             CAST(list_sum(list_transform(toks, x -> length(x))) AS INT) AS total_len,
             CAST(len(list_filter(toks, x -> x IN ('the', 'a', 'of', 'and'))) AS INT) AS n_stop,
             len(list_filter(toks, x -> x IN ('the', 'a', 'fast', 'slow'))) AS en,
             len(list_filter(toks, x -> x IN ('data', 'value', 'row')))     AS de,
             len(list_filter(toks, x -> x IN ('query', 'filter', 'merge'))) AS fr
      FROM t
    ), scored AS (
      SELECT doc_id, text,
             CASE WHEN n_tokens > 0 THEN
               ((50 * (CAST(n_tokens AS BIGINT) * least(n_tokens, 200)
                       + 120 * least(4 * CAST(n_stop AS BIGINT), n_tokens)
                       + 10 * least(CAST(total_len AS BIGINT), 8 * CAST(n_tokens AS BIGINT)))
                 + n_tokens) // (2 * CAST(n_tokens AS BIGINT))) / 10000.0
             ELSE 0.0 END AS quality,
             CASE WHEN en >= de AND en >= fr AND en > 0 THEN 'en'
                  WHEN de >= fr AND de > 0 THEN 'de'
                  WHEN fr > 0 THEN 'fr'
                  ELSE 'und' END AS lang_pred
      FROM m
    ), keepers AS (
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ), kept AS (
      SELECT s.doc_id FROM scored s JOIN keepers k ON k.doc_id = s.doc_id
      WHERE s.quality >= 0.3 AND s.lang_pred = 'en'
    )
    SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum
    FROM (
      SELECT doc_id,
             CASE WHEN h % 100 < 80 THEN 'train'
                  WHEN h % 100 < 90 THEN 'valid'
                  ELSE 'test' END AS split
      FROM (SELECT doc_id, {{h64}} AS h FROM kept)
    )
    GROUP BY split
    """.replace("{h64}", _SQL_HASH64.format(x="doc_id::VARCHAR")),
)
def pipeline_train_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite the engine exists for — a full training-data curation
    pipeline in ONE lazy plan: quality scoring + language ID (pure
    projections) -> exact-dedup keepers (one hash groupBy, semi-join
    back) -> deterministic 80/10/10 hash split -> per-split manifest.
    The text operators APPEND columns, so scoring and language ID chain
    on ONE scan (no self-joins); the corpus is read exactly twice (once
    enriched, once for the dedup aggregate) and shuffled twice (dedup
    groupBy + final rollup) regardless of size; every stage is the §6
    operator already verified alone, composed here end-to-end as a user
    would."""
    docs = load_table(spark, "documents", sf_dir)
    enriched = text.lang_id(text.quality_score(docs))
    keepers = dedup.dedup_exact(docs).select(F.col("keeper_id").alias("doc_id"))
    kept = (
        enriched.filter((F.col("quality") >= 0.3) & (F.col("lang_pred") == "en"))
        .select("doc_id")
        .join(keepers, "doc_id", "leftsemi")
    )
    h = portable_hash64(F.col("doc_id").cast("string")) % 100
    split = F.when(h < 80, "train").when(h < 90, "valid").otherwise("test")
    return (
        kept.select("doc_id", split.alias("split"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
        )
    )


@_q(
    "right_join_order_priority_mix",
    """
    SELECT c_custkey, c_mktsegment,
           CAST(count(o_orderkey) AS BIGINT) AS n_urgent
    FROM (SELECT * FROM orders WHERE o_orderpriority = '1-URGENT') o
    RIGHT JOIN customer ON o_custkey = c_custkey
    GROUP BY c_custkey, c_mktsegment
    """,
)
def right_join_order_priority_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT outer join (the one outer-join direction not yet declared):
    urgent orders right-joined to customer, preserving customers with
    zero urgent orders as count 0. Catalyst canonicalizes it to the
    mirrored left join with the dimension side buildable — same plan
    family as left_join_customer_order_counts, declared so every join
    direction has an oracle row."""
    orders = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    cust = load_table(spark, "customer", sf_dir)
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey, "right")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.count("o_orderkey").cast("long").alias("n_urgent"))
    )


@_q(
    "multimodal_resize",
    """
    SELECT doc_id AS media_id, 8 AS out_w, 8 AS out_h, 64 AS n_pixels,
           CASE WHEN length(text) = 0 THEN 0
                ELSE (SELECT CAST(sum(ascii(substr(text, (i * length(text)) // 64 + 1, 1))) AS BIGINT)
                      FROM (SELECT unnest(generate_series(0, 63)) AS i))
           END AS pix_checksum
    FROM documents
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize plumbing (operators/multimodal.py resize_media):
    bytes -> 8x8 nearest-neighbor grid through mapInPandas; the decode is
    a deterministic byte-sampler stand-in (no codecs here), the Arrow
    batch shape and schema are the real ones. The oracle recomputes the
    sampled-byte checksum per document (the fixture text is pure ASCII,
    so per-character ascii() equals per-byte access); the pixel buffer
    itself is plumbing and projected away."""
    from ssp_spark.operators import multimodal as mm

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", F.encode("text", "utf-8").alias("data")
    )
    out = mm.resize_media(docs, "doc_id", "data", out_w=8, out_h=8)
    return out.select("media_id", "out_w", "out_h", "n_pixels", "pix_checksum")


@_q(
    "multimodal_resize_decoded",
    f"""
    WITH {_sql_doc_bytes(48)}
    SELECT doc_id AS media_id, 2 AS out_w, 2 AS out_h, 12 AS n_pixels,
           CAST((SELECT sum(ascii(substr(px, p.base * 3 + ch, 1)))
                 FROM (SELECT unnest([0, 2, 8, 10]) AS base) p,
                      (SELECT unnest([1, 2, 3]) AS ch) c) AS BIGINT)
             AS pix_checksum
    FROM img
    """,
)
def multimodal_resize_decoded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL decode path under the driver gate: each document's first
    48 bytes become the pixel payload of a genuine 4x4 P6 PPM (header
    built in-engine), decode_image parses it, and resize_media's
    real-pixel branch nearest-neighbor-samples it to 2x2 RGB (rows/cols
    0 and 2 -> pixel bases 0,2,8,10, 3 bytes each). The oracle rebuilds
    the same 12-byte selection with ascii(substr()) arithmetic — valid
    only when chars == bytes, so BOTH sides enforce the ASCII guard
    structurally (Spark: the 48-char payload must encode to 48 UTF-8
    bytes; oracle: strlen = 48) instead of trusting the fixture to stay
    pure ASCII. Proves the numpy PPM decoder, not just the
    byte-sampling fallback, against an exact oracle."""
    from ssp_spark.operators import multimodal as mm

    docs = _doc_prefix_bytes(spark, sf_dir, 48).select(
        "doc_id", F.concat(F.lit(b"P6\n4 4\n255\n"), F.col("px")).alias("data")
    )
    out = mm.resize_media(docs, "doc_id", "data", out_w=2, out_h=2)
    return out.select("media_id", "out_w", "out_h", "n_pixels", "pix_checksum")


@_q(
    "multimodal_decode_png",
    f"""
    WITH {_sql_doc_bytes(60)}
    SELECT doc_id AS media_id, 4 AS width, 5 AS height,
           CAST(sum(v) AS BIGINT) AS pix_sum,
           CAST(sum(CASE WHEN (i - 1) % 3 = 0 THEN v ELSE 0 END) AS BIGINT)
             AS r_sum,
           CAST(sum(CASE WHEN (i - 1) % 3 = 1 THEN v ELSE 0 END) AS BIGINT)
             AS g_sum,
           CAST(sum(CASE WHEN (i - 1) % 3 = 2 THEN v ELSE 0 END) AS BIGINT)
             AS b_sum
    FROM b GROUP BY doc_id
    """,
)
def multimodal_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stdlib PNG codec under the driver gate: each document's
    first 60 bytes become the pixels of a genuine 4x5 8-bit RGB PNG —
    written with a REAL zlib-deflated IDAT and per-scanline filters
    cycling None/Sub/Up/Average/Paeth, so all five reconstruction
    paths of multimodal._decode_png run on EVERY image — then decoded
    back and reduced to exact per-channel sums. The oracle replays the
    sums with ascii(substr()) arithmetic on the source text (pure
    ASCII fixture: chars == bytes), so a single wrong reconstructed
    byte anywhere in the inflate/unfilter pipeline breaks the hash.
    Proves decode inverts a real deflate stream, not just the
    fixed-byte goldens (test_multimodal pins those independently so
    writer and reader bugs cannot cancel).

    Plan: one documents scan -> mapInPandas (Arrow-batched, row-local
    encode/decode, no shuffle) -> driver-hashable 7-column frame; at
    100 TB this is the classic decode-map: pure per-row CPU that
    scales with executors, zero exchanges.

    ASCII guard: the cross-engine hash needs the payload's CHARS to
    equal its BYTES. Both sides enforce it structurally — Spark keeps
    rows whose first-60-chars UTF-8
    encoding is exactly 60 bytes, the oracle keeps strlen(px) = 60 —
    so a future non-ASCII document drops identically from both frames
    instead of silently diverging the hash."""
    from ssp_spark.operators import multimodal as mm

    docs = _doc_prefix_bytes(spark, sf_dir, 60)
    return mm.png_roundtrip_stats(docs, "doc_id", "px", w=4, h=5)


@_q(
    "multimodal_decode_png_palette",
    f"""
    WITH {_sql_doc_bytes(20)}
    SELECT doc_id AS media_id, 4 AS width, 5 AS height,
           CAST(sum(v + (2 * v) % 256 + (7 * v) % 256) AS BIGINT) AS pix_sum,
           CAST(sum(v) AS BIGINT) AS r_sum,
           CAST(sum((2 * v) % 256) AS BIGINT) AS g_sum,
           CAST(sum((7 * v) % 256) AS BIGINT) AS b_sum
    FROM b GROUP BY doc_id
    """,
)
def multimodal_decode_png_palette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The indexed-PNG (color type 3) decode path under the driver
    gate: each document's first 20 bytes become the INDEX PLANE of a genuine 4x5
    8-bit palette PNG (real deflated IDAT + PLTE, scanline filters
    cycling None/Sub/Up/Average/Paeth so all five reconstruction paths
    run with bpp=1 — the one-byte-pixel filter geometry truecolor
    images never exercise), decoded back through the PLTE lookup, and
    reduced to exact per-channel sums of the looked-up RGB pixels.
    The palette is ARITHMETIC — entry i = (i, 2i mod 256, 7i mod 256)
    over the 128-entry ASCII domain — so the oracle replays the sums
    directly from the source bytes: r_sum = Σv, g_sum = Σ(2v mod 256),
    b_sum = Σ(7v mod 256). A single wrong reconstructed index anywhere
    in the inflate/unfilter/lookup pipeline breaks the hash
    (test_multimodal pins the decoder against hand-assembled
    stored-deflate goldens independently, so writer and reader bugs
    cannot cancel). Chars == bytes enforced structurally on both sides
    (the ASCII-guard contract of the sibling decode queries).

    Plan: one documents scan -> mapInPandas (Arrow-batched, row-local
    encode/decode, no shuffle) -> driver-hashable 7-column frame; the
    same 100 TB decode-map shape as multimodal_decode_png."""
    from ssp_spark.operators import multimodal as mm

    palette = [(i, (2 * i) % 256, (7 * i) % 256) for i in range(128)]
    docs = _doc_prefix_bytes(spark, sf_dir, 20)
    return mm.png_palette_roundtrip_stats(
        docs, "doc_id", "px", w=4, h=5, palette=palette
    )


@_q(
    "multimodal_decode_jpeg",
    f"""
    WITH {_sql_doc_bytes(20)}
    SELECT doc_id AS media_id, 32 AS width, 40 AS height,
           CAST(3 * sum(64 * (v + 64)) AS BIGINT) AS pix_sum,
           CAST(sum(64 * (v + 64)) AS BIGINT) AS gray_sum
    FROM b GROUP BY doc_id
    """,
)
def multimodal_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baseline JPEG decode under the oracle gate: each document's
    first 20 bytes v become the quantized DC coefficients (v - 64, so negative
    differential categories are exercised) of a genuine 4x5-block
    grayscale baseline JPEG written at the COEFFICIENT level
    (encode_jpeg_gray_coeffs: Annex K.3 Huffman tables, differential DC
    + EXTEND bits, EOB, byte stuffing), then decoded back by the REAL
    path — marker parse, DHT canonical code reconstruction, Huffman
    bit-stream decode, dequantize, float64 iDCT, level shift — and
    reduced to exact pixel sums. The oracle replay is analytic: a
    DC-only block iDCTs to the constant dc*Q00/8 (exact at float64 for
    |dc| <= 64 under Q00 = 8), so each byte contributes exactly
    64*(v + 64) per channel and a single wrong Huffman bit, dequant
    cell, or iDCT term anywhere breaks the hash. Hand-assembled
    bitstream goldens in test_multimodal pin the decoder independently
    of the writer (including an AC-coefficient cosine-ramp block the
    analytic oracle cannot reach). ASCII chars == bytes enforced
    structurally on both sides, as the sibling decode queries.

    Plan: one documents scan -> mapInPandas (Arrow-batched, row-local
    encode/decode, no shuffle) -> driver-hashable 5-column frame; the
    same 100 TB decode-map shape as the PNG gate queries."""
    from ssp_spark.operators import multimodal as mm

    docs = _doc_prefix_bytes(spark, sf_dir, 20)
    return mm.jpeg_roundtrip_stats(docs, "doc_id", "px", bw=4, bh=5)


@_q(
    "multimodal_decode_jpeg_progressive",
    f"""
    WITH {_sql_doc_bytes(20)}
    SELECT doc_id AS media_id, 32 AS width, 40 AS height,
           CAST(3 * sum(64 * (v + 64)) AS BIGINT) AS pix_sum,
           CAST(sum(64 * (v + 64)) AS BIGINT) AS gray_sum
    FROM b GROUP BY doc_id
    """,
)
def multimodal_decode_jpeg_progressive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Progressive (SOF2) JPEG decode under the oracle gate.
    Same 4x5-block DC payload as `multimodal_decode_jpeg` (bytes ->
    dc = v - 64), but the stream is a REAL three-scan progressive file
    (encode_jpeg_gray_coeffs_progressive: DC first at Al=1 with the
    arithmetic-shift point transform, a DC refinement scan delivering
    bit 0 of every block — negative and odd DCs make both scans
    load-bearing — and an AC scan of per-block EOB runs), decoded
    through the full multi-scan coefficient-accumulation path
    (_decode_jpeg_progressive: G.1.2.1 DC accumulation, G.1.2.2 EOBRUN
    spectral-selection decode). The two DC scans reconstruct every
    coefficient exactly, so the SAME analytic oracle applies:
    64*(v + 64) per block per channel — a wrong point transform, a
    skipped refinement bit, or a broken EOB run shifts a sum and
    breaks the hash. The G.1.2.3 AC correction-bit path and EOBRUN
    spans are pinned by hand-assembled goldens in test_multimodal
    (custom-DHT EOBn codes, newly-significant + history-correction
    bits) — decoder paths the writer never touches.

    Plan: one documents scan -> mapInPandas (Arrow-batched, row-local
    encode/decode, no shuffle) -> driver-hashable 5-column frame; the
    same 100 TB decode-map shape as the sibling gate queries."""
    from ssp_spark.operators import multimodal as mm

    docs = _doc_prefix_bytes(spark, sf_dir, 20)
    return mm.jpeg_progressive_roundtrip_stats(docs, "doc_id", "px", bw=4, bh=5)


@_q(
    "multimodal_decode_jpeg420",
    f"""
    WITH {_sql_doc_bytes(24)},
    blk AS (
      SELECT doc_id,
             (j - 1) // 4 AS br, (j - 1) % 4 AS bc,
             ascii(substr(px, j, 1)) + 64 AS y,
             ((ascii(substr(px, 17 + ((j - 1) // 4 // 2) * 2 + (j - 1) % 4 // 2, 1)) % 9) - 4) * 5 AS dcb,
             ((ascii(substr(px, 21 + ((j - 1) // 4 // 2) * 2 + (j - 1) % 4 // 2, 1)) % 9) - 4) * 5 AS dcr
      FROM img, (SELECT unnest(generate_series(1, 16)) AS j) u
    ),
    rgb AS (
      SELECT doc_id, br, bc,
             greatest(0, least(255, y + CAST(round(1.402 * dcr) AS BIGINT)))
           + greatest(0, least(255, y + CAST(round(-0.344136 * dcb - 0.714136 * dcr) AS BIGINT)))
           + greatest(0, least(255, y + CAST(round(1.772 * dcb) AS BIGINT))) AS s
      FROM blk
    )
    SELECT doc_id AS media_id, 32 AS width, 32 AS height,
           CAST(sum(64 * s) AS BIGINT) AS pix_sum,
           CAST(sum((16384 * br + 512 * bc + 7456) * s) AS BIGINT) AS pos_sum
    FROM rgb GROUP BY doc_id
    """,
)
def multimodal_decode_jpeg420(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chroma-subsampled (4:2:0) JPEG decode under the oracle gate
    (4:2:0 is the dominant real-corpus JPEG form). Each document's
    first 24 bytes become the
    DC coefficients of a genuine 2x2-MCU (32x32) baseline 4:2:0 JPEG
    (bytes 1-16 the 4x4 luma grid, 17-20 / 21-24 the 2x2 Cb/Cr grids
    quantized to multiples of 5 in [-20, 20]) written at the
    COEFFICIENT level by encode_jpeg_ycbcr420_coeffs, then decoded back
    through the FULL subsampled path: interleaved MCU scan (four Y
    blocks + Cb + Cr per MCU, per-component DC predictors), subsampled
    planes, 2x2 replication upsampling, JFIF conversion with clamp.

    The oracle replay is analytic and integer-exact: DC-only blocks
    decode to y = v + 64; each 8x8 luma block sees the constant chroma
    of its covering 16x16 MCU, so every pixel is y + round(offset)
    clamped — and over the chroma domain every offset fraction sits
    >= 0.0466 from .5 (checked across all 81 combos), making numpy's
    half-even and DuckDB's half-away round() identical. ``pos_sum``
    (sum of i*(r+g+b) over row-major positions, closed-form
    16384*br + 512*bc + 7456 per block) is the load-bearing output: a
    chroma block scattered to the wrong MCU, a swapped Y interleave
    order, or wrong upsample geometry preserves the pixel multiset
    (pix_sum) but not positions. Hand-assembled 4:2:0/4:2:2 bitstream
    goldens pin the decoder independently of the writer
    (test_multimodal: one-MCU quadrants, odd-size crop, multi-MCU
    distinct-chroma roundtrip). ASCII chars == bytes enforced
    structurally on both sides, as the sibling decode queries.

    Plan: one documents scan -> mapInPandas (Arrow-batched, row-local
    encode/decode, no shuffle) -> driver-hashable 5-column frame; the
    same 100 TB decode-map shape as the sibling gate queries."""
    from ssp_spark.operators import multimodal as mm

    docs = _doc_prefix_bytes(spark, sf_dir, 24)
    return mm.jpeg420_roundtrip_stats(docs, "doc_id", "px")


@_q(
    "multimodal_decode_png_adam7",
    f"""
    WITH {_sql_doc_bytes(20)}
    SELECT doc_id AS media_id, 4 AS width, 5 AS height,
           CAST(sum(v) AS BIGINT) AS gray_sum,
           CAST(3 * sum(v) AS BIGINT) AS pix_sum,
           CAST(sum(i * v) AS BIGINT) AS pos_sum
    FROM b GROUP BY doc_id
    """,
)
def multimodal_decode_png_adam7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full-matrix PNG decoder paths — grayscale
    colorize, 16-bit samples, Adam7 per-pass defiltering — under the
    driver gate in ONE stream: each document's first 20 bytes become
    the HIGH bytes of the 16-bit gray samples of a genuine 4x5
    Adam7-INTERLACED depth-16 PNG (real deflated IDAT; low bytes
    3v mod 256 so high-byte truncation must pick the right half of
    each big-endian pair; on 4x5 the interlace runs six non-empty
    passes and one empty one, 10 scanlines cycling all five filters
    at bpp=2), decoded back and reduced to exact sums. ``pos_sum`` =
    Σ i·v over row-major position is the load-bearing output: a pass
    scattered to a wrong origin/step preserves the pixel multiset
    (and so gray_sum/pix_sum) but not the positions. The oracle
    replays all three sums from the source bytes with ascii(substr())
    arithmetic; chars == bytes enforced structurally on both sides
    (the ASCII-guard contract of the sibling decode queries). Decoder
    goldens: tests/test_multimodal.py pins gray/16-bit/Adam7 against
    hand-assembled stored-deflate bytes (incl. the canonical 8x8
    pattern matrix), so writer and reader bugs cannot cancel here.

    Plan: one documents scan -> mapInPandas (Arrow-batched, row-local
    encode/decode, no shuffle) -> driver-hashable 6-column frame; the
    same 100 TB decode-map shape as the sibling queries."""
    from ssp_spark.operators import multimodal as mm

    docs = _doc_prefix_bytes(spark, sf_dir, 20)
    return mm.png_gray16_adam7_roundtrip_stats(docs, "doc_id", "px", w=4, h=5)


@_q(
    "multimodal_decode_bmp_rle8",
    f"""
    WITH {_sql_doc_bytes(20)}
    SELECT doc_id AS media_id, 32 AS width, 40 AS height,
           CAST(64 * sum(v) AS BIGINT) AS sum_r,
           CAST(128 * sum(v) AS BIGINT) AS sum_g,
           CAST(64 * sum(255 - v) AS BIGINT) AS sum_b,
           CAST(sum(v * (16384 * ((i - 1) // 4)
                         + 512 * ((i - 1) % 4) + 7456)) AS BIGINT)
             AS pos_sum_r
    FROM b GROUP BY doc_id
    """,
)
def multimodal_decode_bmp_rle8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RLE8 (BI_RLE8) palette BMP decode under the oracle gate, the
    BMP matrix past 24-bit BI_RGB: 8-bit
    color-table BMPs, uncompressed and run-length encoded. Same tile
    construction and palette as the GIF gate, but the container
    exercises BMP's distinct machinery: the BGRA color table, the
    published RLE8 encoding (run packets here; escape pairs for
    end-of-line/bitmap; absolute mode and delta jumps pinned by a
    hand-assembled stream golden the writer never emits), and the
    bottom-up row order — pos_sum_r is load-bearing for the flip,
    channel sums for the palette. Oracle replays the closed-form tile
    sums from the source bytes (the GIF/TIFF precedent).

    Plan: one documents scan -> _spread_for_cpu -> mapInPandas
    (Arrow-batched, row-local encode/decode, no shuffle at corpus
    scale) -> driver-hashable 7-column frame."""
    from ssp_spark.operators import multimodal as mm

    docs = _doc_prefix_bytes(spark, sf_dir, 20)
    return mm.bmp_rle8_roundtrip_stats(docs, "doc_id", "px")


@_q(
    "multimodal_video_y4m_index",
    f"""
    WITH {_sql_doc_bytes(5)}
    SELECT doc_id AS media_id, 5 AS n_frames, 16 AS width, 8 AS height,
           25 AS fps_num,
           CAST(128 * sum(i * v) AS BIGINT) AS weighted_y_sum,
           CAST(838 AS BIGINT) AS last_frame_offset
    FROM b GROUP BY doc_id
    """,
)
def multimodal_video_y4m_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """YUV4MPEG2 (y4m) stream walking under the driver gate — the
    video tier's second real interchange format (what ffmpeg emits for
    raw planar YUV, the sibling of the concatenated-PPM path). Each
    document's first 5 bytes become a REAL 16x8 C420 25fps Y4M clip —
    frame k's luma plane filled with byte v_k, chroma at 128 — and the
    kernel walks it back through the full path: header tag parse
    (W/H/F/C), FRAME marker walk with O(1) planar-size seeks, Y-plane
    extraction. weighted_y_sum (weight = frame index + 1) pins frame
    ORDER and content; last_frame_offset = 40 + 5*6 + 4*192 + ...
    = 838 pins the header length and the C420 frame-size arithmetic
    exactly (one byte of drift anywhere shifts it).

    Plan: one documents scan -> mapInPandas (Arrow-batched, row-local
    encode/walk, no shuffle) -> driver-hashable 7-column frame; at
    100 TB the same walk runs on object-store ranges instead of
    inlined bytes (MEDIA_META uri layout), identical plan shape."""
    from ssp_spark.operators import multimodal as mm

    docs = _doc_prefix_bytes(spark, sf_dir, 5)

    def build(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "px": [
                        bytearray(
                            mm.encode_y4m(list(bytes(p)[:5]), 16, 8, fps=(25, 1))
                        )
                        for p in pdf["px"]
                    ],
                }
            )

    # two pipelined mapInPandas stages (build clip -> walk clip); the
    # walk kernel's _spread_for_cpu sees the un-shuffled 2-split plan
    # and spreads ONCE there (pre-spreading docs instead would put an
    # Exchange under the kernel's partition probe, which AQE
    # materializes eagerly — measured 16 s vs 4 s at sf1)
    clips = docs.mapInPandas(build, "doc_id long, px binary")
    return mm.y4m_frame_stats(clips, "doc_id", "px")


@_q(
    "multimodal_decode_tiff",
    f"""
    WITH {_sql_doc_bytes(20)}
    SELECT doc_id AS media_id, 32 AS width, 40 AS height,
           CAST(64 * sum(v) AS BIGINT) AS gray_sum,
           CAST(sum(v * (16384 * ((i - 1) // 4)
                         + 512 * ((i - 1) % 4) + 7456)) AS BIGINT)
             AS pos_sum
    FROM b GROUP BY doc_id
    """,
)
def multimodal_decode_tiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baseline TIFF 6.0 decode under the oracle gate (the
    scan/scientific-corpus format). Each document's first 20
    bytes tile to the same 32x40 grid as the GIF gate, but the
    container exercises TIFF's distinct machinery: big-endian (MM)
    byte order, the IFD tag walk, THREE strips via RowsPerStrip=16
    (the middle strip splits a tile row), PackBits decompression
    (repeat packets from the 8-wide tile runs), and photometric 0
    (WhiteIsZero). gray_sum pins the sample values and pos_sum the
    strip/row order. The invert DIRECTION and the 1-bit/palette/RGB
    paths are pinned by hand-assembled IFD goldens (the writer's
    photo-0 pre-inversion would otherwise let a missing invert pair
    cancel), and PackBits is pinned by the published spec example.
    LZW/tiled/planar TIFF refuse with NotImplementedError (disclosed).

    Plan: one documents scan -> mapInPandas (Arrow-batched, row-local
    encode/decode, no shuffle) -> driver-hashable 5-column frame; the
    same 100 TB decode-map shape as the sibling gate queries."""
    from ssp_spark.operators import multimodal as mm

    docs = _doc_prefix_bytes(spark, sf_dir, 20)
    return mm.tiff_roundtrip_stats(docs, "doc_id", "px")


@_q(
    "multimodal_decode_audio_flac",
    f"""
    WITH {_sql_doc_bytes(20)},
    s AS (
      SELECT doc_id, i,
             SUM(CASE WHEN i = 1 THEN (v - 64) * 256 ELSE v - 64 END)
               OVER (PARTITION BY doc_id ORDER BY i) AS sv
      FROM b
    )
    SELECT doc_id AS media_id, 20 AS n_samples, 8000 AS sample_rate,
           CAST(sum(sv) AS BIGINT) AS sum_val,
           CAST(sum(abs(sv)) AS BIGINT) AS sum_abs,
           CAST(max(CASE WHEN i = 20 THEN sv END) AS INT) AS last_val
    FROM s GROUP BY doc_id
    """,
)
def multimodal_decode_audio_flac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAC decode under the oracle gate (operators/flac.py: a
    complete frame-level decoder —
    STREAMINFO, sync + header codes + UTF-8 frame numbers + CRC-8,
    CONSTANT/VERBATIM/FIXED/LPC subframes, partitioned Rice with the
    raw-bits escape, left/right/mid-side decorrelation, frame CRC-16).
    Each document's first 20 bytes become a REAL mono 16-bit stream:
    byte0 scales to the FIXED-order-1 warmup sample, bytes 1..19 ride
    the Rice-coded residual fold (both signs through the zigzag), so
    the decoded samples are prefix sums the oracle replays with a SQL
    window — a wrong predictor, zigzag, Rice parameter, or CRC
    anywhere breaks the hash on some document. Decoder paths the
    writer never touches (LPC fold, mid/side, Rice escape, wasted
    bits, CRC known-answer anchors) are pinned by hand-assembled
    bitstream goldens in tests/test_multimodal.py.

    Plan: one documents scan -> mapInPandas (Arrow-batched, row-local
    encode/decode, no shuffle) -> driver-hashable 6-column frame; the
    same 100 TB decode-map shape as the sibling gate queries."""
    from ssp_spark.operators import multimodal as mm

    docs = _doc_prefix_bytes(spark, sf_dir, 20)
    return mm.flac_roundtrip_stats(docs, "doc_id", "px", n_bytes=20)


@_q(
    "multimodal_decode_jpeg12",
    f"""
    WITH {_sql_doc_bytes(20)}
    SELECT doc_id AS media_id, 32 AS width, 40 AS height,
           CAST(sum(64 * (v + 1984)) AS BIGINT) AS gray_sum,
           CAST(max(v) + 1984 AS INT) AS max_px
    FROM b GROUP BY doc_id
    """,
)
def multimodal_decode_jpeg12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """12-bit (SOF0 precision 12) grayscale JPEG decode under the
    oracle gate (the medical/scientific-imaging profile). Same DC-only 4x5-block
    construction as `multimodal_decode_jpeg` (dc = v - 64 on a real
    Huffman stream), but written at precision 12 and decoded through
    decode_image_deep: the 2048 level shift and 0..4095 clamp make
    each block the exact constant v + 1984 on a (h, w) uint16 plane —
    a decoder that shifts by 128, clamps at 255, or narrows to uint8
    breaks the hash. decode_image itself still REFUSES 12-bit (its
    (h, w, 3) uint8 contract cannot carry it losslessly) — asserted
    in the goldens, so the boundary is a designed fork, not a gap.

    Plan: one documents scan -> mapInPandas (Arrow-batched, row-local
    encode/decode, no shuffle) -> driver-hashable 5-column frame; the
    same 100 TB decode-map shape as the sibling gate queries."""
    from ssp_spark.operators import multimodal as mm

    docs = _doc_prefix_bytes(spark, sf_dir, 20)
    return mm.jpeg12_roundtrip_stats(docs, "doc_id", "px", bw=4, bh=5)


@_q(
    "multimodal_decode_gif",
    f"""
    WITH {_sql_doc_bytes(20)}
    SELECT doc_id AS media_id, 32 AS width, 40 AS height,
           CAST(64 * sum(v) AS BIGINT) AS sum_r,
           CAST(128 * sum(v) AS BIGINT) AS sum_g,
           CAST(64 * sum(255 - v) AS BIGINT) AS sum_b,
           CAST(sum(v * (16384 * ((i - 1) // 4)
                         + 512 * ((i - 1) % 4) + 7456)) AS BIGINT)
             AS pos_sum_r
    FROM b GROUP BY doc_id
    """,
)
def multimodal_decode_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIF (LZW) decode under the oracle gate. Each
    document's first 20 bytes v become a 4x5 grid of indices into the
    128-entry palette (v, 2v, 255-v), tiled 8x8 to a 32x40 image
    (1,280 pixels — the LZW table grows through a code-width bump),
    written as a REAL INTERLACED GIF89a (logical screen descriptor,
    power-of-two color table, variable-width LSB-first LZW in
    sub-blocks) and decoded back by the full path — _gif_lzw_decode's
    clear/EOI/KwKwK/width-growth machinery plus the four-pass
    de-interlace. Channel sums pin the palette mapping; pos_sum_r
    (position-weighted R, closed form 16384*tr + 512*tc + 7456 per
    tile) pins pixel ORDER, so a pass scattered to wrong rows or a
    desynchronized code width breaks the hash. Decoder pinned
    independently of the writer by hand-packed bitstream goldens
    (literal stream, KwKwK, mid-stream clear, interlace scatter,
    sub-block split — tests/test_multimodal.py).

    Plan: one documents scan -> mapInPandas (Arrow-batched, row-local
    encode/decode, no shuffle) -> driver-hashable 7-column frame; the
    same 100 TB decode-map shape as the sibling gate queries."""
    from ssp_spark.operators import multimodal as mm

    docs = _doc_prefix_bytes(spark, sf_dir, 20)
    return mm.gif_roundtrip_stats(docs, "doc_id", "px")


@_q(
    "multimodal_gif_anim_index",
    f"""
    WITH {_sql_doc_bytes(20)}
    SELECT doc_id AS media_id, 4 AS n_frames,
           CAST(sum(CASE WHEN (i - 1) % 5 = 0 THEN v + 1 ELSE 0 END)
                AS BIGINT) AS sum_delay_cs,
           CAST(sum(v * 64 * ((i - 1) // 5 + 1)) AS BIGINT) AS wsum,
           CAST(sum(v * ((i - 1) // 5 + 1)
                      * (512 * ((i - 1) % 5) + 9248)) AS BIGINT) AS psum
    FROM b GROUP BY doc_id
    """,
)
def multimodal_gif_anim_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANIMATED-GIF frame walking under the driver gate — the video
    tier's GIF twin of the Y4M index (web corpora are full
    of multi-frame GIFs and frame sampling needs the per-frame
    payloads, not just frame 1). Each document's first 20 bytes become
    a REAL 4-frame GIF89a animation (encode_gif_anim: NETSCAPE loop
    extension, per-frame graphic-control delays v[5f]+1 cs, odd frames
    INTERLACED) walked back by iter_gif_frames — per-frame LZW decode,
    GCE pairing, de-interlace. n_frames + the delay sum pin the walk;
    wsum (frame-order-weighted index sum) pins frame ORDER; psum
    (closed form (f+1)*v*(512*tc + 9248) per tile) pins the odd
    frames' de-interlace — a reader that skips de-scattering later
    frames keeps wsum but breaks psum.

    Plan: one documents scan -> mapInPandas (Arrow-batched, row-local
    encode/walk, no shuffle) -> driver-hashable 5-column frame; the
    same 100 TB decode-map shape as the sibling gate queries."""
    from ssp_spark.operators import multimodal as mm

    docs = _doc_prefix_bytes(spark, sf_dir, 20)
    return mm.gif_anim_stats(docs, "doc_id", "px")


@_q(
    "multimodal_decode_webp",
    f"""
    WITH {_sql_doc_bytes(20)}
    SELECT doc_id AS media_id, 32 AS width, 40 AS height,
           CAST(64 * sum(v) AS BIGINT) AS sum_r,
           CAST(64 * sum(255 - v) AS BIGINT) AS sum_g,
           CAST(64 * sum(2 * v) AS BIGINT) AS sum_b,
           CAST(sum(v * (16384 * ((i - 1) // 4)
                         + 512 * ((i - 1) % 4) + 7456)) AS BIGINT)
             AS pos_sum_r
    FROM b GROUP BY doc_id
    """,
)
def multimodal_decode_webp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossless-WebP (VP8L) decode under the oracle gate.
    Each document's first 20 bytes v become a 4x5 grid of colors
    (r=v, g=255-v, b=2v) tiled 8x8 to 32x40, written as a REAL VP8L
    stream (canonical-Huffman prefix codes via the code-length code,
    a 5-bit color cache with hits, dist-1 LZ77 run references) and
    decoded back through the full RIFF + prefix-code + cache + backref
    path. Channel sums pin the color mapping; pos_sum_r (closed form
    16384*tr + 512*tc + 7456 per tile) pins pixel ORDER. Decoder
    pinned independently of the writer by hand-packed bitstream
    goldens (tests/test_webp.py); plane codes <= 120, predictor/color
    transforms, pixel bundling and lossy VP8 are the module's
    DISCLOSED boundaries (ssp_spark/operators/webp.py docstring).

    Plan: one documents scan -> mapInPandas (Arrow-batched, row-local
    encode/decode, no shuffle) -> driver-hashable 7-column frame; the
    same 100 TB decode-map shape as the sibling gate queries."""
    from ssp_spark.operators import multimodal as mm

    docs = _doc_prefix_bytes(spark, sf_dir, 20)
    return mm.webp_roundtrip_stats(docs, "doc_id", "px")


@_q(
    "multimodal_decode_audio_g711",
    f"""
    WITH {_sql_doc_bytes(20)},
    cw AS (
      SELECT doc_id, 2 * i - 1 AS p, v AS c FROM b
      UNION ALL
      SELECT doc_id, 2 * i AS p, 255 - v AS c FROM b
    ),
    d AS (
      SELECT doc_id, p,
             CASE WHEN u >= 128 THEN 132 - t ELSE t - 132 END AS s_mu,
             CASE WHEN ua >= 128 THEN ta ELSE -ta END AS s_al
      FROM (
        SELECT doc_id, p,
               255 - c AS u,
               ((255 - c) % 16 * 8 + 132)
                 * (1 << (((255 - c) // 16) % 8)) AS t,
               xor(c, 85) AS ua,
               CASE WHEN (xor(c, 85) // 16) % 8 = 0
                    THEN xor(c, 85) % 16 * 16 + 8
                    ELSE (xor(c, 85) % 16 * 16 + 264)
                         * (1 << ((xor(c, 85) // 16) % 8 - 1)) END AS ta
        FROM cw)
    )
    SELECT doc_id AS media_id, CAST(count(*) AS INT) AS n_samples,
           8000 AS sample_rate,
           CAST(sum(s_mu) AS BIGINT) AS sum_mulaw,
           CAST(sum(abs(s_mu)) AS BIGINT) AS sum_abs_mulaw,
           CAST(sum(p * s_mu) AS BIGINT) AS pos_sum_mulaw,
           CAST(sum(s_al) AS BIGINT) AS sum_alaw,
           CAST(sum(abs(s_al)) AS BIGINT) AS sum_abs_alaw
    FROM d GROUP BY doc_id
    """,
)
def multimodal_decode_audio_g711(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G.711 μ-law + A-law audio decode under the oracle gate:
    decode_audio past 16-bit PCM on the two telephony log-PCM codings
    every speech corpus carries. Each
    document's first 20 bytes v become the 40-codeword stream
    [v, 255-v, ...] (the complement pairing drives both sign halves of
    both laws), wrapped into REAL format-7 and format-6 WAV containers
    and decoded back by the full path — RIFF chunk walk, fmt parse,
    expansion through the exact G.711 piecewise-linear tables
    (multimodal._g711_mulaw_table / _g711_alaw_table). The oracle
    replays the expansion formulas in pure SQL bit arithmetic
    (complement / XOR 0x55, segment shift, mantissa, sign), so one
    wrong shift, bias, or sign convention anywhere breaks the hash;
    pos_sum_mulaw pins codeword ORDER through the container, and
    sample_rate pins the fmt parse. Table extremes are pinned by
    goldens against the published values (0x00 -> -32124 μ-law,
    0x2A -> -32256 A-law). ASCII chars == bytes enforced structurally
    on both sides, as the sibling decode queries.

    Plan: one documents scan -> mapInPandas (Arrow-batched, row-local
    encode/decode, no shuffle) -> driver-hashable 8-column frame; the
    same 100 TB decode-map shape as the image gate queries."""
    from ssp_spark.operators import multimodal as mm

    docs = _doc_prefix_bytes(spark, sf_dir, 20)
    return mm.g711_roundtrip_stats(docs, "doc_id", "px", n_bytes=20)


@_q(
    "multimodal_decode_audio_adpcm",
    f"""
    WITH RECURSIVE {_sql_doc_bytes(10)},
    st(i, s) AS (
      SELECT * FROM (VALUES
        (0,7),(1,8),(2,9),(3,10),(4,11),(5,12),(6,13),(7,14),(8,16),
        (9,17),(10,19),(11,21),(12,23),(13,25),(14,28),(15,31),(16,34),
        (17,37),(18,41),(19,45),(20,50),(21,55),(22,60),(23,66),(24,73),
        (25,80),(26,88),(27,97),(28,107),(29,118),(30,130),(31,143),
        (32,157),(33,173),(34,190),(35,209),(36,230),(37,253),(38,279),
        (39,307),(40,337),(41,371),(42,408),(43,449),(44,494),(45,544),
        (46,598),(47,658),(48,724),(49,796),(50,876),(51,963),(52,1060),
        (53,1166),(54,1282),(55,1411),(56,1552),(57,1707),(58,1878),
        (59,2066),(60,2272),(61,2499),(62,2749),(63,3024),(64,3327),
        (65,3660),(66,4026),(67,4428),(68,4871),(69,5358),(70,5894),
        (71,6484),(72,7132),(73,7845),(74,8630),(75,9493),(76,10442),
        (77,11487),(78,12635),(79,13899),(80,15289),(81,16818),
        (82,18500),(83,20350),(84,22385),(85,24623),(86,27086),
        (87,29794),(88,32767)) AS t(i, s)
    ),
    payload AS (
      SELECT doc_id, px,
             (ascii(substr(px, 1, 1)) - 64) * 256 AS pred0,
             ascii(substr(px, 2, 1)) % 89 AS idx0
      FROM img
    ),
    dec(doc_id, px, k, pred, idx, acc, acc_abs) AS (
      SELECT doc_id, px, 0, pred0, idx0,
             CAST(pred0 AS BIGINT), CAST(abs(pred0) AS BIGINT)
      FROM payload
      UNION ALL
      SELECT doc_id, px, k + 1, np, ni, acc + np, acc_abs + abs(np)
      FROM (
        SELECT q.*,
               GREATEST(-32768, LEAST(32767,
                 pred + CASE WHEN nib >= 8 THEN -diff ELSE diff END)) AS np,
               GREATEST(0, LEAST(88,
                 idx + CASE WHEN nib % 8 < 4 THEN -1
                            ELSE (nib % 8 - 3) * 2 END)) AS ni
        FROM (
          SELECT d.doc_id, d.px, d.k, d.pred, d.idx, d.acc, d.acc_abs,
                 st.s,
                 CASE WHEN d.k % 2 = 0
                      THEN ascii(substr(d.px, 3 + d.k // 2, 1)) % 16
                      ELSE ascii(substr(d.px, 3 + d.k // 2, 1)) // 16
                 END AS nib,
                 st.s // 8 + (nib % 2) * (st.s // 4)
                   + ((nib // 2) % 2) * (st.s // 2)
                   + ((nib // 4) % 2) * st.s AS diff
          FROM dec d JOIN st ON st.i = d.idx
          WHERE d.k < 16
        ) q
      )
    )
    SELECT doc_id AS media_id, 17 AS n_samples, 8000 AS sample_rate,
           CAST(acc AS BIGINT) AS sum_val,
           CAST(acc_abs AS BIGINT) AS sum_abs,
           CAST(pred AS INT) AS last_val
    FROM dec WHERE k = 16
    """,
)
def multimodal_decode_audio_adpcm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMA/DVI ADPCM (WAVE format 0x11) decode under the driver gate —
    the stateful-audio gate: each document's first 10 bytes
    become a REAL single-block mono ADPCM WAV (byte0 scales to the
    block-header predictor, both signs; byte1 picks the step index
    v % 89; bytes 2..9 carry 16 nibble deltas, low nibble first) and
    are decoded back by the full path — RIFF walk, fmt extension parse
    (wSamplesPerBlock), block-header read, and the published IMA
    nibble fold (step>>3 + conditional step>>2/step>>1/step terms,
    sign bit, int16 clamp, index-adjust table with [0,88] clamp). The
    oracle replays the SAME fold as a 16-step recursive SQL recurrence
    joined against the inline 89-entry step table — a wrong clamp,
    index adjust, nibble order, or off-by-one in the fold breaks the
    hash on some document (sf0.01 draws ~5k step-index/sign paths).
    last_val pins the full 16-step state chain, not just the sums.

    Plan: one documents scan -> mapInPandas (Arrow-batched, row-local
    encode/decode, no shuffle). The oracle's recursion is depth-16
    regardless of corpus size — per-row state folds are exactly what
    the engine's recurrence tier (operators/recurrence.py) scales;
    this query pins the CODEC against an independent replay."""
    from ssp_spark.operators import multimodal as mm

    docs = _doc_prefix_bytes(spark, sf_dir, 10)
    return mm.ima_adpcm_roundtrip_stats(docs, "doc_id", "px", n_data_bytes=8)


@_q(
    "array_lateral_explode",
    """
    WITH base AS (
      SELECT vec_id,
             CASE WHEN vec_id % 40 = 0
                  THEN (embedding::DOUBLE[])[1:3]
                  ELSE [] END AS arr
      FROM embeddings WHERE vec_id % 20 = 0
    )
    SELECT vec_id, CAST(i - 1 AS INT) AS pos, round(arr[i], 6) AS val
    FROM base, LATERAL (SELECT unnest(generate_series(1, len(arr))) AS i) u
    UNION ALL
    SELECT vec_id, CAST(NULL AS INT) AS pos, CAST(NULL AS DOUBLE) AS val
    FROM base WHERE len(arr) = 0
    """,
)
def array_lateral_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode + explode_outer in one declared query: ODD multiples of
    20 (vec_id % 40 != 0 after the % 20 pre-filter; every multiple of 20
    is even, so % 2 would be a dead branch — r2 ADVICE) get an EMPTY
    array and must SURVIVE as (NULL pos, NULL val) rows — the
    outer-generator contract plain explode drops. The oracle builds the
    same lateral unnest plus a union of the empty-array rows."""
    emb = load_table(spark, "embeddings", sf_dir).filter(F.col("vec_id") % 20 == 0)
    base = emb.select(
        "vec_id",
        F.when(
            F.col("vec_id") % 40 == 0,
            F.slice(F.col("embedding").cast("array<double>"), 1, 3),
        )
        .otherwise(F.array().cast("array<double>"))
        .alias("arr"),
    )
    return base.select(
        "vec_id", F.posexplode_outer("arr").alias("pos", "v")
    ).select("vec_id", F.col("pos").cast("int").alias("pos"), F.round("v", 6).alias("val"))


@_q(
    "literal_source_wordcount",
    """
    SELECT word, CAST(count(*) AS BIGINT) AS cnt
    FROM (SELECT unnest(['hello', 'this', 'is', 'ssp', 'hello', 'this',
                         'is', 'sparta', 'sparta', 'is', 'leonida']) AS word)
    GROUP BY word
    """,
)
def literal_source_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 through the driver gate: the reference's literal in-memory
    source (NewStreamFromElements, datastream.go:15-41) feeding its
    flagship word count — Stream.from_elements on the engine_test.go:157
    word list, keyed count via the fluent API. The oracle is the same
    literal list in SQL. (sf_dir unused: the source IS the literal.)"""
    from ssp_spark.stream import Stream

    words = ["hello", "this", "is", "ssp", "hello", "this",
             "is", "sparta", "sparta", "is", "leonida"]
    s = Stream.from_elements(spark, words, ["word"])
    return (
        s.key_by("word")
        .agg(cnt=F.count(F.lit(1)).cast("long"))
        .df.select("word", "cnt")
    )


# ---------------------------------------------------------------------------
# Round-3 training-pipeline additions: contamination, packing, quantization,
# skew diagnostics
# ---------------------------------------------------------------------------


@_q(
    "contamination_check",
    rf"""
    WITH {_SQL_SHINGLES},
    bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 3),
    corp AS (SELECT doc_id, sh FROM sh WHERE doc_id % 97 <> 3)
    SELECT c.doc_id,
           count(*) AS n_grams,
           count(b.sh) AS n_hit,
           round(count(b.sh)::DOUBLE / count(*), 4) AS contamination_frac,
           CAST(round(count(b.sh)::DOUBLE / count(*), 4) >= 0.2 AS INT) AS contaminated
    FROM corp c LEFT JOIN bench b ON c.sh = b.sh
    GROUP BY c.doc_id
    """,
)
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination scan (operators/text.contamination):
    docs with doc_id % 97 == 3 stand in for a held-out eval suite; every
    other document reports what fraction of its distinct 3-grams leak
    from it. The eval n-gram set is broadcast — the corpus never
    shuffles for the membership test."""
    docs = load_table(spark, "documents", sf_dir)
    is_bench = F.col("doc_id") % 97 == 3
    return text.contamination(
        docs.filter(~is_bench), docs.filter(is_bench), n=3, threshold=0.2
    )


@_q(
    "sequence_packing",
    r"""
    WITH toks AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
                  FROM documents),
    nt AS (SELECT doc_id, CAST(doc_id % 32 AS INT) AS shard, CAST(len(t) AS INT) AS n_tok
           FROM toks WHERE len(t) > 0),
    cum AS (SELECT doc_id, shard, n_tok,
                   sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING)::BIGINT AS c
            FROM nt)
    SELECT doc_id, shard, n_tok,
           (c - n_tok) // 512 AS seq_in_shard,
           CAST((c - n_tok) % 512 AS INT) AS seq_offset,
           CAST((c - 1) // 512 - (c - n_tok) // 512 + 1 AS INT) AS n_seqs
    FROM cum
    """,
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing manifest (operators/packing): documents
    hash-sharded 32 ways, each shard an independent token stream cut
    every 512 tokens. One shuffle (by shard) + per-shard window cumsum —
    no global order anywhere."""
    docs = load_table(spark, "documents", sf_dir)
    return packing.pack_sequences(docs, budget=512, n_shards=32)


@_q(
    "doc_chunk_overlap",
    r"""
    WITH toks AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
                  FROM documents),
    nt AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
    nc AS (SELECT doc_id, t, n,
                  CASE WHEN n <= 32 THEN 1 ELSE ((n - 32 + 23) // 24) + 1 END AS n_chunks
           FROM nt)
    SELECT doc_id, CAST(i AS INT) AS chunk_idx,
           array_to_string(t[i * 24 + 1 : i * 24 + 32], ' ') AS chunk_text,
           CAST(least(32, n - i * 24) AS INT) AS n_tok_chunk
    FROM nc, LATERAL (SELECT unnest(generate_series(0, n_chunks - 1)) AS i) u
    """,
)
def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (operators/packing.chunk_documents):
    32-token chunks with 8 tokens of overlap (stride 24) — the long-
    document half of sequence preparation. Chunk boundaries are exact
    integer arithmetic, so the oracle slices the identical windows;
    the plan is a zero-shuffle tokenize -> explode -> slice projection."""
    docs = load_table(spark, "documents", sf_dir)
    return packing.chunk_documents(docs, chunk_tokens=32, overlap=8)


@_q(
    "embedding_quantize_int8",
    """
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
    s AS (SELECT vec_id, v,
                 CASE WHEN amax > 0 THEN amax / 127.0 ELSE 1.0 END AS scale
          FROM (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS amax FROM v)),
    q AS (SELECT vec_id, v, scale,
                 list_transform(v, x -> CAST(floor(x / scale + 0.5) AS INT)) AS q
          FROM s)
    SELECT vec_id,
           CAST(floor(scale * 1e9 + 0.5) AS BIGINT) AS scale_e9,
           array_to_string(q, ',') AS q_str,
           CAST(floor(sqrt(list_sum(list_transform(list_zip(v, q),
                                                   x -> power(x[1] - x[2] * scale, 2)))
                           / len(q)) * 1e7 + 0.5) AS BIGINT) AS rmse_e7
    FROM q
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization
    (operators/similarity.quantize_int8): zero-shuffle projection. The
    quantized array is exported as a comma-joined string (the driver's
    canonicalizer cannot sort list-valued cells); scale/rmse are exported
    as floor(x*10^k + 0.5) integers — Spark's round() (HALF_UP on the
    decimal form) and DuckDB's disagree by 1 ulp near .5 boundaries,
    while the floor form is pure IEEE arithmetic, identical everywhere."""
    emb = load_table(spark, "embeddings", sf_dir)
    out = similarity.quantize_int8(emb)
    return out.select(
        "vec_id",
        F.floor(F.col("scale") * 1e9 + 0.5).cast("bigint").alias("scale_e9"),
        F.array_join(F.transform("q", lambda x: x.cast("string")), ",").alias("q_str"),
        F.floor(F.col("rmse") * 1e7 + 0.5).cast("bigint").alias("rmse_e7"),
    )


@_q(
    "embedding_random_projection",
    """
    WITH cells AS (
      SELECT e.vec_id, s.j, d.d,
             CASE (('0x' || substr(md5('rp|' || CAST(s.j AS VARCHAR) || '|'
                                   || CAST(d.d AS VARCHAR)), 1, 15))::BIGINT % 6)
               WHEN 0 THEN 1 WHEN 1 THEN -1 ELSE 0 END
             * CAST(floor(CAST(e.embedding[d.d + 1] AS DOUBLE) * 1000000 + 0.5)
                    AS BIGINT) AS t
      FROM embeddings e, generate_series(0, 15) s(j), generate_series(0, 63) d(d)
      WHERE len(e.embedding) = 64
    ),
    sums AS (SELECT vec_id, j, CAST(sum(t) AS BIGINT) AS y
             FROM cells GROUP BY 1, 2)
    SELECT vec_id,
           string_agg(CAST(y AS VARCHAR), ',' ORDER BY j) AS proj_str
    FROM sums GROUP BY vec_id
    """,
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss sparse random projection 64 -> 16 dims
    (Achlioptas ±1/0 signs from the md5-portable hash family, inputs
    quantized to micro-units) — the standard cheap dimensionality cut
    before clustering / ANN bucketing. Every projected coordinate is an
    exact integer sum of literal-coefficient products: zero shuffles,
    zero Python, bit-identical on any engine; the oracle rebuilds the
    coefficient matrix cell-for-cell from the same md5 prefix. Exported
    comma-joined (the quantize_int8 list-cell convention). See
    linalg.random_project."""
    emb = load_table(spark, "embeddings", sf_dir)
    out = linalg.random_project(emb, k=16, dims=64)
    return out.select(
        "vec_id",
        F.array_join(F.transform("proj", lambda x: x.cast("string")), ",").alias(
            "proj_str"
        ),
    )


@_q(
    "skew_key_stats",
    """
    WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id),
    t AS (SELECT count(*)::BIGINT AS total FROM events)
    SELECT user_id, cnt,
           round(cnt::DOUBLE / total, 6) AS share,
           CAST(row_number() OVER (ORDER BY cnt DESC, user_id) AS INT) AS rank
    FROM c, t
    ORDER BY cnt DESC, user_id
    LIMIT 10
    """,
)
def skew_key_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter diagnostic: top-10 hottest keys with their share of
    all rows — the measurement that decides whether a join needs salting
    (operators/relational.salted_join) before it runs. Plan: one groupBy
    shuffle at |keys| with the top-10 pruned map-side
    (TakeOrderedAndProject), plus a column-less count(*) scan (answered
    from parquet row-group metadata) broadcast as the 1-row total."""
    ev = load_table(spark, "events", sf_dir)
    counts = ev.groupBy("user_id").agg(F.count("*").alias("cnt"))
    total = ev.agg(F.count("*").cast("long").alias("total"))
    w = Window.orderBy(F.col("cnt").desc(), F.col("user_id"))
    return (
        counts.crossJoin(F.broadcast(total))
        .withColumn("share", F.round(F.col("cnt") / F.col("total"), 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("user_id", "cnt", "share", "rank")
    )


@_q(
    "approx_percentile_value",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 6) AS p50_exact,
           TRUE AS approx_within_2pct_rank
    FROM events GROUP BY event_type
    """,
)
def approx_percentile_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile sketch (GK/KLL family via percentile_approx) made
    oracle-checkable the same way as approx_distinct_users: the declared
    output is the exact interpolated median plus a boolean asserting the
    sketch's estimate lands between the exact 0.48 and 0.52 quantiles —
    a ±2% rank window. accuracy=10000 bounds rank error at 1e-4 (~2 rows
    per group here), ~200x headroom, so the boolean is deterministic
    while the sketch path stays exercised. At 100 TB the sketch is the
    only viable percentile: exact needs a full sort per group, the
    sketch is one map-side mergeable summary of bounded size."""
    ev = load_table(spark, "events", sf_dir)
    approx = F.percentile_approx("value", F.lit(0.5), F.lit(10000))
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50_exact"),
        (
            (approx >= F.percentile("value", F.lit(0.48)))
            & (approx <= F.percentile("value", F.lit(0.52)))
        ).alias("approx_within_2pct_rank"),
    )


@_q(
    "null_safe_join_props",
    """
    WITH e AS (SELECT event_id, user_id,
                      CASE WHEN event_id % 7 = 0 THEN NULL ELSE event_type END AS et
               FROM events WHERE event_id % 20 = 0),
    d AS (SELECT DISTINCT CASE WHEN event_id % 7 = 0 THEN NULL ELSE event_type END AS et
          FROM events WHERE event_id % 20 = 0)
    SELECT count(*) AS n_pairs,
           CAST(sum(CASE WHEN e.et IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_matches
    FROM e JOIN d ON e.et IS NOT DISTINCT FROM d.et
    """,
)
def null_safe_join_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (Spark `eqNullSafe` / SQL `<=>` == ANSI
    IS NOT DISTINCT FROM): NULL keys MATCH each other instead of
    dropping — the semantics a dimension join needs when 'unknown' is a
    legitimate key value. Still a hash-equi-join physically (null-safe
    equality is a valid hash key), not a nested loop."""
    ev = load_table(spark, "events", sf_dir).filter(F.col("event_id") % 20 == 0)
    et = F.when(F.col("event_id") % 7 == 0, F.lit(None)).otherwise(F.col("event_type"))
    e = ev.select("event_id", "user_id", et.alias("et"))
    d = e.select("et").distinct().select(F.col("et").alias("d_et"))
    joined = e.join(d, e.et.eqNullSafe(d.d_et))
    return joined.agg(
        F.count("*").alias("n_pairs"),
        F.sum(F.when(F.col("et").isNull(), 1).otherwise(0)).cast("long").alias("null_matches"),
    )


@_q(
    "value_histogram",
    """
    SELECT event_type,
           CASE WHEN value < 0.0 THEN 0
                WHEN value >= 1000.0 THEN 21
                ELSE CAST(floor(value / 50.0) AS BIGINT) + 1 END AS bucket,
           count(*) AS cnt,
           round(min(value), 6) AS lo,
           round(max(value), 6) AS hi
    FROM events
    GROUP BY event_type, bucket
    """,
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram via width_bucket (bucket 0 below the range,
    n_buckets+1 above). DuckDB has no width_bucket, so the oracle states
    the same function arithmetically (floor(value/width)+1 with range
    clamps — a boundary value could in principle disagree by one ulp
    between the two formulations, but bucket edges here are exact
    binary fractions). One groupBy with map-side combine — the shuffle
    is |types| x |buckets| cells regardless of row count; the building
    block for numeric profiling/drift dashboards over a 100 TB table."""
    ev = load_table(spark, "events", sf_dir)
    return ev.groupBy(
        "event_type",
        F.width_bucket("value", F.lit(0.0), F.lit(1000.0), F.lit(20)).alias("bucket"),
    ).agg(
        F.count("*").alias("cnt"),
        F.round(F.min("value"), 6).alias("lo"),
        F.round(F.max("value"), 6).alias("hi"),
    )


@_q(
    "scd1_customer_merge",
    """
    WITH base AS (
      SELECT c_custkey, c_name,
             CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents
      FROM customer
    ),
    chg AS (
      SELECT c_custkey, c_name, acctbal_cents + 10000 AS acctbal_cents,
             (c_custkey % 57 = 3) AS is_del
      FROM base WHERE c_custkey % 19 = 3
    )
    SELECT b.c_custkey, b.c_name, b.acctbal_cents
    FROM base b WHERE b.c_custkey NOT IN (SELECT c_custkey FROM chg)
    UNION ALL
    SELECT c_custkey, c_name, acctbal_cents FROM chg WHERE NOT is_del
    """,
)
def scd1_customer_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch SCD-1 MERGE (operators.relational.merge_upsert): a
    deterministic CDC delta — every 19th customer gets +100.00 on the
    account balance, every 57th (a subset) is deleted — applied to the
    customer table with last-writer-wins per key. Money is cent-scaled
    BIGINT so the merged values compare exactly. The anti join
    broadcasts the delta's key set (the common big-base/small-delta CDC
    shape), so the base never shuffles."""
    cust = load_table(spark, "customer", sf_dir)
    base = cust.select(
        "c_custkey",
        "c_name",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("acctbal_cents"),
    )
    chg = base.filter(F.col("c_custkey") % 19 == 3).select(
        "c_custkey",
        "c_name",
        (F.col("acctbal_cents") + 10000).alias("acctbal_cents"),
        (F.col("c_custkey") % 57 == 3).alias("is_del"),
    )
    return relational.merge_upsert(base, chg, ["c_custkey"], delete_col="is_del")


@_q(
    "domain_mixture_weights",
    r"""
    WITH per AS (
      SELECT source, count(*) AS n_docs,
             CAST(sum(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))) AS BIGINT) AS tokens
      FROM documents GROUP BY source
    ),
    t AS (
      SELECT source, n_docs, tokens,
             sum(tokens) OVER () AS tot_tokens,
             sum(n_docs) OVER () AS tot_docs
      FROM per
    ),
    w AS (SELECT *, sqrt(tokens / tot_tokens) AS wr FROM t)
    SELECT source, n_docs, tokens,
           round(tokens / tot_tokens, 6) AS token_share,
           round(wr / sum(wr) OVER (), 6) AS mix_weight,
           CAST(floor(wr / sum(wr) OVER () * tot_docs) AS BIGINT) AS target_docs
    FROM w
    """,
)
def domain_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain mixing (the multilingual/Pile-style
    sampling rule: weight ∝ share^α with α=0.5): per source-domain token
    counts → sqrt-damped, renormalized sampling weights and a floor-ed
    per-domain target document count. Up-weights tail domains without
    letting the head dominate — the standard pre-training mixture knob.

    Scale: one map-side-combined groupBy on the (low-cardinality) domain
    key collapses 100 TB to one row per domain; the unpartitioned windows
    run on that DOMAIN-level frame (rows = #domains, constant), so the
    single-partition window is O(domains), never O(corpus). floor (not
    round) on target_docs keeps the integerization engine-exact."""
    docs = load_table(spark, "documents", sf_dir)
    per = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(tokens(F.col("text")))).alias("tokens"),
    )
    w = Window.partitionBy()  # domain-level frame: #domains rows, constant
    t = per.select(
        "source",
        "n_docs",
        "tokens",
        F.sum("tokens").over(w).alias("tot_tokens"),
        F.sum("n_docs").over(w).alias("tot_docs"),
    ).withColumn("wr", F.sqrt(F.col("tokens") / F.col("tot_tokens")))
    return t.select(
        "source",
        "n_docs",
        "tokens",
        F.round(F.col("tokens") / F.col("tot_tokens"), 6).alias("token_share"),
        F.round(F.col("wr") / F.sum("wr").over(w), 6).alias("mix_weight"),
        F.floor(F.col("wr") / F.sum("wr").over(w) * F.col("tot_docs"))
        .cast("long")
        .alias("target_docs"),
    )


@_q(
    "cluster_dedup_keeper",
    f"""
    WITH RECURSIVE {_SQL_SHINGLES},
    base AS (SELECT doc_id, {_SQL_HASH64.format(x="sh")} AS h64 FROM sh),
    mh AS (
      SELECT doc_id, seed,
             min(({_SQL_MIX_A}[seed + 1] * (h64 & 4294967295)
                  + {_SQL_MIX_B}[seed + 1]) & 4294967295) AS minhash
      FROM base CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS seed) s
      GROUP BY doc_id, seed
    ),
    banded AS (
      SELECT doc_id, CAST(seed // 3 AS INT) AS band,
             string_agg(minhash::VARCHAR, ',' ORDER BY seed) AS band_sig
      FROM mh GROUP BY doc_id, band
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      FROM banded a JOIN banded b USING (band, band_sig)
      WHERE a.doc_id < b.doc_id
    ),
    edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
              UNION ALL SELECT id2, id1 FROM pairs),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    reach(id, label) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.src, r.label FROM reach r JOIN edges e ON e.dst = r.id
    ),
    comp AS (SELECT id AS doc_id, min(label) AS g FROM reach GROUP BY id),
    qt AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS qtoks
           FROM documents),
    qm AS (
      SELECT doc_id,
             CAST(len(qtoks) AS INT) AS n_tokens,
             CAST(list_sum(list_transform(qtoks, x -> length(x))) AS INT) AS total_len,
             CAST(len(list_filter(qtoks, x -> x IN ('the', 'a', 'of', 'and'))) AS INT) AS n_stop
      FROM qt
    ),
    q AS (
      SELECT doc_id,
             CASE WHEN n_tokens > 0 THEN
               ((50 * (CAST(n_tokens AS BIGINT) * least(n_tokens, 200)
                       + 120 * least(4 * CAST(n_stop AS BIGINT), n_tokens)
                       + 10 * least(CAST(total_len AS BIGINT), 8 * CAST(n_tokens AS BIGINT)))
                 + n_tokens) // (2 * CAST(n_tokens AS BIGINT))) / 10000.0
             ELSE 0.0 END AS quality
      FROM qm
    ),
    grouped AS (
      SELECT d.doc_id, COALESCE(c.g, d.doc_id) AS group_id
      FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
    )
    SELECT g.doc_id, g.group_id, q.quality,
           CAST(row_number() OVER (PARTITION BY g.group_id
                                   ORDER BY q.quality DESC, g.doc_id) = 1 AS INT) AS keep
    FROM grouped g JOIN q ON q.doc_id = g.doc_id
    """,
)
def cluster_dedup_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection: near-dup clusters (MinHash-LSH →
    connected components) each keep exactly ONE document — the highest
    quality-score member, ties broken by lowest doc id; singletons keep
    themselves. This is the curation step after candidate clustering:
    "of these N near-duplicates, which copy enters the training set?"
    (quality-ranked keeper selection, as in the dedup stages of
    large-corpus pipelines — keep-best rather than keep-first).

    Composition of shipped operators only: minhash_lsh_pairs →
    connected_components → quality_score → one row_number window keyed
    by cluster. Scale: adds one left join (labels ≤ docs) and one
    window whose partitions are cluster-sized (bounded by near-dup
    cluster width, not corpus size) on top of the clusters plan.

    Ordering is engine-exact: quality is rounded to 4 decimals BEFORE
    the sort on both sides (the quality_score parity query proves the
    rounded values hash-identical), and the doc-id tiebreaker makes the
    row_number total."""
    docs = load_table(spark, "documents", sf_dir)
    # downstream stage: consumes the materialized pair artifact (see
    # _minhash_pairs_artifact — dedup_minhash_lsh measures building it)
    pairs = _minhash_pairs_artifact(spark, sf_dir)
    comp = dedup.connected_components(pairs).withColumnRenamed("id", "doc_id")
    # Fused quality (round 13, guide §2.4): quality_score is a pure
    # per-row projection, so the previous grouped.join(q, "doc_id") was
    # a full corpus self-join — two exchanges + a join whose only
    # purpose was to glue two projections of the SAME documents row
    # back together. Scoring inline on the one scan removes that join
    # outright. Equivalent because doc_id is the documents table's
    # non-null unique key (the inner join was exactly 1:1; the explicit
    # isNotNull keeps the old join's null-key-drop semantics) —
    # verified hash-identical vs the unchanged oracle at
    # sf0.001/0.01/0.1.
    grouped = (
        text.quality_score(docs)
        .filter(F.col("doc_id").isNotNull())
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component_id", F.col("doc_id")).alias("group_id"),
            "quality",
        )
    )
    w = Window.partitionBy("group_id").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    return (
        grouped
        .select(
            "doc_id",
            "group_id",
            "quality",
            (F.row_number().over(w) == 1).cast("int").alias("keep"),
        )
    )


@_q(
    "bigram_lm_score",
    r"""
    WITH toks AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
                  FROM documents),
    bi AS (
      SELECT doc_id, t[i] || ' ' || t[i+1] AS bg, t[i] AS w1
      FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(t)-1, 0))) AS i) u
    ),
    c2 AS (SELECT bg, count(*) AS n2 FROM bi GROUP BY bg),
    c1 AS (SELECT w1, count(*) AS n1 FROM bi GROUP BY w1),
    model AS (SELECT bg, ln(n2 / n1) AS logp
              FROM c2 JOIN c1 ON split_part(bg, ' ', 1) = w1)
    SELECT doc_id, CAST(count(*) AS INT) AS n_bigrams,
           round(avg(logp), 4) AS avg_logprob,
           round(exp(-avg(logp)), 4) AS ppl
    FROM bi JOIN model USING (bg)
    GROUP BY doc_id
    """,
)
def bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity scoring (operators.text.lm_score): the
    CCNet-style LM quality filter with the model trained in-engine on
    the corpus itself — per-document mean log P(w2|w1) and perplexity,
    for cutting both the too-predictable (templated) and the
    too-surprising (noise) tails. The oracle rebuilds the identical MLE
    model and scores in SQL."""
    docs = load_table(spark, "documents", sf_dir)
    return text.lm_score(docs)


@_q(
    "sink_partitioned_scan",
    """
    SELECT source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents WHERE lang = 'en' GROUP BY source
    """,
)
def sink_partitioned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned parquet sink + partition-PRUNED scan end-to-end:
    documents are written ``partitionBy(lang)`` (the data-layout move
    that makes every later per-language read touch 1/|langs| of the
    corpus), read back through the partition discovery path, and
    filtered to one language — the filter must resolve at PLANNING time
    as a PartitionFilter, scanning only the lang=en directory (asserted
    in test_plans). This is the 100 TB layout contract: partition
    pruning turns a full-corpus scan into a directory listing + one
    subtree. The oracle aggregates the original unpartitioned table —
    the partitioned round-trip must be lossless (nulls excluded by the
    lang filter on both sides)."""
    import os

    docs = load_table(spark, "documents", sf_dir)
    path = os.path.join(_SCRATCH, "documents_by_lang")
    docs.write.mode("overwrite").partitionBy("lang").parquet(path)
    # explicit schema: partition discovery still prunes, but an EMPTY
    # corpus (zero partition dirs) reads back as the empty frame instead
    # of failing schema inference (round-6 empty-input sweep)
    back = spark.read.schema(docs.schema).parquet(path)
    return (
        back.filter(F.col("lang") == "en")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


@_q(
    "dedup_incremental_batch",
    f"""
    WITH {_SQL_SHINGLES},
    base AS (SELECT doc_id, {_SQL_HASH64.format(x="sh")} AS h64 FROM sh),
    mh AS (
      SELECT doc_id, seed,
             min(({_SQL_MIX_A}[seed + 1] * (h64 & 4294967295)
                  + {_SQL_MIX_B}[seed + 1]) & 4294967295) AS minhash
      FROM base CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS seed) s
      GROUP BY doc_id, seed
    ),
    banded AS (
      SELECT doc_id, CAST(seed // 3 AS INT) AS band,
             string_agg(minhash::VARCHAR, ',' ORDER BY seed) AS band_sig
      FROM mh GROUP BY doc_id, band
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      FROM banded a JOIN banded b USING (band, band_sig)
      WHERE a.doc_id % 10 = 7 AND b.doc_id % 10 <> 7
    ),
    per AS (SELECT id1 AS doc_id, count(*) AS n_matches FROM pairs GROUP BY id1)
    SELECT d.doc_id, COALESCE(p.n_matches, 0) AS n_matches,
           CAST(p.doc_id IS NOT NULL AS INT) AS is_dup
    FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 7) d
    LEFT JOIN per p ON p.doc_id = d.doc_id
    """,
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup (operators.dedup.minhash_lsh_pairs_between):
    a new batch (every 10th doc) is checked against the EXISTING corpus
    (the rest) for near-duplicates — per batch doc, how many corpus docs
    share a full minhash band, and the keep/drop flag. This is the
    production ingest shape: the corpus's band index is computed once and
    persisted; each arriving batch pays only its own banding plus one
    equi-join — the corpus is never re-paired against itself (no
    quadratic re-run of the full dedup on every ingest).

    The oracle rebuilds both band indexes from the identical minhash
    pipeline and checks every flag, including the no-match batch docs
    (left join, COALESCE 0)."""
    docs = load_table(spark, "documents", sf_dir)
    batch = docs.filter(F.col("doc_id") % 10 == 7)
    corpus = docs.filter(F.col("doc_id") % 10 != 7)
    pairs = dedup.minhash_lsh_pairs_between(batch, corpus, num_hashes=12, bands=4)
    per = pairs.groupBy("id1").agg(F.count("*").alias("n_matches"))
    return (
        batch.select("doc_id")
        .join(per.withColumnRenamed("id1", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_matches", F.lit(0)).alias("n_matches"),
            F.col("n_matches").isNotNull().cast("int").alias("is_dup"),
        )
    )


@_q(
    "contrastive_pairs_mining",
    """
    WITH ve AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS vn
      FROM embeddings
    ),
    scored AS (
      SELECT q.vec_id AS qid, c.vec_id AS nid,
             CAST(q.label = c.label AS INT) AS is_positive,
             round(list_dot_product(q.v, c.v) / (q.vn * c.vn), 6) AS cos
      FROM ve q JOIN ve c ON q.vec_id <> c.vec_id
      WHERE q.vec_id % 50 = 0
    ),
    ranked AS (
      SELECT qid, nid, is_positive, cos,
             row_number() OVER (PARTITION BY qid, is_positive
                                ORDER BY cos DESC, nid) AS rank
      FROM scored
    )
    SELECT qid, nid, is_positive, CAST(rank AS INT) AS rank, cos
    FROM ranked
    WHERE rank <= 2
    """,
)
def contrastive_pairs_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training-pair mining (similarity.contrastive_pairs):
    per anchor (every 50th vector), the 2 nearest same-label positives
    and the 2 nearest different-label HARD negatives by cosine — the
    pair-construction step of a contrastive/triplet embedding trainer,
    where hard negatives (highest-similarity wrong-label examples)
    carry most of the gradient signal. Anchors broadcast, corpus
    streams once, WindowGroupLimit partial top-k per (anchor, side)."""
    emb = load_table(spark, "embeddings", sf_dir)
    anchors = emb.filter(F.col("vec_id") % 50 == 0)
    return similarity.contrastive_pairs(anchors, emb, k_pos=2, k_neg=2)


@_q(
    "contrastive_pairs_lsh",
    f"""
    WITH ve AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS vn
      FROM embeddings
    ),
    b AS (SELECT vec_id, label, v, vn, {{bucket}} AS bucket FROM ve),
    probes AS (
      SELECT vec_id, label, v, vn, xor(bucket, m) AS bucket
      FROM (SELECT * FROM b WHERE vec_id % 50 = 0),
           LATERAL (SELECT unnest([{{masks}}]) AS m) u
    ),
    scored AS (
      SELECT q.vec_id AS qid, c.vec_id AS nid,
             CAST(q.label = c.label AS INT) AS is_positive,
             round(list_dot_product(q.v, c.v) / (q.vn * c.vn), 6) AS cos
      FROM probes q JOIN b c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
    ),
    ranked AS (
      SELECT qid, nid, is_positive, cos,
             row_number() OVER (PARTITION BY qid, is_positive
                                ORDER BY cos DESC, nid) AS rank
      FROM scored
    )
    SELECT qid, nid, is_positive, CAST(rank AS INT) AS rank, cos
    FROM ranked WHERE rank <= 2
    """.format(bucket=_SQL_LSH_BUCKET, masks=_SQL_LSH_MASKS),
)
def contrastive_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive pair mining with the LSH-blocked candidate generator
    (similarity.contrastive_pairs(candidates="lsh")) — the scale path
    the exact query's docstring promises: anchors are NOT broadcast and
    the corpus is NOT fully scored per anchor; both sides are bucketed
    by the deterministic random-hyperplane index, anchors explode into
    the 37-mask multi-probe sequence (radius 2 over 8 planes), and
    candidates come from ONE equi-join on bucket — the both-sides-huge
    shape. Ranking is the identical (qid, is_positive) top-k tail, so
    the oracle (same inlined sign matrix + masks as ann_lsh_topk, plus
    the label split) replays the exact candidate set and output."""
    emb = load_table(spark, "embeddings", sf_dir)
    anchors = emb.filter(F.col("vec_id") % 50 == 0)
    return similarity.contrastive_pairs(
        anchors, emb, k_pos=2, k_neg=2, candidates="lsh", probe_radius=2
    )


@_q(
    "bloom_prefilter_join",
    """
    SELECT o_orderpriority, count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_nationkey = 5 AND c_acctbal > 1000
    GROUP BY o_orderpriority
    """,
)
def bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered join (the runtime-filter / semi-join-reduction
    pattern, done explicitly with the engine's own sketch): the selected
    customer key set is folded into a 4096-bit Bloom filter
    (sketch.bloom_bits — a bounded-size artifact), packed into a 64-word
    literal mask on the driver, and every ORDER row tests membership
    with k integer hashes BEFORE the join — non-matching fact rows are
    dropped at the scan, never shuffled. The exact broadcast join then
    removes the Bloom's false positives, so the result equals the plain
    join bit-for-bit (the oracle IS the plain join — no false negatives
    is the Bloom contract, tested in test_scale_ops).

    At 100 TB this is the difference between shuffling the whole fact
    table and shuffling ~selectivity of it: Spark's own runtime filters
    do this opportunistically; the explicit form works across stages,
    caches, and even engines (the mask is 512 bytes of portable state).
    """
    from ssp_spark.operators import sketch

    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    sel = cust.filter(
        (F.col("c_nationkey") == 5) & (F.col("c_acctbal") > 1000)
    ).select("c_custkey")
    # model-sized collect: <= 4096 distinct bit positions, same class as
    # the IVF codebook — never proportional to table size. Keys hash by
    # their string form on both the build and probe side (the portable
    # hash family is string-keyed).
    keys = sel.select(F.col("c_custkey").cast("string").alias("k"))
    bits = [r["bit"] for r in sketch.bloom_bits(keys, "k").collect()]
    mask = sketch.bloom_mask_words(bits)
    prefiltered = orders.filter(
        sketch.bloom_member(F.col("o_custkey").cast("string"), mask)
    )
    return (
        prefiltered.join(
            F.broadcast(sel), prefiltered.o_custkey == sel.c_custkey
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "total_cents"
            ),
        )
    )


_PROFILE_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]

@_q(
    "profile_table",
    "\nUNION ALL\n".join(
        f"""SELECT '{c}' AS column_name,
               CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
               CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls
        FROM orders"""
        for c in _PROFILE_COLS
    ),
)
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality column profiler: per column of the orders table, the
    exact distinct count and null count — the ingest-time profiling step
    that feeds schema checks, skew planning (a near-unique column can't
    be a groupBy key at scale) and null-contract validation.

    Plan: ONE scan feeds all |cols| distinct + null aggregates in a
    single Aggregate (Catalyst plans the multi-distinct via one Expand
    ×|cols| — row multiplication bounded by the column count, the same
    trade grouping-sets make), then a stack() unpivots the single result
    row. The oracle's UNION ALL scans per column; ours must not — one
    pass is the 100 TB property (asserted in test_plans)."""
    orders = load_table(spark, "orders", sf_dir)
    agg = orders.agg(
        *[F.countDistinct(c).alias(f"d_{c}") for c in _PROFILE_COLS],
        *[
            F.sum(F.col(c).isNull().cast("long")).alias(f"n_{c}")
            for c in _PROFILE_COLS
        ],
    )
    stack_args = ", ".join(f"'{c}', d_{c}, n_{c}" for c in _PROFILE_COLS)
    return agg.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack_args}) AS (column_name, n_distinct, n_nulls)"
    )


@_q(
    "source_schema_evolution",
    """
    SELECT count(*) AS n_rows,
           CAST(sum(CASE WHEN n_nationkey >= 12 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_region,
           CAST(sum(CASE WHEN n_nationkey >= 12 THEN n_regionkey ELSE 0 END) AS BIGINT) AS region_sum
    FROM nation
    """,
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: two parquet shards of the same logical
    table written under DIFFERENT schemas (an old ingest without
    n_regionkey, a new one with it) are read back as one dataset with
    ``mergeSchema`` — rows from the old shard surface the added column
    as NULL, nothing errors, nothing is silently dropped. This is the
    long-lived-corpus reality at 100 TB: columns get added over years of
    ingest and a reader must span the history in one scan. mergeSchema
    costs one footer read per FILE at planning (fine for shard counts;
    for 10^6-file tables pin the schema explicitly — the same read then
    needs no merge pass). The oracle computes the identical aggregate
    from the never-split table, so the evolution round-trip must be
    lossless, null-fill included."""
    import os

    nation = load_table(spark, "nation", sf_dir)
    path = os.path.join(_SCRATCH, "nation_evolving")
    nation.filter(F.col("n_nationkey") < 12).select(
        "n_nationkey", "n_name"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(path, "shard=old"))
    nation.filter(F.col("n_nationkey") >= 12).select(
        "n_nationkey", "n_name", "n_regionkey"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(path, "shard=new"))
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    return merged.agg(
        F.count("*").alias("n_rows"),
        F.count("n_regionkey").alias("n_with_region"),
        F.sum(F.coalesce("n_regionkey", F.lit(0))).cast("long").alias("region_sum"),
    )


@_q(
    "dedup_embedding_lsh",
    f"""
    WITH ve AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS vn
      FROM embeddings
    ),
    b AS (SELECT vec_id, v, vn, {_SQL_LSH_BUCKET} AS bucket FROM ve)
    SELECT a.vec_id AS id1, c.vec_id AS id2,
           round(list_dot_product(a.v, c.v) / (a.vn * c.vn), 6) AS cos
    FROM b a JOIN b c
      ON a.vec_id < c.vec_id
     AND bit_count(xor(a.bucket, c.bucket)) <= 1
    WHERE round(list_dot_product(a.v, c.v) / (a.vn * c.vn), 6) >= 0.4
    """,
)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs blocked by LSH bucket
    (dedup.embedding_near_dup_lsh): the model-free scale path where no
    label/metadata block key exists — candidate pairs are vectors whose
    sign-hyperplane buckets differ in <= 1 bit (multi-probe explode +
    bucket equi-join; never an n² self-join), scored exactly and kept at
    cosine >= 0.4. The oracle joins on the same Hamming condition
    (bit_count of the bucket XOR) over the identical inlined sign
    matrix, so the candidate set — not just the survivors — is verified."""
    emb = load_table(spark, "embeddings", sf_dir)
    return dedup.embedding_near_dup_lsh(emb, threshold=0.4, probe_radius=1)


@_q(
    "pipeline_curation_v2",
    f"""
    WITH RECURSIVE {_SQL_SHINGLES},
    base AS (SELECT doc_id, {_SQL_HASH64.format(x="sh")} AS h64 FROM sh),
    mh AS (
      SELECT doc_id, seed,
             min(({_SQL_MIX_A}[seed + 1] * (h64 & 4294967295)
                  + {_SQL_MIX_B}[seed + 1]) & 4294967295) AS minhash
      FROM base CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS seed) s
      GROUP BY doc_id, seed
    ),
    banded AS (
      SELECT doc_id, CAST(seed // 3 AS INT) AS band,
             string_agg(minhash::VARCHAR, ',' ORDER BY seed) AS band_sig
      FROM mh GROUP BY doc_id, band
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      FROM banded a JOIN banded b USING (band, band_sig)
      WHERE a.doc_id < b.doc_id
    ),
    edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
              UNION ALL SELECT id2, id1 FROM pairs),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    reach(id, label) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.src, r.label FROM reach r JOIN edges e ON e.dst = r.id
    ),
    comp AS (SELECT id AS doc_id, min(label) AS g FROM reach GROUP BY id),
    qt AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS qtoks
           FROM documents),
    qm AS (
      SELECT doc_id,
             CAST(len(qtoks) AS INT) AS n_tokens,
             CAST(list_sum(list_transform(qtoks, x -> length(x))) AS INT) AS total_len,
             CAST(len(list_filter(qtoks, x -> x IN ('the', 'a', 'of', 'and'))) AS INT) AS n_stop
      FROM qt
    ),
    q AS (
      SELECT doc_id,
             CASE WHEN n_tokens > 0 THEN
               ((50 * (CAST(n_tokens AS BIGINT) * least(n_tokens, 200)
                       + 120 * least(4 * CAST(n_stop AS BIGINT), n_tokens)
                       + 10 * least(CAST(total_len AS BIGINT), 8 * CAST(n_tokens AS BIGINT)))
                 + n_tokens) // (2 * CAST(n_tokens AS BIGINT))) / 10000.0
             ELSE 0.0 END AS quality
      FROM qm
    ),
    grouped AS (
      SELECT d.doc_id, COALESCE(c.g, d.doc_id) AS group_id
      FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
    ),
    keeper AS (
      SELECT g.doc_id,
             CAST(row_number() OVER (PARTITION BY g.group_id
                                     ORDER BY q.quality DESC, g.doc_id) = 1 AS INT) AS keep
      FROM grouped g JOIN q ON q.doc_id = g.doc_id
    ),
    bbi AS (
      SELECT qt.doc_id, qtoks[i] || ' ' || qtoks[i+1] AS bg, qtoks[i] AS w1
      FROM qt, LATERAL (SELECT unnest(generate_series(1, greatest(len(qtoks)-1, 0))) AS i) u
    ),
    bc2 AS (SELECT bg, count(*) AS n2 FROM bbi GROUP BY bg),
    bc1 AS (SELECT w1, count(*) AS n1 FROM bbi GROUP BY w1),
    bmodel AS (SELECT bg, ln(n2 / n1) AS logp
               FROM bc2 JOIN bc1 ON split_part(bg, ' ', 1) = w1),
    blm AS (
      SELECT doc_id, round(exp(-avg(logp)), 4) AS ppl
      FROM bbi JOIN bmodel USING (bg) GROUP BY doc_id
    ),
    rg AS (
      SELECT qt.doc_id, qtoks[i] || ' ' || qtoks[i+1] AS g2
      FROM qt, LATERAL (SELECT unnest(generate_series(1, greatest(len(qtoks)-1, 0))) AS i) u
    ),
    rper AS (SELECT doc_id, g2, count(*) AS c FROM rg GROUP BY doc_id, g2),
    rst AS (SELECT doc_id, CAST(sum(c) AS INT) AS n_bigrams, max(c) AS maxr, count(*) AS nd
            FROM rper GROUP BY doc_id),
    rkeep AS (
      SELECT doc_id,
             CAST(maxr / n_bigrams <= 0.18 AND (n_bigrams - nd) / n_bigrams <= 0.30 AS INT) AS keep
      FROM rst
    )
    SELECT d.source, count(*) AS n_docs,
           CAST(sum(len(list_filter(regexp_split_to_array(d.text, '\\s+'), x -> x <> ''))) AS BIGINT) AS total_tokens,
           CAST(sum(d.doc_id) AS BIGINT) AS id_checksum
    FROM documents d
    JOIN blm ON blm.doc_id = d.doc_id
    JOIN rkeep ON rkeep.doc_id = d.doc_id
    JOIN keeper ON keeper.doc_id = d.doc_id
    WHERE blm.ppl <= 30.0 AND rkeep.keep = 1 AND keeper.keep = 1
    GROUP BY d.source
    """,
)
def pipeline_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-4 flagship composition: every late-round curation signal
    in ONE lazy plan. Per document — bigram-LM perplexity (drop the
    too-surprising tail, ppl > 30), Gopher repetition flags (drop
    repetitive boilerplate), and quality-ranked near-dup keeper selection
    (one survivor per MinHash cluster) — intersected, then rolled up to a
    per-source manifest (doc counts, token budget, id checksum so every
    retained membership is transitively verified by the oracle).

    Semantics notes: docs with < 2 tokens carry no LM score or
    repetition stats and are excluded by the inner joins (undefined
    signals drop, as each operator documents); the ppl threshold
    compares the ROUNDED value both engines hash-match on, so the band
    edge is engine-exact.

    Scale: pure composition of shipped plans — the corpus is scanned a
    bounded number of times (LM model+score, minhash signatures,
    quality, repetition, final rollup; each scan-bounded operator keeps
    its own asserted shuffle budget) and every join is on doc_id. At
    100 TB you'd materialize the per-doc signal table once (one write)
    and run the intersection off it; the lazy form here proves the
    operators compose without driver-side glue."""
    docs = load_table(spark, "documents", sf_dir)
    lm = text.lm_score(docs).select("doc_id", "ppl")
    rep = text.repetition_stats(docs).select(
        "doc_id", F.col("keep").alias("rep_keep")
    )
    # downstream stage: consumes the materialized pair artifact (see
    # _minhash_pairs_artifact — dedup_minhash_lsh measures building it)
    pairs = _minhash_pairs_artifact(spark, sf_dir)
    comp = dedup.connected_components(pairs).withColumnRenamed("id", "doc_id")
    q = text.quality_score(docs).select("doc_id", "quality")
    grouped = docs.join(comp, "doc_id", "left").select(
        "doc_id", F.coalesce("component_id", F.col("doc_id")).alias("group_id")
    )
    w = Window.partitionBy("group_id").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    keeper = (
        grouped.join(q, "doc_id")
        .select("doc_id", (F.row_number().over(w) == 1).cast("int").alias("keep"))
    )
    retained = (
        docs.join(lm, "doc_id")
        .join(rep, "doc_id")
        .join(keeper, "doc_id")
        .filter(
            (F.col("ppl") <= 30.0) & (F.col("rep_keep") == 1) & (F.col("keep") == 1)
        )
    )
    return retained.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(tokens(F.col("text")))).cast("long").alias("total_tokens"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
    )


@_q(
    "quality_zscore_by_source",
    r"""
    WITH qt AS (SELECT doc_id, source,
                       list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS qtoks
                FROM documents),
    qm AS (
      SELECT doc_id, source,
             CAST(len(qtoks) AS INT) AS n_tokens,
             CAST(list_sum(list_transform(qtoks, x -> length(x))) AS INT) AS total_len,
             CAST(len(list_filter(qtoks, x -> x IN ('the', 'a', 'of', 'and'))) AS INT) AS n_stop
      FROM qt
    ),
    q AS (
      SELECT doc_id, source,
             CASE WHEN n_tokens > 0 THEN
               ((50 * (CAST(n_tokens AS BIGINT) * least(n_tokens, 200)
                       + 120 * least(4 * CAST(n_stop AS BIGINT), n_tokens)
                       + 10 * least(CAST(total_len AS BIGINT), 8 * CAST(n_tokens AS BIGINT)))
                 + n_tokens) // (2 * CAST(n_tokens AS BIGINT))) / 10000.0
             ELSE 0.0 END AS quality
      FROM qm
    ),
    i AS (SELECT doc_id, source, quality,
                 CAST(round(quality * 10000) AS BIGINT) AS qi FROM q),
    s AS (SELECT *, count(*) OVER (PARTITION BY source) AS n,
                 sum(qi) OVER (PARTITION BY source) AS s1,
                 sum(qi * qi) OVER (PARTITION BY source) AS s2
          FROM i)
    SELECT doc_id, source, quality,
           round(CASE WHEN (s2 - s1 * s1 / n) / n > 0
                      THEN (qi - s1 / n) / sqrt((s2 - s1 * s1 / n) / n)
                      ELSE 0.0 END, 4) AS quality_z
    FROM s
    """,
)
def quality_zscore_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quality calibration: standardize each document's
    quality score WITHIN its source domain (z = (q - μ_src)/σ_src) — the
    step that makes one global quality threshold meaningful across
    domains whose raw score distributions differ (a threshold tuned on
    web text would otherwise mass-drop a stylistically different domain).

    Exactness device: quality is rounded to 4 decimals (hash-proven
    equal cross-engine), so quality×10⁴ is an EXACT integer; μ and σ
    come from integer sums (Σqi, Σqi², n — all order-independent), so
    the z-score is a deterministic chain of exact-input double ops in
    both engines — no FP-order-dependent variance (the same trick as
    stats_numeric_exact). σ=0 domains emit z=0 (constant-quality domain
    has nothing to rank).

    Scale: one quality projection + ONE hash exchange on the domain key
    for the moment windows; per-domain moments are 3 numbers, rows flow
    through once."""
    docs = load_table(spark, "documents", sf_dir)
    q = text.quality_score(docs).select("doc_id", "source", "quality")
    qi = F.round(F.col("quality") * 10000).cast("long")
    w = Window.partitionBy("source")
    s = (
        q.withColumn("qi", qi)
        .withColumn("n", F.count("*").over(w))
        .withColumn("s1", F.sum("qi").over(w))
        .withColumn("s2", F.sum(F.col("qi") * F.col("qi")).over(w))
    )
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / F.col("n")
    z = F.when(
        var > 0,
        (F.col("qi") - F.col("s1") / F.col("n")) / F.sqrt(var),
    ).otherwise(F.lit(0.0))
    return s.select("doc_id", "source", "quality", F.round(z, 4).alias("quality_z"))


# ---------------------------------------------------------------------------
# Round-4 continuation: approximate string matching + entity resolution
# ---------------------------------------------------------------------------


@_q(
    "fuzzy_name_pairs",
    """
    WITH n AS (SELECT DISTINCT p_name FROM part WHERE p_name IS NOT NULL)
    SELECT a.p_name AS name1, b.p_name AS name2,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
    FROM n a JOIN n b ON a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    """,
)
def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy self-join on part names: all distinct-name pairs within
    levenshtein distance 2, found by prefix-filtered q-gram blocking
    (operators.fuzzy — constant index entries per string, broadcast
    gram-frequency table, no n² stage). The ORACLE is the naive
    all-pairs ground truth, so the hash match proves the blocking chain
    lossless on this column (min name length 7 >= q*(d+1) = 6, the
    prefix-filter exactness precondition). Both engines' levenshtein
    is the unweighted edit distance."""
    part = load_table(spark, "part", sf_dir)
    pairs = fuzzy.fuzzy_pairs(part, id_col="p_name", str_col="p_name", max_dist=2, q=2)
    return pairs.select(
        F.col("s1").alias("name1"),
        F.col("s2").alias("name2"),
        F.col("dist").cast("int").alias("dist"),
    )


@_q(
    "entity_resolution_parts",
    """
    WITH RECURSIVE names AS (
      SELECT p_name, min(p_partkey) AS nid, count(*) AS n_parts
      FROM part WHERE p_name IS NOT NULL GROUP BY p_name
    ),
    pairs AS (
      SELECT a.nid AS id1, b.nid AS id2
      FROM names a JOIN names b ON a.nid < b.nid
      WHERE levenshtein(a.p_name, b.p_name) <= 2
    ),
    edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
              UNION ALL SELECT id2, id1 FROM pairs),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    reach(id, label) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.src, r.label FROM reach r JOIN edges e ON e.dst = r.id
    ),
    comp AS (SELECT id, min(label) AS component_id FROM reach GROUP BY id),
    labeled AS (
      SELECT n.p_name, n.n_parts, coalesce(c.component_id, n.nid) AS component_id
      FROM names n LEFT JOIN comp c ON c.id = n.nid
    )
    SELECT l.component_id,
           min(n2.p_name) AS canonical_name,
           CAST(count(*) AS BIGINT) AS n_names,
           CAST(sum(l.n_parts) AS BIGINT) AS n_parts
    FROM labeled l JOIN names n2 ON n2.nid = l.component_id
    GROUP BY l.component_id
    """,
)
def entity_resolution_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over noisy part names: fuzzy pairs (q-gram
    blocked, levenshtein <= 2) -> connected components -> one canonical
    record per entity cluster (canonical = the name holding the min
    part key in the cluster), with variant and row coverage counts.
    The standard curation step for collapsing scraped name variants
    before per-entity aggregation; reuses the iterative CC operator, so
    the oracle's recursive CTE verifies the fixpoint transitively.
    Singleton names (no fuzzy partner) are their own component."""
    part = load_table(spark, "part", sf_dir)
    # Round 13, examined and left alone: a persist-free variant (rely on
    # ReuseExchange to dedup the four uses of this rollup) was profiled
    # at sf0.1 — build dropped 0.99 -> 0.64 s but the un-checkpointed
    # final plan recomputed the rollup in the action phase (0.035 ->
    # 0.57 s): net WORSE. The persist + eager checkpoint pair stays.
    names = (
        part.filter(F.col("p_name").isNotNull())
        .groupBy("p_name")
        .agg(F.min("p_partkey").alias("nid"), F.count("*").alias("n_parts"))
    ).persist()
    # downstream stage: consumes the materialized fuzzy pair artifact
    # (see _fuzzy_part_name_pairs_artifact — fuzzy_name_pairs measures
    # building it) and maps its name-keyed edges onto this query's
    # min-partkey node ids with two keyed equi-joins (the name
    # dimension is data-sized at 100 TB — never broadcast; AQE may
    # still elect broadcast locally). Edge orientation is irrelevant:
    # connected_components symmetrizes.
    name_pairs = _fuzzy_part_name_pairs_artifact(spark, sf_dir)
    nid_of = names.select("p_name", "nid")
    pairs = (
        name_pairs.select(F.col("id1").alias("__n1"), F.col("id2").alias("__n2"))
        .join(
            nid_of.select(F.col("p_name").alias("__n1"), F.col("nid").alias("id1")),
            "__n1",
        )
        .join(
            nid_of.select(F.col("p_name").alias("__n2"), F.col("nid").alias("id2")),
            "__n2",
        )
        .select("id1", "id2")
    )
    comp = dedup.connected_components(pairs)
    labeled = (
        names.join(comp, names.nid == comp.id, "left")
        .select(
            "p_name",
            "n_parts",
            F.coalesce("component_id", "nid").alias("component_id"),
        )
    )
    canon = names.select(F.col("nid").alias("component_id"), F.col("p_name").alias("__cn"))
    out = (
        labeled.groupBy("component_id")
        .agg(
            F.count("*").alias("n_names"),
            F.sum("n_parts").cast("long").alias("n_parts"),
        )
        .join(F.broadcast(canon), "component_id")
        .select(
            "component_id",
            F.col("__cn").alias("canonical_name"),
            F.col("n_names").cast("long").alias("n_names"),
            "n_parts",
        )
    )
    out = out.localCheckpoint()
    names.unpersist()
    return out


@_q(
    "embedding_covariance",
    """
    WITH q AS (
      SELECT vec_id, CAST(u.i - 1 AS INT) AS i,
             CAST(floor(embedding[u.i] * 8192.0) AS BIGINT) AS qv
      FROM embeddings,
           LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) u
      WHERE embedding IS NOT NULL AND len(embedding) > 0
    ),
    f AS (SELECT i, sum(qv) AS s, count(*) AS n FROM q GROUP BY i),
    p AS (
      SELECT a.i AS i, b.i AS j, sum(a.qv * b.qv) AS sij
      FROM q a JOIN q b ON a.vec_id = b.vec_id AND b.i >= a.i
      GROUP BY a.i, b.i
    )
    SELECT p.i, p.j,
           ((CAST(p.sij AS DOUBLE)
             - CAST(fa.s AS DOUBLE) * CAST(fb.s AS DOUBLE) / CAST(fa.n AS DOUBLE))
            / CAST(fa.n AS DOUBLE)) / 67108864.0 AS cov
    FROM p JOIN f fa ON fa.i = p.i JOIN f fb ON fb.i = p.j
    """,
)
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact population covariance matrix (upper triangle) of the
    int13-quantized embeddings in ONE pass: every S_i / S_ij moment and
    the row count ride a single partial-aggregated shuffle bounded by
    d(d+3)/2 cells per partition (operators.linalg) — shuffle volume is
    independent of row count, the covariance assembly is arithmetic on
    the model-sized moment frame. Integer moments make the float output
    bit-deterministic across engines and partitionings (the oracle
    replays the identical quantization and division sequence; a raw
    float covariance could never hash-match)."""
    emb = load_table(spark, "embeddings", sf_dir)
    return linalg.covariance_matrix(emb, vec_col="embedding", scale_bits=13)


@_q(
    "embedding_correlation",
    """
    WITH q AS (
      SELECT vec_id, CAST(u.i - 1 AS INT) AS i,
             CAST(floor(embedding[u.i] * 8192.0) AS BIGINT) AS qv
      FROM embeddings,
           LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) u
      WHERE embedding IS NOT NULL AND len(embedding) > 0
    ),
    f AS (SELECT i, sum(qv) AS s, count(*) AS n FROM q GROUP BY i),
    p AS (
      SELECT a.i AS i, b.i AS j, sum(a.qv * b.qv) AS sij
      FROM q a JOIN q b ON a.vec_id = b.vec_id AND b.i >= a.i
      GROUP BY a.i, b.i
    ),
    cov AS (
      SELECT p.i, p.j,
             ((CAST(p.sij AS DOUBLE)
               - CAST(fa.s AS DOUBLE) * CAST(fb.s AS DOUBLE) / CAST(fa.n AS DOUBLE))
              / CAST(fa.n AS DOUBLE)) / 67108864.0 AS cov
      FROM p JOIN f fa ON fa.i = p.i JOIN f fb ON fb.i = p.j
    ),
    d AS (SELECT i, cov AS var_ FROM cov WHERE i = j)
    SELECT c.i, c.j,
           CASE WHEN di.var_ > 0 AND dj.var_ > 0
                THEN c.cov / sqrt(di.var_ * dj.var_) END AS corr
    FROM cov c JOIN d di ON di.i = c.i JOIN d dj ON dj.i = c.j
    """,
)
def embedding_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix (upper triangle) of the int13-
    quantized embeddings — cov / sqrt(var_i · var_j) assembled from the
    SAME one-pass integer moments as embedding_covariance (no extra
    data pass; the corr arithmetic runs on the model-sized cov frame
    with the diagonal broadcast back twice). Bit-deterministic with NO
    rounding: integer moments fix the cov doubles, and sqrt/divide are
    IEEE correctly-rounded single ops, so both engines land on the
    identical float. The redundant-axis / embedding-collapse
    diagnostic. See linalg.correlation_matrix."""
    emb = load_table(spark, "embeddings", sf_dir)
    return linalg.correlation_matrix(emb, vec_col="embedding", scale_bits=13)


@_q(
    "range_shard_manifest",
    """
    WITH v AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders),
    n AS (SELECT count(*) AS n FROM v),
    ranked AS (SELECT cents, row_number() OVER (ORDER BY cents) AS rk FROM v),
    ks AS (SELECT unnest(generate_series(1, 7)) AS k),
    bounds AS (
      SELECT k, (SELECT cents FROM ranked, n
                 WHERE rk = greatest(1, (n.n * k) // 8)) AS b
      FROM ks
    )
    SELECT CAST((SELECT count(*) FROM bounds b WHERE b.b < v.cents) AS INT)
             AS shard,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(cents) AS min_v, max(cents) AS max_v
    FROM v
    GROUP BY shard
    """,
)
def range_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total-order export manifest WITHOUT a global sort: exact
    rank-based split points of the order-value distribution (histogram
    shuffle + histogram-sized window + S-1-row model collect,
    operators.layout), then a zero-shuffle literal-boundary shard
    assignment and one bounded aggregate. The oracle recomputes the
    identical rank definition with a window over the full sort — the
    thing the engine deliberately avoids — proving the shard assignment
    equals the global-sort answer. Values are cent-integers (exact
    cross-engine arithmetic); ties share a shard by construction."""
    orders = load_table(spark, "orders", sf_dir)
    cents = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    return layout.range_shard_manifest(cents, "cents", n_shards=8).select(
        F.col("shard"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("min_v"),
        F.col("max_v"),
    )


@_q(
    "compaction_plan_docs",
    """
    WITH s AS (
      SELECT source, doc_id, n_chars,
             (sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - n_chars) // 16384 AS bin
      FROM documents
    )
    SELECT source, CAST(bin AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(n_chars) AS BIGINT) AS bin_bytes,
           min(doc_id) AS first_id, max(doc_id) AS last_id
    FROM s GROUP BY source, bin
    """,
)
def compaction_plan_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction manifest: pack each source's documents
    into contiguous ~16 KB bins in doc_id order — one rewrite task per
    (source, bin), the lakehouse compactor / shard-writer planning step.
    Bin rule is exclusive-prefix-sum offset binning (an item belongs to
    the bin its start offset falls in): exact integer arithmetic, no
    sequential greedy state, so both engines replay it bit-identically.
    Plan: ONE keyed exchange (per-source window cumsum) + a map-side-
    combined groupBy; no global sort, no collect. See
    layout.compaction_plan for the skewed-partition swap."""
    docs = load_table(spark, "documents", sf_dir)
    return layout.compaction_plan(
        docs, part_col="source", id_col="doc_id", size_col="n_chars",
        target_bytes=16384,
    )


@_q(
    "event_cooccurrence",
    """
    WITH ue AS (SELECT DISTINCT user_id, event_type FROM events),
    p AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             count(*) AS n_both
      FROM ue a JOIN ue b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    ),
    t AS (SELECT event_type, count(*) AS n_users FROM ue GROUP BY 1)
    SELECT type_a, type_b, CAST(n_both AS BIGINT) AS n_both,
           round(CAST(n_both AS DOUBLE) / (ta.n_users + tb.n_users - n_both), 6)
             AS affinity
    FROM p
    JOIN t ta ON ta.event_type = type_a
    JOIN t tb ON tb.event_type = type_b
    """,
)
def event_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavior co-occurrence mining: for every event-type pair, how many
    users did both, plus the Jaccard affinity n_both/(n_a+n_b-n_both).
    The engine never self-joins the event stream: distinct (user, type)
    -> per-user sorted type-set -> in-row i<j pair combinatorics (the
    jaccard_pairs pattern) -> one |types|²-bounded aggregate; per-type
    user counts broadcast onto the pair frame. The oracle takes the
    naive self-join route — same answer, the scalable plan is the point.
    Affinity is an exact small-integer ratio (cross-engine-stable)."""
    ev = load_table(spark, "events", sf_dir)
    ue = ev.select("user_id", "event_type").distinct()
    sets = ue.groupBy("user_id").agg(F.array_sort(F.collect_set("event_type")).alias("ts"))
    ts = F.col("ts")
    idx = F.filter(
        F.sequence(F.lit(1), F.size(ts) - 1),
        lambda i: (i >= 1) & (i < F.size(ts)),
    )
    pair_arr = F.flatten(
        F.transform(
            idx,
            lambda i: F.transform(
                F.slice(ts, i + 1, F.size(ts) - i),
                lambda y: F.struct(F.element_at(ts, i).alias("a"), y.alias("b")),
            ),
        )
    )
    pairs = (
        sets.select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.a").alias("type_a"), F.col("p.b").alias("type_b"))
        .agg(F.count("*").alias("n_both"))
    )
    counts = ue.groupBy("event_type").agg(F.count("*").alias("n_users"))
    return (
        pairs.join(
            F.broadcast(counts.select(F.col("event_type").alias("type_a"), F.col("n_users").alias("na"))),
            "type_a",
        )
        .join(
            F.broadcast(counts.select(F.col("event_type").alias("type_b"), F.col("n_users").alias("nb"))),
            "type_b",
        )
        .select(
            "type_a",
            "type_b",
            F.col("n_both").cast("long").alias("n_both"),
            F.round(
                F.col("n_both").cast("double") / (F.col("na") + F.col("nb") - F.col("n_both")), 6
            ).alias("affinity"),
        )
    )


@_q(
    "mixture_resample",
    rf"""
    WITH per AS (
      SELECT source, count(*) AS n_docs,
             CAST(sum(len(list_filter(regexp_split_to_array(text, '\s+'),
                                      x -> x <> ''))) AS BIGINT) AS tokens
      FROM documents GROUP BY source
    ),
    t AS (
      SELECT source, n_docs, tokens,
             sum(tokens) OVER () AS tot_tokens,
             sum(n_docs) OVER () AS tot_docs
      FROM per
    ),
    w AS (SELECT *, sqrt(tokens / tot_tokens) AS wr FROM t),
    rates AS (
      SELECT source, n_docs,
             CAST(floor(wr / sum(wr) OVER () * tot_docs / 2) AS BIGINT)
               AS target_docs,
             least(1000000,
                   CAST(floor(wr / sum(wr) OVER () * tot_docs / 2) AS BIGINT)
                     * 1000000 // n_docs) AS rate_ppm
      FROM w
    ),
    kept AS (
      SELECT d.source, count(*) AS kept_docs
      FROM documents d JOIN rates r ON r.source = d.source
      WHERE {_SQL_HASH64.format(x="CAST(doc_id AS VARCHAR)")} % 1000000
            < r.rate_ppm
      GROUP BY d.source
    )
    SELECT r.source, CAST(r.n_docs AS BIGINT) AS n_docs, r.target_docs,
           r.rate_ppm, CAST(coalesce(k.kept_docs, 0) AS BIGINT) AS kept_docs
    FROM rates r LEFT JOIN kept k ON k.source = r.source
    """,
)
def mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-targeted resampling: turn the temperature-scaled domain
    weights (domain_mixture_weights) into per-domain deterministic
    sampling rates targeting HALF the corpus, then actually draw the
    sample with the portable-hash threshold (reproducible across
    engines/partitionings/reruns, unlike df.sample). Per-domain rate
    math runs on the #domains-row weight frame; the draw is a map-side
    filter under a broadcast rate lookup; kept counts are one bounded
    aggregate. Integer ppm rates keep the threshold engine-exact."""
    docs = load_table(spark, "documents", sf_dir)
    per = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(tokens(F.col("text")))).alias("tokens"),
    )
    w = Window.partitionBy()  # domain-level frame: #domains rows, constant
    t = per.select(
        "source",
        "n_docs",
        "tokens",
        F.sum("tokens").over(w).alias("tot_tokens"),
        F.sum("n_docs").over(w).alias("tot_docs"),
    ).withColumn("wr", F.sqrt(F.col("tokens") / F.col("tot_tokens")))
    target = F.floor(
        F.col("wr") / F.sum("wr").over(w) * F.col("tot_docs") / 2
    ).cast("long")
    rates = (
        t.select("source", "n_docs", target.alias("target_docs"))
        .withColumn(
            "rate_ppm",
            F.least(
                F.lit(1000000).cast("long"),
                F.expr("target_docs * 1000000 div n_docs"),
            ),
        )
        .localCheckpoint()  # #domains rows — model-sized, scanned by two branches
    )
    drawn = docs.join(F.broadcast(rates.select("source", "rate_ppm")), "source").filter(
        (portable_hash64(F.col("doc_id").cast("string")) % 1000000) < F.col("rate_ppm")
    )
    kept = drawn.groupBy("source").agg(F.count("*").alias("kept_docs"))
    return (
        rates.join(kept, "source", "left")
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            "target_docs",
            "rate_ppm",
            F.coalesce("kept_docs", F.lit(0)).cast("long").alias("kept_docs"),
        )
    )


@_q(
    "interval_overlap_orders",
    """
    WITH iv AS (
      SELECT o_custkey, o_orderkey, o_orderpriority,
             CAST(epoch(o_orderdate) AS BIGINT) // 86400 AS s,
             CAST(epoch(o_orderdate) AS BIGINT) // 86400
               + o_orderkey % 30 + 1 AS e
      FROM orders
    )
    SELECT a.o_custkey AS custkey,
           a.o_orderkey AS urgent_key, b.o_orderkey AS high_key,
           CAST(least(a.e, b.e) - greatest(a.s, b.s) + 1 AS BIGINT)
             AS overlap_days
    FROM iv a JOIN iv b ON a.o_custkey = b.o_custkey
    WHERE a.o_orderpriority = '1-URGENT' AND b.o_orderpriority = '2-HIGH'
      AND a.s <= b.e AND b.s <= a.e
    """,
)
def interval_overlap_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval overlap join with BOTH sides large: per-customer urgent
    vs high order activity windows (start = order day, deterministic
    o_orderkey-derived duration) that overlap in time. Spark would plan
    the raw overlap predicate as a per-key nested loop; the engine
    instead bucket-blocks (operators.relational.interval_overlap_join):
    intervals explode into 64-day buckets, the join is an equi-join on
    (custkey, bucket), and the left-edge-bucket rule emits each pair
    exactly once with no distinct pass. Integer day arithmetic keeps
    every value engine-exact; the oracle takes the naive overlap join."""
    orders = load_table(spark, "orders", sf_dir)
    iv = orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderpriority",
        F.expr("unix_timestamp(cast(o_orderdate as timestamp)) div 86400").alias("s"),
    ).withColumn("e", F.col("s") + F.col("o_orderkey") % 30 + 1)
    a = iv.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("urgent_key"),
        F.col("s").alias("s1"),
        F.col("e").alias("e1"),
    )
    b = iv.filter(F.col("o_orderpriority") == "2-HIGH").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("high_key"),
        F.col("s").alias("s2"),
        F.col("e").alias("e2"),
    )
    joined = relational.interval_overlap_join(
        a, b, ["custkey"], "s1", "e1", "s2", "e2", bucket_width=64
    )
    return joined.select(
        "custkey",
        "urgent_key",
        "high_key",
        (F.least("e1", "e2") - F.greatest("s1", "s2") + 1)
        .cast("long")
        .alias("overlap_days"),
    )


@_q(
    "funnel_conversion",
    """
    WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t, event_id
               FROM events),
    v AS (
      SELECT user_id, t, event_id,
             row_number() OVER (PARTITION BY user_id ORDER BY t, event_id) rn
      FROM e WHERE event_type = 'view' QUALIFY rn = 1
    ),
    c AS (
      -- rn2/rn3: a bare 'rn' here would resolve to the JOINED v.rn
      -- (always 1) instead of this select's window alias, keeping
      -- every click row
      SELECT ec.user_id, ec.t, ec.event_id,
             row_number() OVER (PARTITION BY ec.user_id
                                ORDER BY ec.t, ec.event_id) rn2
      FROM e ec JOIN v ON v.user_id = ec.user_id
      WHERE ec.event_type = 'click'
        AND (ec.t, ec.event_id) > (v.t, v.event_id)
        AND ec.t <= v.t + 86400000000
      QUALIFY rn2 = 1
    ),
    p AS (
      SELECT ep.user_id,
             row_number() OVER (PARTITION BY ep.user_id
                                ORDER BY ep.t, ep.event_id) rn3
      FROM e ep JOIN c ON c.user_id = ep.user_id
      WHERE ep.event_type = 'purchase'
        AND (ep.t, ep.event_id) > (c.t, c.event_id)
        AND ep.t <= c.t + 86400000000
      QUALIFY rn3 = 1
    )
    SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS n_view,
           CAST((SELECT count(*) FROM c) AS BIGINT) AS n_view_click,
           CAST((SELECT count(*) FROM p) AS BIGINT) AS n_full_funnel
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel (view -> click-within-24h ->
    purchase-within-24h): users whose FIRST view is followed by a click
    inside 24h, whose first such click is followed by a purchase inside
    24h. Stage k is one filtered aggregate (min over a (ts, event_id)
    struct — total order, ties exact) joined to stage k-1 on the user
    key: three keyed exchanges total, state per user is ONE struct per
    stage, never the event list. Timestamps ride as exact
    epoch-microsecond integers; the oracle expresses the same strict
    (t, id) tuple ordering with QUALIFY windows."""
    ev = load_table(spark, "events", sf_dir)
    e = ev.select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("t"),
        "event_id",
    )
    k = F.struct(F.col("t").alias("t"), F.col("event_id").alias("i"))
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(k).alias("k1"))
    )
    day_us = 86400000000
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter((k > F.col("k1")) & (F.col("t") <= F.col("k1.t") + day_us))
        .groupBy("user_id")
        .agg(F.min(k).alias("k2"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter((k > F.col("k2")) & (F.col("t") <= F.col("k2.t") + day_us))
        .groupBy("user_id")
        .agg(F.min(k).alias("k3"))
    )
    return (
        v.join(c.select("user_id", "k2"), "user_id", "left")
        .join(p.select("user_id", "k3"), "user_id", "left")
        .agg(
            F.count("k1").cast("long").alias("n_view"),
            F.count("k2").cast("long").alias("n_view_click"),
            F.count("k3").cast("long").alias("n_full_funnel"),
        )
    )


def _zorder_terms_sql(x: str, y: str, bits: int) -> str:
    terms = []
    for b in range(bits):
        terms.append(f"((({x} >> {b}) & 1) << {2 * b})")
        terms.append(f"((({y} >> {b}) & 1) << {2 * b + 1})")
    return " + ".join(terms)


@_q(
    "zorder_cells",
    f"""
    WITH d AS (
      SELECT (CAST(epoch(o_orderdate) AS BIGINT) // 86400) & 16383 AS x,
             o_custkey & 16383 AS y
      FROM orders
    ),
    z AS (SELECT x, y, ({_zorder_terms_sql('x', 'y', 14)}) >> 12 AS cell
          FROM d)
    SELECT cell, CAST(count(*) AS BIGINT) AS n,
           min(x) AS min_day, max(x) AS max_day,
           min(y) AS min_cust, max(y) AS max_cust
    FROM z GROUP BY cell
    """,
)
def zorder_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout cells over (order day, customer key):
    interleave 14 bits of each dimension into a z-value, group rows by
    coarse z-cell, and report the per-cell bounding box in BOTH
    dimensions — the zone-map statistic that makes a z-ordered 100 TB
    layout prunable by either dimension. The interleave is an UNROLLED
    static shift/mask expression (28 JVM integer terms, fully inside
    whole-stage codegen — no lambda, no Python); one |cells|-bounded
    aggregate is the only shuffle. Exact integer arithmetic end to end;
    the oracle evaluates the identical bit expression."""
    orders = load_table(spark, "orders", sf_dir)
    x = F.expr("unix_timestamp(cast(o_orderdate as timestamp)) div 86400").bitwiseAND(
        F.lit(16383)
    )
    y = F.col("o_custkey").bitwiseAND(F.lit(16383))
    d = orders.select(x.alias("x"), y.alias("y"))
    z = None
    for b in range(14):
        tx = F.shiftleft(F.shiftright(F.col("x"), b).bitwiseAND(F.lit(1)), 2 * b)
        ty = F.shiftleft(F.shiftright(F.col("y"), b).bitwiseAND(F.lit(1)), 2 * b + 1)
        z = tx + ty if z is None else z + tx + ty
    return (
        d.withColumn("cell", F.shiftright(z, 12))
        .groupBy("cell")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.min("x").alias("min_day"),
            F.max("x").alias("max_day"),
            F.min("y").alias("min_cust"),
            F.max("y").alias("max_cust"),
        )
    )


@_q(
    "incremental_agg_maintenance",
    """
    SELECT o_custkey AS custkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders
    GROUP BY o_custkey
    """,
)
def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Algebraic materialized-view maintenance: a per-customer spend
    aggregate is materialized over the pre-2000 base period, PERSISTED
    (parquet — the stored MV), and then advanced by merging the 2000+
    delta's PARTIAL aggregate into it: union of two aggregate frames +
    one re-aggregate on the key. The base FACT rows are never rescanned
    — maintenance cost is O(delta + affected keys), the property that
    makes an MV over 100 TB of history updatable from a day's delta.
    Works because count/sum are commutative monoids (partial aggs
    merge); the oracle recomputes the aggregate over ALL rows from
    scratch and must hash-match the merged view exactly (integer cents,
    no FP order dependence)."""
    import os

    orders = load_table(spark, "orders", sf_dir)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    cutoff = F.lit("2000-01-01").cast("timestamp_ntz")

    def partial(df):
        return df.groupBy(F.col("o_custkey").alias("custkey")).agg(
            F.count("*").alias("n_orders"), F.sum(cents).alias("total_cents")
        )

    mv_path = os.path.join(_SCRATCH, "mv_cust_spend_base")
    partial(orders.filter(F.col("o_orderdate") < cutoff)).write.mode(
        "overwrite"
    ).parquet(mv_path)
    base_mv = spark.read.parquet(mv_path)  # the stored view, not the facts
    delta = partial(orders.filter(F.col("o_orderdate") >= cutoff))
    return (
        base_mv.unionByName(delta)
        .groupBy("custkey")
        .agg(
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.sum("total_cents").cast("long").alias("total_cents"),
        )
    )


@_q(
    "attribution_last_touch",
    """
    WITH p AS (
      SELECT user_id, event_id AS purchase_id, ts, epoch_us(ts) AS tp
      FROM events WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT user_id, ts, max(event_id) AS click_id
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    ),
    c2 AS (SELECT user_id, epoch_us(ts) AS tc, click_id FROM c)
    SELECT p.purchase_id, l.click_id,
           CAST(p.tp - l.tc AS BIGINT) AS gap_us
    FROM p LEFT JOIN LATERAL (
      SELECT c2.tc, c2.click_id FROM c2
      WHERE c2.user_id = p.user_id AND c2.tc <= p.tp
        AND c2.tc >= p.tp - 7 * 86400000000
      ORDER BY c2.tc DESC LIMIT 1
    ) l ON TRUE
    """,
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: every purchase is credited to the user's
    LATEST click within the preceding 7 days (or left unattributed).
    This is the as-of operator applied events-to-events: clicks deduped
    to one per (user, ts) — a deterministic tiebreak the carry needs —
    then ONE union-and-carry keyed shuffle (operators.relational
    .asof_join, no per-key quadratic range join), tolerance as a
    post-carry projection. The oracle is the naive LATERAL top-1 probe.
    Gaps ride as exact epoch-microsecond integers."""
    ev = load_table(spark, "events", sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("pts")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
        .select("user_id", F.col("ts").alias("cts"), "click_id")
        .withColumn("click_ts", F.col("cts"))
    )
    joined = relational.asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="pts",
        right_ts="cts",
        right_value_cols=["click_id", "click_ts"],
        how="left",
        direction="backward",
        tolerance="7 days",
    )
    return joined.select(
        "purchase_id",
        "click_id",
        (F.unix_micros(F.col("pts")) - F.unix_micros(F.col("click_ts")))
        .cast("long")
        .alias("gap_us"),
    )


@_q(
    "embedding_standardize",
    """
    WITH q AS (
      SELECT vec_id, CAST(u.i - 1 AS INT) AS i,
             CAST(floor(embedding[u.i] * 8192.0) AS BIGINT) AS qv
      FROM embeddings,
           LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) u
      WHERE embedding IS NOT NULL AND len(embedding) > 0
    ),
    st AS (
      SELECT i, count(*) AS n,
             CAST(sum(qv) AS DOUBLE) AS s1,
             CAST(sum(qv * qv) AS DOUBLE) AS s2
      FROM q GROUP BY i
    ),
    stats AS (
      SELECT i, s1 / n AS mean, sqrt((s2 - s1 * s1 / n) / n) AS sd
      FROM st WHERE (s2 - s1 * s1 / n) > 0
    )
    SELECT q.vec_id,
           CAST(sum(CAST(floor(((qv - mean) / sd) * 1000.0) AS BIGINT))
                AS BIGINT) AS z_sum,
           CAST(count(*) AS BIGINT) AS n_dims
    FROM q JOIN stats USING (i)
    GROUP BY q.vec_id
    """,
)
def embedding_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension z-score standardization of the embedding corpus
    with an EXACT cross-engine contract: dimension means/stddevs come
    from integer moments of the int13-quantized values (one d-bounded
    shuffle + an O(d) model collect — broadcast-a-model, cf.
    cluster.assign), compiled back as literals into a ZERO-shuffle
    per-row projection; per-element z-scores are floor-scaled to
    integer milli-sigmas so the per-vector sum is exact integer math,
    immune to FP summation order. Zero-variance dimensions are excluded
    by an exact integer-moment predicate on both engines.

    Degenerate-input contract (ADVICE r4): an all-zero-variance corpus
    leaves the model empty — the oracle's inner join then yields NO
    rows, and so does this side (empty frame, same schema) instead of
    the former AttributeError. And n_dims is computed PER ROW (count of
    model dimensions the vector actually has), not a global constant,
    so ragged vectors agree with the oracle's per-vector join count;
    vectors joining zero model dimensions are dropped, matching the
    inner join."""
    emb = load_table(spark, "embeddings", sf_dir)
    base = emb.filter(
        F.col("embedding").isNotNull() & (F.size("embedding") > 0)
    ).select(
        "vec_id",
        F.transform(
            F.col("embedding"), lambda x: linalg.quantize_expr(x, 13)
        ).alias("__q"),
    )
    stats = (
        base.select(F.posexplode("__q").alias("i", "qv"))
        .groupBy("i")
        .agg(
            F.count("*").alias("n"),
            F.sum("qv").alias("s1"),
            F.sum(F.col("qv") * F.col("qv")).alias("s2"),
        )
        .collect()  # O(d) model artifact
    )
    import math as _math

    model = {}
    for r in stats:
        n, s1, s2 = r["n"], float(r["s1"]), float(r["s2"])
        var_num = s2 - s1 * s1 / n
        if var_num > 0:
            model[r["i"]] = (s1 / n, _math.sqrt(var_num / n))
    if not model:
        # empty model == the oracle's inner join against an empty stats
        # CTE: zero rows, same schema
        return base.select(
            "vec_id",
            F.lit(None).cast("long").alias("z_sum"),
            F.lit(None).cast("long").alias("n_dims"),
        ).limit(0)
    # Scoring is ONE zip_with fold against a literal (mean, sd) struct
    # array — excluded (zero-variance) dims carry sd=0 and contribute
    # nothing; indices beyond a ragged vector's length arrive as NULL
    # from zip_with's padding and are skipped, matching the oracle's
    # per-vector join. Each per-dim term is floor()'d to an integer
    # BEFORE the fold, so the sum is order-independent and the fold
    # order is irrelevant to exactness. (The previous 64-term unrolled
    # when/element_at chain was the slow shape the round-5 dot-kernel
    # measurement exposed: 64 per-row array accesses each re-paying
    # null/bounds checks — the single-walk HOF replaces it, measured
    # 2.4 -> ~1.1 s at sf0.1.)
    d_model = max(model) + 1
    # Round 13 (guide §4): the model literal is assembled as ONE parsed
    # SQL string instead of d_model x (2 lit + 2 alias + struct) py4j
    # Column calls — the listcomp was ~2/3 of this query's measured
    # plan-construction time (cProfile: 6.5 of 9.6 s in a contended
    # session; ~0.4 s clean). repr() round-trips doubles exactly and
    # named_struct('m', <v>D, ...) canonicalizes EQUAL to the old
    # F.struct(F.lit...) tree (pinned by
    # test_standardize_model_literal_expr_form_identical), so plan,
    # codegen and results are bit-identical.
    ms = F.expr(
        "array("
        + ",".join(
            "named_struct('m',{m!r}D,'sd',{sd!r}D)".format(
                m=model.get(i, (0.0, 0.0))[0], sd=model.get(i, (0.0, 0.0))[1]
            )
            for i in range(d_model)
        )
        + ")"
    )
    zc = F.zip_with(
        F.col("__q"),
        ms,
        lambda x, p: F.when(
            x.isNotNull() & (p["sd"] > 0),
            F.struct(
                F.floor(((x.cast("double") - p["m"]) / p["sd"]) * 1000.0)
                .cast("long")
                .alias("z"),
                F.lit(1).alias("c"),
            ),
        ).otherwise(F.struct(F.lit(0).cast("long").alias("z"), F.lit(0).alias("c"))),
    )
    acc0 = F.struct(F.lit(0).cast("long").alias("z"), F.lit(0).cast("long").alias("c"))
    tot = F.aggregate(
        zc,
        acc0,
        lambda a, t: F.struct(
            (a["z"] + t["z"]).alias("z"), (a["c"] + t["c"]).cast("long").alias("c")
        ),
    )
    return (
        # name the fold ONCE, then project its fields — referencing
        # tot["z"] and tot["c"] directly would re-evaluate the whole
        # fold per field (the linalg.py:75-80 re-evaluation trap)
        base.select("vec_id", tot.alias("__t"))
        .select(
            "vec_id",
            F.col("__t.z").alias("z_sum"),
            F.col("__t.c").alias("n_dims"),
        )
        # a vector shorter than every model dimension joins nothing in
        # the oracle — drop it here too
        .filter(F.col("n_dims") > 0)
    )


@_q(
    "groupwise_regression",
    """
    WITH pts AS (
      SELECT p.p_brand,
             CAST(round(l_quantity) AS BIGINT) AS x,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    m AS (
      SELECT p_brand, count(*) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
      FROM pts GROUP BY p_brand
    )
    SELECT p_brand, CAST(n AS BIGINT) AS n,
           round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope,
           round((CAST(sy AS DOUBLE)
                  - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6)
             AS intercept
    FROM m
    """,
)
def groupwise_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group closed-form OLS (price-cents on quantity, grouped by
    part brand): ONE map-side-combined aggregate collects the exact
    integer moments (n, Σx, Σy, Σx², Σxy, Σy²) — the sufficient
    statistics, so the shuffle carries 6 longs per (group, partition)
    regardless of row count — and slope/intercept are a fixed IEEE
    double sequence over those moments, bit-identical in any engine
    replaying them (the distributed-ML-on-moments pattern: the model
    solve touches only group-sized state). Joins lineitem to part on
    the fact key; no quadratic stage anywhere."""
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir)
    pts = li.join(part, li.l_partkey == part.p_partkey).select(
        "p_brand",
        F.round("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    m = pts.groupBy("p_brand").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, sxy = F.col("sxx").cast("double"), F.col("sxy").cast("double")
    slope = (nd * sxy - sx * sy) / (nd * sxx - sx * sx)
    return m.select(
        "p_brand",
        F.col("n").cast("long").alias("n"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / nd, 6).alias("intercept"),
    )


@_q(
    "dq_audit_orders",
    """
    SELECT 'null_custkey' AS rule,
           CAST(count(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT) AS violations,
           CAST(count(*) AS BIGINT) AS checked
    FROM orders
    UNION ALL
    SELECT 'nonpositive_totalprice',
           CAST(count(*) FILTER (WHERE o_totalprice <= 0) AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orphan_custkey',
           CAST(count(*) FILTER (WHERE c.c_custkey IS NULL) AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
    UNION ALL
    SELECT 'duplicate_orderkey',
           CAST(sum(cnt - 1) AS BIGINT),
           CAST(sum(cnt) AS BIGINT)
    FROM (SELECT count(*) AS cnt FROM orders GROUP BY o_orderkey)
    """,
)
def dq_audit_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality audit (expectation-suite style): null
    checks and range checks ride ONE shared scan as conditional
    aggregates; the referential check is one keyed join counting
    orphans; uniqueness is one keyed aggregate counting surplus rows.
    Each rule reports (violations, checked) so downstream gates can
    threshold on rates. At 100 TB every rule stays a scan-local
    aggregate or a single equi-join — nothing materializes violating
    ROWS unless a debugging query asks for them."""
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    n = F.count("*").cast("long")
    scan_rules = orders.agg(
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)).cast("long").alias("null_custkey"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).cast("long").alias("nonpositive_totalprice"),
        n.alias("checked"),
    )
    scan_long = scan_rules.selectExpr(
        "stack(2, 'null_custkey', null_custkey, "
        "'nonpositive_totalprice', nonpositive_totalprice) AS (rule, violations)",
        "checked",
    ).select("rule", "violations", "checked")
    orphans = (
        orders.join(cust, orders.o_custkey == cust.c_custkey, "left")
        .agg(
            F.sum(F.when(F.col("c_custkey").isNull(), 1).otherwise(0)).cast("long").alias("violations"),
            n.alias("checked"),
        )
        .select(F.lit("orphan_custkey").alias("rule"), "violations", "checked")
    )
    dups = (
        orders.groupBy("o_orderkey")
        .agg(F.count("*").alias("cnt"))
        .agg(
            F.sum(F.col("cnt") - 1).cast("long").alias("violations"),
            F.sum("cnt").cast("long").alias("checked"),
        )
        .select(F.lit("duplicate_orderkey").alias("rule"), "violations", "checked")
    )
    return scan_long.unionByName(orphans).unionByName(dups)


@_q(
    "daily_spine_fill",
    """
    WITH bounds AS (
      SELECT CAST(min(epoch(ts)) AS BIGINT) // 86400 AS d0,
             CAST(max(epoch(ts)) AS BIGINT) // 86400 AS d1
      FROM events
    ),
    spine AS (
      SELECT unnest(generate_series(d0, d1)) AS day FROM bounds
    ),
    daily AS (
      SELECT CAST(epoch(ts) AS BIGINT) // 86400 AS day,
             count(*) AS n_events,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents
      FROM events GROUP BY 1
    )
    SELECT s.day, CAST(coalesce(d.n_events, 0) AS BIGINT) AS n_events,
           CAST(coalesce(d.value_cents, 0) AS BIGINT) AS value_cents
    FROM spine s LEFT JOIN daily d ON d.day = s.day
    """,
)
def daily_spine_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular-grid resampling with gap filling: a generated day spine
    (sequence over the observed [min, max] day range — two scalar
    aggregates, then a driver-free explode of one row) left-joined to
    the per-day aggregate, zero-filling silent days. The spine side is
    O(days) — broadcast — so the event table aggregates once and never
    re-shuffles; at 100 TB the spine join is the standard time-series
    densification shape. Integer day and cent arithmetic end to end."""
    ev = load_table(spark, "events", sf_dir)
    day = F.expr("unix_timestamp(ts) div 86400")
    bounds = ev.agg(
        F.min(day).alias("d0"), F.max(day).alias("d1")
    )
    spine = bounds.select(
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day")
    )
    daily = ev.select(
        day.alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    ).groupBy("day").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum("cents").cast("long").alias("value_cents"),
    )
    return (
        spine.join(daily, "day", "left")
        .select(
            "day",
            F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
            F.coalesce("value_cents", F.lit(0)).cast("long").alias("value_cents"),
        )
    )


@_q(
    "snapshot_diff_customers",
    """
    WITH old AS (SELECT * FROM customer WHERE c_custkey % 10 <> 3),
    new AS (
      SELECT c_custkey, c_name, c_nationkey,
             CASE WHEN c_custkey % 7 = 0
                  THEN round(c_acctbal + 10.0, 2) ELSE c_acctbal END
               AS c_acctbal,
             c_mktsegment
      FROM customer WHERE c_custkey % 10 <> 6
    )
    SELECT status, CAST(count(*) AS BIGINT) AS n FROM (
      SELECT CASE
               WHEN o.c_custkey IS NULL THEN 'added'
               WHEN n.c_custkey IS NULL THEN 'removed'
               WHEN o.c_acctbal <> n.c_acctbal THEN 'changed'
               ELSE 'unchanged' END AS status
      FROM old o FULL OUTER JOIN new n ON n.c_custkey = o.c_custkey
    ) GROUP BY status
    """,
)
def snapshot_diff_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (CDC derivation from two table versions): a full
    outer join on the key classifies every entity as added / removed /
    changed / unchanged — the operator that turns periodic full dumps
    into a change feed when no log exists. The two versions here are
    deterministic slices/mutations of the customer fixture (old drops
    keys =3 mod 10, new drops =6 mod 10 and shifts every 7th balance),
    so both engines derive identical snapshots. One keyed shuffle per
    side; the classification is a projection on the joined row."""
    cust = load_table(spark, "customer", sf_dir)
    old = cust.filter(F.col("c_custkey") % 10 != 3)
    new = cust.filter(F.col("c_custkey") % 10 != 6).withColumn(
        "c_acctbal",
        F.when(
            F.col("c_custkey") % 7 == 0, F.round(F.col("c_acctbal") + 10.0, 2)
        ).otherwise(F.col("c_acctbal")),
    )
    o = old.select(F.col("c_custkey").alias("ok"), F.col("c_acctbal").alias("obal"))
    nw = new.select(F.col("c_custkey").alias("nk"), F.col("c_acctbal").alias("nbal"))
    joined = o.join(nw, o.ok == nw.nk, "full_outer")
    status = (
        F.when(F.col("ok").isNull(), "added")
        .when(F.col("nk").isNull(), "removed")
        .when(F.col("obal") != F.col("nbal"), "changed")
        .otherwise("unchanged")
    )
    return (
        joined.select(status.alias("status"))
        .groupBy("status")
        .agg(F.count("*").cast("long").alias("n"))
    )


# The blas kernel is oracle-checked against the SAME ground truth as the
# expression kernel — the oracle describes the moments, not the kernel.
@_q("embedding_covariance_blas", ORACLE["embedding_covariance"])
def embedding_covariance_blas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embedding_covariance with the 'blas' kernel: Arrow-batched numpy
    gram matmul (Q.T @ Q per batch) instead of Catalyst expression
    cells — the linalg module's documented d-beyond-256 upgrade path,
    shipped and hash-checked. Produces bit-identical integer moments
    (same floor, same int64 accumulation), so it shares
    embedding_covariance's oracle verbatim (registered below)."""
    emb = load_table(spark, "embeddings", sf_dir)
    return linalg.covariance_matrix(emb, vec_col="embedding", scale_bits=13, kernel="blas")


@_q(
    "cohort_retention",
    """
    WITH uw AS (
      SELECT DISTINCT user_id,
             (CAST(epoch(ts) AS BIGINT) // 86400) // 7 AS week
      FROM events WHERE event_type = 'purchase'
    ),
    first_w AS (SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY user_id),
    size_w AS (SELECT cohort_week, count(*) AS cohort_size
               FROM first_w GROUP BY cohort_week)
    SELECT f.cohort_week, CAST(u.week - f.cohort_week AS BIGINT) AS offset_w,
           CAST(count(*) AS BIGINT) AS n_active,
           CAST(s.cohort_size AS BIGINT) AS cohort_size
    FROM uw u
    JOIN first_w f ON f.user_id = u.user_id
    JOIN size_w s ON s.cohort_week = f.cohort_week
    GROUP BY f.cohort_week, offset_w, s.cohort_size
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-PURCHASE
    week, counted per week-offset of later purchase activity (the
    purchase stream is the sparse signal — raw activity saturates this
    fixture), with cohort sizes for
    rate computation downstream. Weeks are engine-neutral integers
    (epoch-day // 7 — no date_trunc('week') anchor-day semantics to
    reconcile). Shapes: one distinct on (user, week), one per-user min,
    one keyed join back (the cohort lookup is user-count-sized), one
    |cohorts × offsets|-bounded aggregate — every shuffle carries
    user- or cell-bounded state at any corpus size."""
    ev = load_table(spark, "events", sf_dir)
    week = F.expr("(unix_timestamp(ts) div 86400) div 7")
    uw = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", week.alias("week"))
        .distinct()
    )
    first_w = uw.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    size_w = first_w.groupBy("cohort_week").agg(F.count("*").alias("cohort_size"))
    return (
        uw.join(first_w, "user_id")
        .join(F.broadcast(size_w), "cohort_week")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).cast("long").alias("offset_w"),
            F.col("cohort_size").cast("long").alias("cohort_size"),
        )
        .agg(F.count("*").cast("long").alias("n_active"))
        .select("cohort_week", "offset_w", "n_active", "cohort_size")
    )


# Per-day user cap for the co-activity pair stage (see the docstring
# below). 2048 > every organic fixture's max users/day (sf0.1: 1,356) so
# the sf-scale oracle hashes are cap-invariant; the 10x dense fixture is
# bounded to 30 * 2048²/2 ≈ 63M pairs instead of 3.4e9 (OOM).
_TRIANGLE_DAY_CAP = 2048

# Broadcast gate for the triangle joins (r8 ADVICE): surviving edge sets
# at or under this count broadcast (16-byte packed rows -> the oriented
# edge list stays ~100 MB, comfortably inside executor/driver broadcast
# budgets at 1000-executor scale); larger graphs AUTOMATICALLY fall back
# to the pre-round-8 keyed-shuffle plan instead of OOMing the hint.
_TRIANGLE_BROADCAST_EDGES = 4_000_000

# Driver-closing gate (round 13, guide §2.4 — remove shuffles outright;
# the connected_components driver-union-find precedent): a surviving
# edge set at or under this count is collected (16 bytes/row -> ≤ ~1 MB)
# and the wedge/closing stages run as one exact in-memory pass instead
# of a localCheckpoint + two broadcast joins — 5 driver-scheduled jobs
# (checkpoint, 4 broadcast builds) and the whole closing stage collapse
# into one O(m^1.5) set-intersection fold (degree-ordered, the same
# orientation the distributed plan uses). Larger edge sets fall back to
# the distributed wedge plan AUTOMATICALLY — at 100 TB nothing ever
# collects an unbounded frame. The count that drives the gate is the
# same one the broadcast gate already pays. Measured at sf0.1: the
# 44,771-edge graph (2.49M triangles) folds in 0.28 s vs ~0.9 s for
# the distributed closing stage it replaces; the 10x fixture's 687k
# edges exceed the gate and take the unchanged distributed plan
# (O(m^1.5) set probes make a pure-Python fold the wrong tool past
# ~100k edges — the gate is sized below that knee).
_TRIANGLE_DRIVER_EDGES = 65536


def _capped_user_days(
    ev: DataFrame, cap: int = _TRIANGLE_DAY_CAP, min_days: int = 0
) -> DataFrame:
    """Distinct (user_id, day) bounded to the ``cap`` users with the
    smallest (portable_hash64, id) per day — the deterministic hot-block
    sample triangle_count_users feeds its pair stage (and the oracle
    replays). Factored out so tests can assert the rank-limit compiles
    to WindowGroupLimit on THIS stage's plan (the query's localCheckpoint
    truncates it out of the final plan).

    ``min_days`` prunes users with fewer than that many active days
    BEFORE the cap — for a shared-days >= T edge threshold this is an
    EXACT filter (shared days are a subset of each endpoint's days, so
    neither endpoint of any surviving edge can be pruned), and because
    pair volume is Σ_day k², cutting k to the eligible users cuts the
    pair shuffle quadratically (sf0.1: 40k user-days -> 15k, 26.7M pair
    rows -> ~3.6M, measured). The pruned users can also never affect
    which users the cap keeps — the filter runs first on BOTH engines.
    Distinct-ing AND counting fold into ONE user-keyed collect_set
    aggregate (r12, the bench-creep fix VERDICT r11 #1 asked for): the
    r11 shape was distinct-on-(user,day) then a user-keyed count
    window — two exchanges where one carries both answers.
    partial_collect_set dedups map-side exactly as distinct's partial
    aggregate did (shuffle traffic is one bounded day-set per user per
    map task), size(days) IS the distinct-day count, and explode
    restores the (user_id, day) frame — measured plan 3 -> 2 exchanges,
    output verified row-identical at sf0.1. Per-user state is bounded
    by the corpus's day span (years x 365 longs), so the aggregate is
    safe at any row scale.

    NON-NULL ts CONTRACT (ADVICE r12): collect_set drops NULL days,
    whereas the oracle's DISTINCT keeps a (user, NULL) row — the two
    shapes agree only when every event has a non-null day. The events
    table's ``ts`` is a non-null TIMESTAMP (so ``unix_timestamp`` can
    never return NULL for it) at every shipped SF;
    tests/test_oracle_parity.py::test_events_ts_nonnull_contract pins
    the fixture side of that contract so a future fixture change
    cannot silently diverge the two engines here."""
    day = F.expr("unix_timestamp(ts) div 86400")
    per_user = (
        ev.select("user_id", day.alias("day"))
        .groupBy("user_id")
        .agg(F.collect_set("day").alias("days"))
    )
    if min_days > 0:
        per_user = per_user.filter(F.size("days") >= min_days)
    ud = per_user.select("user_id", F.explode("days").alias("day"))
    wcap = Window.partitionBy("day").orderBy(
        portable_hash64(F.col("user_id").cast("string")), "user_id"
    )
    return (
        ud.withColumn("__rn", F.row_number().over(wcap))
        .filter(F.col("__rn") <= cap)
        .drop("__rn")
    )


@_q(
    "triangle_count_users",
    f"""
    WITH ud0 AS (
      SELECT DISTINCT user_id, CAST(epoch(ts) AS BIGINT) // 86400 AS day
      FROM events
    ),
    eligible AS (
      SELECT user_id FROM ud0 GROUP BY user_id HAVING count(*) >= 28
    ),
    ud1 AS (
      SELECT ud0.user_id, ud0.day FROM ud0 JOIN eligible USING (user_id)
    ),
    ud AS (
      SELECT user_id, day FROM (
        SELECT user_id, day,
               row_number() OVER (
                 PARTITION BY day
                 ORDER BY ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT,
                          user_id) AS rn
        FROM ud1) WHERE rn <= {_TRIANGLE_DAY_CAP}
    ),
    pairs AS (
      SELECT a.user_id AS u1, b.user_id AS u2, count(*) AS shared_days
      FROM ud a JOIN ud b ON a.day = b.day AND a.user_id < b.user_id
      GROUP BY 1, 2
    ),
    edges AS (SELECT u1, u2 FROM pairs WHERE shared_days >= 28),
    tri AS (
      SELECT count(*) AS n_triangles
      FROM edges e1
      JOIN edges e2 ON e2.u1 = e1.u2
      JOIN edges e3 ON e3.u1 = e1.u1 AND e3.u2 = e2.u2
    )
    SELECT CAST((SELECT count(*) FROM edges) AS BIGINT) AS n_edges,
           CAST(tri.n_triangles AS BIGINT) AS n_triangles
    FROM tri
    """,
)
def triangle_count_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the user co-activity graph (edge = two
    users sharing >= 28 active days). Edge generation is the inverted-
    index pattern (day -> user list, in-row i<j combinatorics — the
    day is the block key, so pair volume is Σ per-day k², never global
    n²), preceded by the EXACT eligibility prune: shared days are a
    subset of each endpoint's active days, so users with < 28 active
    days cannot touch any edge — dropping them first (both engines)
    cuts the sf0.1 pair shuffle 26.7M -> 3.6M rows (k per day falls to
    the eligible ~35%, and pair volume is quadratic in k);
    triangles use the oriented-edge trick: with every edge stored
    u1 < u2, each triangle {a<b<c} is found EXACTLY once as
    (a,b)+(b,c)+(a,c) via two equi-joins — no orientation dedup pass,
    join fan-in bounded by adjacency lists. The oracle takes the naive
    self-join route over the same edge set.

    Hot-block cap (round-5 fix for the SCALE.md disclosure): pair
    volume is inherently Σ_day k_day², so ONE day where "everyone was
    active" (k ~ |users|) reproduces the dense-fixture OOM on real
    data. Each day is therefore capped to the ``_TRIANGLE_DAY_CAP``
    users with the smallest (portable_hash64, id) — a deterministic,
    partitioning-independent sample, replayed verbatim in the oracle so
    the contract is exact at EVERY scale, and a no-op on organic
    fixtures (sf0.1 max is 1,356 users/day vs the 2,048 cap). The
    rank-limit compiles to WindowGroupLimit (plan-asserted): each map
    task keeps a per-day top-k heap, so no single task ever holds a hot
    day's full user list — the cap itself is scale-safe, not just the
    stage it guards."""
    ev = load_table(spark, "events", sf_dir)
    ud = _capped_user_days(ev, min_days=28).persist()
    # Pair generation is a STREAMED equi-self-join on the day block key,
    # NOT the in-row sorted-array combinatorics the sparse-block
    # operators use (jaccard/cooccurrence): a co-activity day is a HOT
    # block — every active user collides on it — and materializing its
    # k²/2 pair structs as one in-row array is O(k²) heap on a single
    # task (measured: OOM at the 10x fixture's 1,500 users/day). The
    # join produces the same pairs but streams them straight into the
    # map-side-combined count, so per-task memory stays batch-sized.
    a = ud.select(F.col("user_id").alias("u1"), "day")
    b = ud.select(F.col("user_id").alias("u2"), "day")
    # The pair stream gets NO map-side combine (each pair occurs once per
    # day-block, so partial aggregation reduces nothing and every pair
    # row crosses the shuffle) — so shuffle WIDTH is the lever: pack
    # (u1,u2) into one long (u1<<32|u2; ids < 2^31 non-negative, the
    # jaccard_pairs packed-key contract) before the exchange. Measured
    # at sf0.1: 26.7M pair rows, 5.4 s two-col groupBy -> 4.0 s packed.
    pair = F.shiftleft(F.col("u1").cast("long"), 32) + F.col("u2")
    edges = (
        a.join(b, "day")
        .filter(F.col("u1") < F.col("u2"))
        .select(pair.alias("p"))
        .groupBy("p")
        .agg(F.count("*").alias("shared_days"))
        .filter(F.col("shared_days") >= 28)
        .select(
            F.shiftrightunsigned("p", 32).cast("long").alias("u1"),
            F.col("p").bitwiseAND(F.lit((1 << 32) - 1)).alias("u2"),
        )
        .persist()  # reused by deg + ek; materialized by the count below
    )
    # Degree-ordered orientation (the standard scalable triangle
    # algorithm): orient every edge from its lower-(degree, id) endpoint
    # to the higher one, then wedges are pairs of OUT-neighbors — the
    # per-node path work is out-degree², and under this orientation the
    # max out-degree is O(sqrt(2m)) on any graph, so the wedge join is
    # bounded O(m^1.5) instead of Σ deg² (which explodes on hubs — and
    # on the replicated 10x fixture, whose co-activity graph densifies
    # toward complete; see SCALE.md). Each triangle {a≺b≺c} appears
    # exactly once as wedges (a→b, a→c) closed by (b→c).
    deg = (
        edges.select(F.col("u1").alias("u"))
        .unionAll(edges.select(F.col("u2").alias("u")))
        .groupBy("u")
        .agg(F.count("*").alias("d"))
    )
    # total order key: degree-major, id tiebreak (ids < 2^31 by fixture)
    k = lambda d, u: F.shiftleft(F.col(d).cast("long"), 32) + F.col(u)
    # deg is one 12-byte row per user with a SURVIVING >= 28-shared-days
    # edge — bounded by 2·|edges|, and edges is materialized once by the
    # count below, so this is model-sized next to the pair stream that
    # produced it (sf0.1: 526 rows; unhinted, Spark has no stats for the
    # post-materialization aggregate and planned both lookups as full
    # sort-merge joins, ~0.6 s of the query).
    #
    # Broadcast GATE (r8 ADVICE: the hints were unconditional, so a
    # corpus whose surviving edge set outgrew a broadcast would OOM
    # rather than degrade): the count drives the hint — under the cap
    # (~16-byte packed rows, cap chosen to keep every broadcast table
    # well under a few hundred MB per executor) the plan is the
    # pipelined broadcast one; over it every hint drops AUTOMATICALLY
    # and the joins fall back to the keyed shuffles they were before
    # the round-8 optimization. The count is reused as the n_edges
    # output literal, so the gate costs nothing the query didn't
    # already pay. Round 13: the count IS the materializing action of
    # the persisted edge list (the old eager localCheckpoint + count
    # pair ran the same pipeline and then a second job over its
    # blocks) — one job instead of two, identical plan downstream.
    edge_cnt = edges.count()
    ud.unpersist()
    if edge_cnt <= _TRIANGLE_DRIVER_EDGES:
        # Driver closing (see _TRIANGLE_DRIVER_EDGES): the surviving
        # edge list is tiny next to the pair stage that built it — close
        # the wedges in one exact in-memory pass with the SAME
        # degree-ordered orientation the distributed plan uses (each
        # triangle {a≺b≺c} counted once as |out(a≺b)∩out(a≺c)| at its
        # base edge). Replaces the ek localCheckpoint + 4 broadcast
        # builds + 2 joins with a single collect of ≤ gate rows.
        rows = edges.collect()
        edges.unpersist()
        deg: dict = {}
        for r in rows:
            deg[r[0]] = deg.get(r[0], 0) + 1
            deg[r[1]] = deg.get(r[1], 0) + 1
        out: dict = {}
        for a, b in rows:
            s, d = (a, b) if (deg[a], a) < (deg[b], b) else (b, a)
            out.setdefault(s, set()).add(d)
        empty: set = set()
        tri_n = 0
        for a, b in rows:
            s, d = (a, b) if (deg[a], a) < (deg[b], b) else (b, a)
            tri_n += len(out.get(s, empty) & out.get(d, empty))
        return spark.range(1).select(
            F.lit(edge_cnt).cast("long").alias("n_edges"),
            F.lit(tri_n).cast("long").alias("n_triangles"),
        )
    hint = F.broadcast if edge_cnt <= _TRIANGLE_BROADCAST_EDGES else (lambda df: df)
    ek = (
        edges.join(hint(deg.select(F.col("u").alias("u1"), F.col("d").alias("d1"))), "u1")
        .join(hint(deg.select(F.col("u").alias("u2"), F.col("d").alias("d2"))), "u2")
        .select(
            F.when(k("d1", "u1") < k("d2", "u2"), F.col("u1")).otherwise(F.col("u2")).alias("src"),
            F.when(k("d1", "u1") < k("d2", "u2"), k("d2", "u2")).otherwise(k("d1", "u1")).alias("kdst"),
            F.when(k("d1", "u1") < k("d2", "u2"), F.col("u2")).otherwise(F.col("u1")).alias("dst"),
        )
        .localCheckpoint()
    )
    edges.unpersist()  # ek materialized: the raw edge blocks are done
    # Closing by per-edge adjacency INTERSECTION: n_triangles = Σ over
    # oriented edges (u,v) of |out(u) ∩ out(v)| — each triangle {a≺b≺c}
    # counted exactly once at its LOWEST edge (a,b), since
    # c ∈ out(a) ∩ out(b) and out(c) never contains b under the
    # orientation. A wedge enumeration (w1 ⋈ w2 on src, filter kb < kc,
    # probe the closing edge) would MATERIALIZE the O(m^1.5) wedge stream
    # as join rows — the query's widest frame (sf1 fixture: 149.4M wedge
    # rows; closing stage 13.6 s) — only to count the survivors. The
    # intersection form touches the same neighbor elements inside one
    # array kernel per edge row (no wedge rows, no per-wedge hash
    # probe): measured 13.6 -> 2.0 s against the wedge form on the
    # identical materialized ek at sf1, count-identical (149,373,230
    # triangles). The adjacency lists are bounded by the
    # orientation's O(sqrt(2m)) max out-degree, and the adjacency FRAME
    # is strictly smaller than ek (same elements, grouped), so the same
    # edge-count gate that sized the old broadcasts applies: under it
    # both adjacency lookups broadcast and the closing is one pipelined
    # stage over ek; over it the hints drop and the plan falls back to
    # keyed shuffles of ek against the adjacency — the exact fallback
    # contract the wedge form had.
    adj = ek.groupBy("src").agg(F.collect_list("dst").alias("nbrs"))
    au = adj.select(F.col("src").alias("ju"), F.col("nbrs").alias("nu"))
    av = adj.select(F.col("src").alias("jv"), F.col("nbrs").alias("nv"))
    tri = (
        ek.select("src", "dst")
        .join(hint(au), F.col("src") == F.col("ju"))
        .join(hint(av), F.col("dst") == F.col("jv"))
        .select(F.size(F.array_intersect("nu", "nv")).alias("t"))
        .agg(F.coalesce(F.sum("t"), F.lit(0)).cast("long").alias("n_triangles"))
    )
    n_edges = spark.range(1).select(F.lit(edge_cnt).cast("long").alias("n_edges"))
    return n_edges.crossJoin(tri)  # two 1-row frames


@_q(
    "event_transition_matrix",
    """
    WITH ordered AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    )
    SELECT event_type AS from_type, next_type AS to_type,
           CAST(count(*) AS BIGINT) AS n
    FROM ordered WHERE next_type IS NOT NULL
    GROUP BY from_type, to_type
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts of the per-user event
    stream: one keyed window (lead over the strict (ts, event_id)
    order — deterministic under timestamp ties) and one
    |types|²-bounded aggregate. The per-user window carries one row of
    lookahead state, so the shuffle is the event volume keyed by user
    — the sessionization cost class, no quadratic stage. The transition
    matrix is the standard input to journey analysis and synthetic-
    session generation."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "user_id",
            "event_type",
            F.lead("event_type").over(w).alias("next_type"),
        )
        .filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count("*").cast("long").alias("n"))
    )


@_q(
    "token_budget_selection",
    r"""
    WITH t AS (
      SELECT doc_id, source,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
      FROM documents
    ), m AS (
      SELECT doc_id, source,
             CAST(len(toks) AS INT) AS n_tokens,
             CAST(list_sum(list_transform(toks, x -> length(x))) AS INT) AS total_len,
             CAST(len(list_filter(toks, x -> x IN ('the', 'a', 'of', 'and'))) AS INT) AS n_stop
      FROM t
    ), q AS (
      SELECT doc_id, source, n_tokens,
             CASE WHEN n_tokens > 0 THEN
               ((50 * (CAST(n_tokens AS BIGINT) * least(n_tokens, 200)
                       + 120 * least(4 * CAST(n_stop AS BIGINT), n_tokens)
                       + 10 * least(CAST(total_len AS BIGINT), 8 * CAST(n_tokens AS BIGINT)))
                 + n_tokens) // (2 * CAST(n_tokens AS BIGINT))) / 10000.0
             ELSE 0.0 END AS quality
      FROM m
    ), c AS (
      SELECT doc_id, source, n_tokens, quality,
             sum(n_tokens) OVER (PARTITION BY source
                                 ORDER BY quality DESC, doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_tokens
      FROM q
    )
    SELECT source, doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, quality,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM c WHERE cum_tokens <= 800
    """,
)
def token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget-constrained corpus selection: per source, keep the
    highest-quality documents (text.quality_score, ties by doc_id)
    until an 800-token budget fills — the data-selection step of a
    mixture builder ("best N tokens per domain", the quality-ranked
    selection shape of C4/Gopher-style curation under a fixed token
    budget), greedy-exact: a doc
    is kept iff the running token sum INCLUDING it stays within budget.

    Plan — exact histogram prefilter, then one small keyed window (the
    scale refinement IN CODE, not prose — round-4's standard): quality
    is rounded to 4 decimals, so the per-source quality HISTOGRAM
    (groupBy(source, quality) with summed tokens) is bounded by
    |sources| x 10^4 regardless of corpus size. The cut quality per
    source is the highest quality level whose strictly-better levels
    already hold >= budget tokens: any doc below the cut has
    cum_before >= budget, hence cum_including > budget, hence can NEVER
    be selected — so filtering survivors to quality >= cut provably
    changes nothing (the oracle, which replays the naive full window,
    hash-equals this plan). The expensive per-doc running-sum window
    then sorts only ~budget-worth of docs per source instead of a
    mega-domain's full corpus. Shapes: one histogram shuffle, one
    histogram-sized window, one broadcast threshold join, one
    survivors-only window — the per-source sort is budget-bounded.
    The scored frame is persisted so quality is COMPUTED ONCE (the
    first 10x measurement of the prefilter recomputed the tokenize +
    score projection in both branches and LOST to the naive window —
    caching turns the trade into 1x map work + budget-bounded sort,
    strictly better; the fuzzy_pairs persist/checkpoint pattern);
    the output is budget-bounded per source, so the final
    localCheckpoint materializes a tiny frame and the cache is freed
    before return."""
    docs = load_table(spark, "documents", sf_dir)
    q, out = _token_budget_frames(docs)
    out = out.localCheckpoint()  # budget-bounded rows; executes the plan
    q.unpersist()
    return out


def _token_budget_frames(docs: DataFrame, budget: int = 800):
    """(persisted scored frame, lazy selection) — split out so the plan
    test can assert on the UN-checkpointed selection plan (cf.
    fuzzy_pairs' checkpoint=False path)."""
    q = (
        text.quality_score(docs)
        .select("source", "doc_id", "n_tokens", "quality")
        .persist()
    )
    hist = q.groupBy("source", "quality").agg(F.sum("n_tokens").alias("toks"))
    wh = (
        Window.partitionBy("source")
        .orderBy(F.col("quality").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # cut = lowest quality level still reachable by the greedy fill:
    # keep levels whose cumulative tokens from the top, EXCLUDING the
    # level itself, are <= budget (<=, not <: a ZERO-token doc at a
    # level where the preceding sum equals the budget exactly is still
    # selected by the naive rule); the per-source min of those is the
    # cut. Any doc below it has cum_including > budget — unreachable.
    # |sources| rows: a model-sized driver collect, compiled back as a
    # literal map (broadcast-a-model; also materializes the q cache so
    # the survivors pass below reuses it instead of re-scoring).
    cuts = (
        hist.withColumn("cum_before", F.sum("toks").over(wh) - F.col("toks"))
        .filter(F.col("cum_before") <= budget)
        .groupBy("source")
        .agg(F.min("quality").alias("q_cut"))
        .collect()
    )
    if cuts:
        cut_map = F.create_map(
            *[x for r in cuts for x in (F.lit(r["source"]), F.lit(r["q_cut"]))]
        )
        survivors = q.filter(F.col("quality") >= cut_map[F.col("source")])
    else:
        # empty corpus: no cut levels -> empty selection; create_map()
        # with zero entries compiles to a VOID-typed map Catalyst
        # rejects (round-6 empty-input sweep)
        survivors = q.filter(F.lit(False))
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("quality").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        survivors.withColumn("cum_tokens", F.sum("n_tokens").over(w).cast("long"))
        .filter(F.col("cum_tokens") <= budget)
        .select(
            "source",
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            "quality",
            "cum_tokens",
        )
    )
    return q, out


@_q(
    "outlier_mad_orders",
    """
    WITH v AS (
      SELECT o_orderpriority AS grp, o_orderkey AS id,
             CAST(round(o_totalprice * 100) AS BIGINT) AS x
      FROM orders
    ),
    ranked AS (
      SELECT grp, id, x,
             row_number() OVER (PARTITION BY grp ORDER BY x, id) AS rn,
             count(*) OVER (PARTITION BY grp) AS n
      FROM v
    ),
    med AS (
      SELECT grp, x AS med FROM ranked WHERE rn = (n + 1) // 2
    ),
    dev AS (
      SELECT v.grp, v.id, abs(v.x - m.med) AS d, m.med
      FROM v JOIN med m ON m.grp = v.grp
    ),
    dranked AS (
      SELECT grp, d, med,
             row_number() OVER (PARTITION BY grp ORDER BY d, id) AS rn,
             count(*) OVER (PARTITION BY grp) AS n
      FROM dev
    ),
    mad AS (
      SELECT grp, med, d AS mad FROM dranked WHERE rn = (n + 1) // 2
    )
    SELECT dev.grp AS o_orderpriority,
           CAST(mad.med AS BIGINT) AS median_cents,
           CAST(mad.mad AS BIGINT) AS mad_cents,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN dev.d > 3 * mad.mad THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers
    FROM dev JOIN mad ON mad.grp = dev.grp
    GROUP BY dev.grp, mad.med, mad.mad
    """,
)
def outlier_mad_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per order priority: median and MAD
    (median absolute deviation) of the order total, then the count of
    orders deviating more than 3 MAD — the Hampel-style robust z-score
    rule (median/MAD replacing mean/stddev) that survives the heavy
    tails a 3-sigma filter breaks on: MAD has a 50% breakdown point
    where the stddev's is 0 (a standard data-quality screen before
    aggregate-based pricing analytics).

    Exactness across engines: medians are RANK-BASED on integer cents
    (the lower median, row_number == (n+1)//2 under (value, id) order)
    — no interpolated-quantile semantics to reconcile between Spark and
    DuckDB, every comparison is integer. Plan: two keyed window passes
    (rank + count per group) and two broadcast-sized joins (|groups|
    rows of medians/MADs); the per-group sort is the sessionization
    cost class, and a dominant group is the usual salting candidate.
    Degenerate groups (n=1) get MAD 0 and zero outliers — same on both
    engines by the rank definition."""
    orders = load_table(spark, "orders", sf_dir)
    v = orders.select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_orderkey").alias("id"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("x"),
    )
    wr = Window.partitionBy("grp").orderBy("x", "id")
    wn = Window.partitionBy("grp")
    med = (
        v.withColumn("rn", F.row_number().over(wr))
        .withColumn("n", F.count("*").over(wn))
        .filter(F.col("rn") == F.floor((F.col("n") + 1) / 2))
        .select("grp", F.col("x").alias("med"))
    )
    dev = v.join(F.broadcast(med), "grp").select(
        "grp", "id", F.abs(F.col("x") - F.col("med")).alias("d"), "med"
    )
    wd = Window.partitionBy("grp").orderBy("d", "id")
    mad = (
        dev.withColumn("rn", F.row_number().over(wd))
        .withColumn("n", F.count("*").over(wn))
        .filter(F.col("rn") == F.floor((F.col("n") + 1) / 2))
        .select("grp", "med", F.col("d").alias("mad"))
    )
    return (
        dev.join(F.broadcast(mad.select("grp", "mad")), "grp")
        .groupBy("grp")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(
                F.when(F.col("d") > 3 * F.col("mad"), 1).otherwise(0)
            ).cast("long").alias("n_outliers"),
        )
        .join(F.broadcast(mad), "grp")
        .select(
            F.col("grp").alias("o_orderpriority"),
            F.col("med").cast("long").alias("median_cents"),
            F.col("mad").cast("long").alias("mad_cents"),
            "n_orders",
            "n_outliers",
        )
    )


@_q(
    "winsorized_stats_events",
    """
    WITH v AS (
      SELECT event_type AS grp,
             CAST(round(value * 100) AS BIGINT) AS x
      FROM events
    ),
    ranked AS (
      SELECT grp, x,
             CAST(row_number() OVER (PARTITION BY grp ORDER BY x) AS BIGINT) AS rn,
             CAST(count(*) OVER (PARTITION BY grp) AS BIGINT) AS n
      FROM v
    ),
    bounds AS (
      SELECT grp,
             min(CASE WHEN rn = (5 * n + 99) // 100 THEN x END) AS lo,
             min(CASE WHEN rn = (95 * n + 99) // 100 THEN x END) AS hi
      FROM ranked GROUP BY grp
    )
    SELECT v.grp AS event_type,
           CAST(count(*) AS BIGINT) AS n,
           b.lo AS p05_cents, b.hi AS p95_cents,
           CAST(sum(least(greatest(v.x, b.lo), b.hi)) AS BIGINT)
             AS wins_sum_cents,
           round(sum(least(greatest(v.x, b.lo), b.hi)) / count(*) / 100.0, 6)
             AS wins_mean,
           CAST(sum(CASE WHEN v.x < b.lo THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_lo,
           CAST(sum(CASE WHEN v.x > b.hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_hi
    FROM v JOIN bounds b USING (grp)
    GROUP BY v.grp, b.lo, b.hi
    """,
)
def winsorized_stats_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (5%/95%-clipped) robust mean of event value per event
    type — the tail-tolerant location estimate quality dashboards use
    when a handful of malformed records would drag a plain mean (the
    soft sibling of outlier_mad_orders' reject rule: clip, don't drop).

    Exactness across engines: the clip bounds are RANK-BASED on integer
    cents — the value at row_number ceil(0.05 n) / ceil(0.95 n) under
    per-group (value) order, computed with integer arithmetic
    ((5n+99)//100), never interpolated quantiles; the value at a rank is
    deterministic even under ties. Plan: ONE keyed window exchange
    (rank + count share the same partition key), a |groups|-row bounds
    frame broadcast back, and a map-side-combined final aggregate — the
    same two-pass shape as outlier_mad_orders; a dominant event type is
    the usual salting candidate at 100 TB."""
    ev = load_table(spark, "events", sf_dir)
    v = ev.select(
        F.col("event_type").alias("grp"),
        F.round(F.col("value") * 100).cast("long").alias("x"),
    )
    wr = Window.partitionBy("grp").orderBy("x")
    wn = Window.partitionBy("grp")
    ranked = v.withColumn("rn", F.row_number().over(wr).cast("long")).withColumn(
        "n", F.count("*").over(wn)
    )
    k_lo = F.floor((5 * F.col("n") + 99) / 100)
    k_hi = F.floor((95 * F.col("n") + 99) / 100)
    bounds = (
        ranked.filter((F.col("rn") == k_lo) | (F.col("rn") == k_hi))
        .groupBy("grp")
        .agg(
            F.min(F.when(F.col("rn") == k_lo, F.col("x"))).alias("lo"),
            F.min(F.when(F.col("rn") == k_hi, F.col("x"))).alias("hi"),
        )
    )
    clipped = v.join(F.broadcast(bounds), "grp").withColumn(
        "cx", F.least(F.greatest(F.col("x"), F.col("lo")), F.col("hi"))
    )
    return (
        clipped.groupBy("grp", "lo", "hi")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("cx").cast("long").alias("wins_sum_cents"),
            F.round(F.sum("cx") / F.count("*") / 100.0, 6).alias("wins_mean"),
            F.sum(F.when(F.col("x") < F.col("lo"), 1).otherwise(0))
            .cast("long")
            .alias("n_clipped_lo"),
            F.sum(F.when(F.col("x") > F.col("hi"), 1).otherwise(0))
            .cast("long")
            .alias("n_clipped_hi"),
        )
        .select(
            F.col("grp").alias("event_type"),
            "n",
            F.col("lo").alias("p05_cents"),
            F.col("hi").alias("p95_cents"),
            "wins_sum_cents",
            "wins_mean",
            "n_clipped_lo",
            "n_clipped_hi",
        )
    )


@_q(
    "scd2_user_state_history",
    """
    WITH ordered AS (
      SELECT user_id, event_id, event_type AS state,
             CAST(epoch_us(ts) AS BIGINT) AS ts_us,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_state
      FROM events
    ),
    changes AS (
      SELECT user_id, event_id, state, ts_us FROM ordered
      WHERE prev_state IS NULL OR prev_state <> state
    )
    SELECT user_id, state,
           ts_us AS valid_from_us,
           lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
             AS valid_to_us
    FROM changes
    """,
)
def scd2_user_state_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 historization: compress each user's event stream into
    validity intervals of their state (event_type) — consecutive
    identical states collapse into one row, each carrying
    [valid_from, valid_to) with an open (NULL) end for the current
    state. The dimension-table construction warehouses pair with the
    SCD-1 MERGE (relational.merge_upsert) and the snapshot diff: this
    is how a change stream becomes a point-in-time-joinable history
    (the as-of join then serves "state AS OF t" lookups) — Kimball's
    slowly-changing-dimension type 2, built from a change stream
    instead of maintained row-by-row.

    Plan: two keyed windows over the SAME (user_id -> (ts, id)) sort —
    Catalyst reuses one exchange+sort for both (lag to detect changes,
    lead to close intervals) — plus a filter; no joins, no self-scan.
    Per-user state is one row of lookahead, the sessionization cost
    class; timestamps exported as epoch microseconds (engine-neutral
    integers)."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.select(
            "user_id",
            "event_id",
            F.col("event_type").alias("state"),
            F.unix_micros("ts").alias("ts_us"),
            F.lag("event_type").over(w).alias("prev_state"),
        )
        .filter(F.col("prev_state").isNull() | (F.col("prev_state") != F.col("state")))
    )
    # (ts_us, event_id) order: two changes can share a timestamp — the
    # id tie-break keeps interval chaining deterministic on both engines
    w2 = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return changes.select(
        "user_id",
        "state",
        F.col("ts_us").alias("valid_from_us"),
        F.lead("ts_us").over(w2).alias("valid_to_us"),
    )


@_q(
    "pit_enrich_events",
    """
    WITH ev AS (
      SELECT event_id, user_id, event_type,
             CAST(epoch_us(ts) AS BIGINT) AS ts_us
      FROM events
    ),
    dim_src AS (SELECT * FROM ev WHERE event_id % 2 = 0),
    ordered AS (
      SELECT user_id, event_id, event_type AS state, ts_us,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts_us, event_id) AS prev_state
      FROM dim_src
    ),
    changes AS (
      SELECT user_id, event_id, state, ts_us FROM ordered
      WHERE prev_state IS NULL OR prev_state <> state
    ),
    facts AS (SELECT event_id, user_id, ts_us FROM ev WHERE event_id % 2 = 1)
    SELECT f.event_id, f.user_id, f.ts_us,
           (SELECT c.state FROM changes c
            WHERE c.user_id = f.user_id AND c.ts_us <= f.ts_us
            ORDER BY c.ts_us DESC, c.event_id DESC LIMIT 1) AS state_asof
    FROM facts f
    """,
)
def pit_enrich_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time enrichment — the warehouse correctness op SCD-2
    exists FOR: facts (odd event_ids) enriched with the dimension state
    (SCD-2-compressed even event stream) valid AS OF each fact's
    timestamp. No interval join: history + backward as-of join serve
    "state AS OF t" with ONE keyed exchange (relational.asof_join's
    union-and-carry), the linear plan that replaces the quadratic
    validity-range join at 100 TB. Equal-timestamp dimension changes are
    deduped to the max-event_id winner BEFORE the carry (the operator's
    (ts, side) sort does not order same-ts right rows among themselves),
    which matches the oracle's (ts DESC, event_id DESC) probe exactly.
    Oracle = correlated top-1 subquery per fact — the naive replayable
    form of the same semantics."""
    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "user_id", F.col("event_type"), F.unix_micros("ts").alias("ts_us")
    )
    dim_src = ev.filter(F.col("event_id") % 2 == 0)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    changes = (
        dim_src.select(
            "user_id",
            "event_id",
            F.col("event_type").alias("state"),
            "ts_us",
            F.lag("event_type").over(w).alias("prev_state"),
        )
        .filter(F.col("prev_state").isNull() | (F.col("prev_state") != F.col("state")))
        .drop("prev_state")
    )
    w_tie = Window.partitionBy("user_id", "ts_us").orderBy(F.col("event_id").desc())
    dim = (
        changes.withColumn("__rk", F.row_number().over(w_tie))
        .filter(F.col("__rk") == 1)
        .select("user_id", F.col("ts_us").alias("valid_from_us"), "state")
    )
    facts = ev.filter(F.col("event_id") % 2 == 1).select("event_id", "user_id", "ts_us")
    out = relational.asof_join(
        facts,
        dim,
        on=["user_id"],
        left_ts="ts_us",
        right_ts="valid_from_us",
        right_value_cols=["state"],
        how="left",
        direction="backward",
    )
    return out.select(
        "event_id", "user_id", "ts_us", F.col("state").alias("state_asof")
    )


@_q(
    "corpus_shuffle_order",
    """
    SELECT doc_id,
           CAST(row_number() OVER (
                  ORDER BY ('0x' || substr(md5('shuffle:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
                           doc_id) - 1 AS BIGINT) AS position
    FROM documents
    """,
)
def corpus_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus shuffle: every document gets its exact
    0-based position in the seeded-hash order — the reproducible
    training-order manifest (any worker can stream its slice in the
    same order every epoch, restarts included).

    The Spark side computes the EXACT global rank without a global sort
    (layout.global_order_positions): approx-quantile range boundaries
    over the hash (boundary quality only affects shard balance, never
    position correctness), map-side shard assignment, an S-row offset
    collect, and per-shard parallel (hash, id) windows. The oracle is
    the naive single-sort replay of the same (md5-portable hash, id)
    order — hash-equality proves the sharded prefix-sum decomposition
    reproduces the global sort exactly."""
    docs = load_table(spark, "documents", sf_dir)
    h = portable_hash64(F.concat(F.lit("shuffle:"), F.col("doc_id").cast("string")))
    return (
        layout.global_order_positions(
            docs.select("doc_id", h.alias("__h")), "__h", "doc_id", n_shards=16
        )
        .select("doc_id", "position")
    )


_BM25_QUERIES = [
    (1, ["spark", "join", "window"]),
    (2, ["hash", "table", "scan"]),
    (3, ["fast", "slow", "value"]),
]


@_q(
    "bm25_topk_docs",
    r"""
    WITH q(qid, term) AS (VALUES
      (1,'spark'),(1,'join'),(1,'window'),
      (2,'hash'),(2,'table'),(2,'scan'),
      (3,'fast'),(3,'slow'),(3,'value')),
    toks AS (
      SELECT doc_id,
             len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS dl,
             unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf, first(dl) AS dl
      FROM toks WHERE term IN (SELECT term FROM q)
      GROUP BY doc_id, term
    ),
    stats AS (
      SELECT count(*) AS n_docs,
             sum(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))) * 1.0
               / count(*) AS avgdl
      FROM documents
    ),
    dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    contrib AS (
      SELECT q.qid, tf.doc_id,
             CAST(round(
               ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
               * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
               * 1000000.0
             ) AS BIGINT) AS w6
      FROM tf JOIN dft USING (term) CROSS JOIN stats JOIN q ON q.term = tf.term
    ),
    perdoc AS (SELECT qid, doc_id, sum(w6) AS s6 FROM contrib GROUP BY qid, doc_id)
    SELECT qid, doc_id, CAST(rank AS INT) AS rank, s6 / 1000000.0 AS score FROM (
      SELECT qid, doc_id, s6,
             row_number() OVER (PARTITION BY qid ORDER BY s6 DESC, doc_id) AS rank
      FROM perdoc)
    WHERE rank <= 10
    """,
)
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 retrieval for three fixed term queries over the
    documents corpus (operators.text.bm25_topk) — the mining counterpart
    of contamination(): rank the corpus by topical relevance for
    targeted curation / eval-set construction. Corpus-side stats stay
    distributed (one vocab-filtered tf shuffle + a scalar (N, avgdl)
    aggregate + a |vocab|-bounded df broadcast); per-term contributions
    are integer-scaled and summed as BIGINTs so the score is
    addition-order-free in both engines, and the rank sorts the scaled
    integer with doc_id ties. avgdl = sum(int lengths)/count is one
    exact-integer division, identical everywhere."""
    docs = load_table(spark, "documents", sf_dir)
    return text.bm25_topk(docs, _BM25_QUERIES, k=10)


@_q(
    "weighted_sample_per_source",
    f"""
    WITH s AS (
      SELECT source, doc_id, n_chars,
             ln(({_SQL_HASH64.format(x="'wsample:' || CAST(doc_id AS VARCHAR)")} + 1)::DOUBLE
                / 1152921504606846976.0) / CAST(n_chars AS DOUBLE) AS k
      FROM documents WHERE n_chars > 0
    )
    SELECT source, doc_id, CAST(rank AS INT) AS rank, n_chars FROM (
      SELECT source, doc_id, n_chars,
             row_number() OVER (PARTITION BY source ORDER BY k DESC, doc_id) AS rank
      FROM s)
    WHERE rank <= 20
    """,
)
def weighted_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, per source domain:
    Efraimidis-Spirakis A-ES keys (IPL 2006) — each doc draws
    u = (h64+1)/2^60 from the portable hash and ranks by ln(u)/w with
    w = n_chars, so inclusion probability is proportional-to-size
    without replacement and the draw is a pure deterministic projection
    (reproducible across engines AND across reruns: the seed is the
    hash salt). The per-source top-20 compiles to WindowGroupLimit —
    each map task keeps a 20-row heap per source, so a 100 TB corpus
    streams through one projection plus a source-keyed exchange of
    20 x |sources| survivors. Output carries no floating-point column;
    the ln-key only ORDERS, and keys of distinct 60-bit hashes are
    never within libm-ULP of each other."""
    docs = load_table(spark, "documents", sf_dir).filter(F.col("n_chars") > 0)
    u = (
        portable_hash64(
            F.concat(F.lit("wsample:"), F.col("doc_id").cast("string"))
        )
        + F.lit(1)
    ).cast("double") / F.lit(float(1 << 60))
    key = F.log(u) / F.col("n_chars").cast("double")
    w = Window.partitionBy("source").orderBy(F.col("__k").desc(), F.col("doc_id"))
    return (
        docs.select("source", "doc_id", "n_chars", key.alias("__k"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
        .select("source", "doc_id", "rank", "n_chars")
    )


@_q(
    "psi_drift_orders",
    """
    WITH c AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))
                  AS BIGINT) % 2 AS grp
      FROM orders
    ),
    ref AS (SELECT cents FROM c WHERE grp = 0),
    nref AS (SELECT count(*) AS n FROM ref),
    ranked AS (SELECT cents, row_number() OVER (ORDER BY cents) AS rk FROM ref),
    ks AS (SELECT unnest(generate_series(1, 9)) AS k),
    bounds AS (
      SELECT k, (SELECT cents FROM ranked, nref
                 WHERE rk = greatest(1, (nref.n * k) // 10)) AS b
      FROM ks
    ),
    binned AS (
      SELECT grp,
             CAST((SELECT count(*) FROM bounds b WHERE b.b < c.cents) AS INT)
               AS bin
      FROM c
    ),
    cnt AS (
      SELECT bin,
             sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS n_ref,
             sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS n_cur
      FROM binned GROUP BY bin
    ),
    tot AS (SELECT sum(n_ref) AS tr, sum(n_cur) AS tc FROM cnt),
    terms AS (
      SELECT bin, CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
             round((CAST(n_ref + 1 AS DOUBLE) / CAST(tr + 10 AS DOUBLE)
                    - CAST(n_cur + 1 AS DOUBLE) / CAST(tc + 10 AS DOUBLE))
                   * ln((CAST(n_ref + 1 AS DOUBLE) / CAST(tr + 10 AS DOUBLE))
                        / (CAST(n_cur + 1 AS DOUBLE) / CAST(tc + 10 AS DOUBLE))),
                   9) AS psi_term
      FROM cnt, tot
    )
    SELECT * FROM terms
    UNION ALL
    SELECT -1, CAST(sum(n_ref) AS BIGINT), CAST(sum(n_cur) AS BIGINT),
           round(sum(psi_term), 9)
    FROM terms
    """,
)
def psi_drift_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two hash-split halves of the
    order-value distribution — the standard production drift monitor for
    a feature/score column (PSI < 0.1 stable, > 0.25 drifted). Reference
    decile edges come from layout.exact_range_boundaries on the
    reference half (EXACT multiset ranks — the same engine-replayable
    definition range_shard_manifest pins), both halves are binned
    map-side against the 9 broadcast literals, and the PSI terms use
    add-one smoothing so an empty current bin stays finite. Determinism:
    counts are exact integers, each term is one fixed double sequence
    (ln is ~1 ulp across libms, far inside the harness's round-9), and
    the bin=-1 total row sums 10 rounded terms. Plan: one portable-hash
    projection, the histogram boundary pass, a zero-shuffle bin stamp,
    and one 10-row aggregate — no global sort, no data-sized collect."""
    orders = load_table(spark, "orders", sf_dir)
    c = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        (portable_hash64(F.col("o_orderkey").cast("string")) % 2).alias(
            "grp"
        ),
    )
    bounds = layout.exact_range_boundaries(
        c.filter(F.col("grp") == 0), "cents", 10
    )
    binned = c.withColumn("bin", layout.shard_expr("cents", bounds))
    cnt = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("n_cur"),
    )
    tot = cnt.agg(
        F.sum("n_ref").alias("tr"), F.sum("n_cur").alias("tc")
    )
    p = (F.col("n_ref") + 1).cast("double") / (F.col("tr") + 10).cast("double")
    q = (F.col("n_cur") + 1).cast("double") / (F.col("tc") + 10).cast("double")
    terms = cnt.crossJoin(F.broadcast(tot)).select(
        "bin",
        F.col("n_ref").cast("long").alias("n_ref"),
        F.col("n_cur").cast("long").alias("n_cur"),
        F.round((p - q) * F.log(p / q), 9).alias("psi_term"),
    )
    total = terms.agg(
        F.lit(-1).cast("int").alias("bin"),
        F.sum("n_ref").alias("n_ref"),
        F.sum("n_cur").alias("n_cur"),
        F.round(F.sum("psi_term"), 9).alias("psi_term"),
    )
    return terms.unionByName(total)


@_q(
    "welch_ttest_segments",
    """
    WITH j AS (
      SELECT c.c_mktsegment AS segment,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    m AS (
      SELECT segment, count(*) AS n,
             sum(CAST(cents AS DECIMAL(38,0))) AS s1,
             sum(CAST(cents AS DECIMAL(38,0)) * CAST(cents AS DECIMAL(38,0)))
               AS s2
      FROM j GROUP BY segment
    ),
    t AS (SELECT sum(n) AS tn, sum(s1) AS ts1, sum(s2) AS ts2 FROM m)
    SELECT segment, CAST(n AS BIGINT) AS n,
           round(CAST(s1 AS DOUBLE) / n / 100.0, 4) AS mean_dollars,
           round((CAST(s1 AS DOUBLE) / n - CAST(ts1 - s1 AS DOUBLE) / (tn - n))
                 / sqrt(
                     ((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
                         * CAST(s1 AS DOUBLE) / n) / (n - 1)) / n
                     + ((CAST(ts2 - s2 AS DOUBLE) - CAST(ts1 - s1 AS DOUBLE)
                         * CAST(ts1 - s1 AS DOUBLE) / (tn - n)) / (tn - n - 1))
                       / (tn - n)),
                 6) AS t_stat
    FROM m, t
    """,
)
def welch_ttest_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-statistic for each market segment's
    order value against the rest of the population — the A/B-test /
    cohort-difference primitive. One join + one grouped moment pass;
    the complement's moments are (total - segment), so the 'rest' side
    costs a 1-row broadcast, not a second scan. Exactness: moments
    accumulate in DECIMAL(38,0) (cents² sums overflow BIGINT past ~1e4
    rows at these magnitudes — sf0.01 already would), the exact
    integers cast to double once, and the t-statistic is a fixed
    double-op sequence identical in both engines; round(6) absorbs the
    sub-ulp. Plan: broadcast-joined dim, map-side-combined agg, 1-row
    total broadcast — no window, no sort."""
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    j = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    ).select(F.col("c_mktsegment").alias("segment"), cents.alias("cents"))
    dec = F.col("cents").cast("decimal(38,0)")
    m = j.groupBy("segment").agg(
        F.count("*").alias("n"),
        F.sum(dec).alias("s1"),
        F.sum(dec * dec).alias("s2"),
    )
    t = m.agg(
        F.sum("n").alias("tn"),
        F.sum("s1").alias("ts1"),
        F.sum("s2").alias("ts2"),
    )
    n, tn = F.col("n"), F.col("tn")
    s1d, s2d = F.col("s1").cast("double"), F.col("s2").cast("double")
    rs1d = (F.col("ts1") - F.col("s1")).cast("double")
    rs2d = (F.col("ts2") - F.col("s2")).cast("double")
    v_seg = (s2d - s1d * s1d / n) / (n - 1)
    v_rest = (rs2d - rs1d * rs1d / (tn - n)) / (tn - n - 1)
    return m.crossJoin(F.broadcast(t)).select(
        "segment",
        n.cast("long").alias("n"),
        F.round(s1d / n / 100.0, 4).alias("mean_dollars"),
        F.round(
            (s1d / n - rs1d / (tn - n))
            / F.sqrt(v_seg / n + v_rest / (tn - n)),
            6,
        ).alias("t_stat"),
    )


@_q(
    "gini_spend_concentration",
    """
    WITH u AS (
      SELECT event_type, user_id,
             sum(CAST(round(value * 100) AS BIGINT)) AS cents
      FROM events WHERE event_type = 'purchase' OR event_type = 'view'
      GROUP BY event_type, user_id
    ),
    r AS (
      SELECT event_type, cents,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY cents, user_id) AS rk
      FROM u
    ),
    g AS (
      SELECT event_type, count(*) AS n,
             sum(CAST(cents AS DECIMAL(38,0))) AS s,
             sum(CAST(rk AS DECIMAL(38,0)) * CAST(cents AS DECIMAL(38,0)))
               AS rs
      FROM r GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_users,
           CAST(s AS BIGINT) AS total_cents,
           round((2.0 * CAST(rs AS DOUBLE) - CAST(n + 1 AS DOUBLE)
                  * CAST(s AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE)), 9) AS gini
    FROM g
    """,
)
def gini_spend_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user value concentration for the two
    monetised event families — the inequality / whale-concentration
    diagnostic (0 = uniform, ->1 = one user is the corpus). Rank-sum
    form G = (2·Σ rk·x - (n+1)·Σx) / (n·Σx) with rk = row_number by
    (cents, user_id): ties broken by id give a deterministic,
    engine-replayable value that equals the classic formula whenever
    values are distinct. Exactness: cents and ranks are integers,
    rk·x accumulates in DECIMAL(38,0) (rank×cents products overflow
    BIGINT at ~1e9 users), and the final expression is a fixed double
    sequence. Plan: map-side-combined per-(type,user) rollup, ONE keyed
    window exchange per event_type (rank), one bounded aggregate — the
    window never sees more than a type's user count, and the documented
    100 TB swap is the range-sharded exact rank of
    layout.global_order_positions, which this formula consumes
    unchanged."""
    ev = load_table(spark, "events", sf_dir)
    u = (
        ev.filter(F.col("event_type").isin("purchase", "view"))
        .select(
            "event_type",
            "user_id",
            F.round(F.col("value") * 100).cast("long").alias("c"),
        )
        .groupBy("event_type", "user_id")
        .agg(F.sum("c").alias("cents"))
    )
    w = Window.partitionBy("event_type").orderBy("cents", "user_id")
    r = u.withColumn("rk", F.row_number().over(w))
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    g = r.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(dec("cents")).alias("s"),
        F.sum(dec("rk") * dec("cents")).alias("rs"),
    )
    nd = F.col("n").cast("double")
    sd = F.col("s").cast("double")
    return g.select(
        "event_type",
        F.col("n").cast("long").alias("n_users"),
        F.col("s").cast("long").alias("total_cents"),
        F.round(
            (2.0 * F.col("rs").cast("double") - (nd + 1.0) * sd) / (nd * sd),
            9,
        ).alias("gini"),
    )


@_q(
    "kmv_user_overlap",
    """
    WITH sig AS (
      SELECT * FROM (
        SELECT event_type,
               h,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
        FROM (
          SELECT DISTINCT event_type,
                 CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                      AS BIGINT) AS h
          FROM events
        )
      ) WHERE rk <= 256
    ),
    pairs AS (
      SELECT a.event_type AS ga, b.event_type AS gb
      FROM (SELECT DISTINCT event_type FROM sig) a,
           (SELECT DISTINCT event_type FROM sig) b
      WHERE a.event_type < b.event_type
    ),
    merged AS (
      SELECT ga, gb, h,
             max(CASE WHEN event_type = ga THEN 1 ELSE 0 END) AS in_a,
             max(CASE WHEN event_type = gb THEN 1 ELSE 0 END) AS in_b
      FROM sig JOIN pairs ON event_type = ga OR event_type = gb
      GROUP BY ga, gb, h
    ),
    bottom AS (
      SELECT * FROM (
        SELECT ga, gb, h, in_a, in_b,
               row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS rk
        FROM merged
      ) WHERE rk <= 256
    ),
    agg AS (
      SELECT ga, gb, count(*) AS ku, max(h) AS hk,
             sum(in_a * in_b) AS n_both
      FROM bottom GROUP BY ga, gb
    )
    SELECT ga AS group_a, gb AS group_b, CAST(ku AS BIGINT) AS k_used,
           round(CASE WHEN ku < 256 THEN CAST(ku AS DOUBLE)
                      ELSE CAST(ku - 1 AS DOUBLE) * 1152921504606846976.0
                           / CAST(hk AS DOUBLE) END, 4) AS est_union,
           round(CAST(n_both AS DOUBLE) / CAST(ku AS DOUBLE), 6) AS est_jaccard,
           round((CASE WHEN ku < 256 THEN CAST(ku AS DOUBLE)
                       ELSE CAST(ku - 1 AS DOUBLE) * 1152921504606846976.0
                            / CAST(hk AS DOUBLE) END)
                 * CAST(n_both AS DOUBLE) / CAST(ku AS DOUBLE), 4)
             AS est_intersection
    FROM agg
    """,
)
def kmv_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (bottom-k theta) sketch audience-overlap estimates between
    every pair of event types: estimated distinct-user union,
    intersection, and Jaccard from 256-hash signatures — the sketch
    family whose set algebra supports INTERSECTIONS exactly-to-the-
    sketch, which HLL (hll_distinct_users) cannot. The distinct pass is
    one map-side-combined shuffle; the bottom-k compiles to
    WindowGroupLimit (each task ships only its local 256 smallest); the
    pair merge runs on |types|²·k signature rows — model data. Hashes
    are the md5-portable 60-bit family, so the oracle replays every
    estimate bit-for-bit (fixed double sequence, round 4/6). See
    sketch.kmv_signatures / kmv_pair_estimates."""
    ev = load_table(spark, "events", sf_dir)
    sigs = _sketch.kmv_signatures(ev, "event_type", "user_id", k=256)
    return _sketch.kmv_pair_estimates(sigs, "event_type", k=256)


@_q(
    "running_distinct_users",
    """
    WITH f AS (
      SELECT event_type, user_id,
             min(CAST(epoch(date_trunc('day', ts)) AS BIGINT)) AS first_day
      FROM events GROUP BY event_type, user_id
    ),
    d AS (
      SELECT event_type, first_day AS day, count(*) AS new_users
      FROM f GROUP BY event_type, first_day
    )
    SELECT event_type, day, CAST(new_users AS BIGINT) AS new_users,
           CAST(sum(new_users) OVER (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_users
    FROM d
    """,
)
def running_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per event type by day — the audience-
    growth curve. COUNT(DISTINCT) OVER a running frame is unsupported
    (and would be quadratic anyway); the scalable identity is
    first-seen decomposition: cumulative distinct == cumsum of
    first-appearance counts. Plan: one (type, user) min-day shuffle
    (map-side combined), one (type, day) count (map-side combined),
    and a window cumsum over the per-type DAY SERIES — tens of rows
    per type, never data-sized. Exact integers throughout."""
    ev = load_table(spark, "events", sf_dir)
    f = (
        ev.select(
            "event_type",
            "user_id",
            F.unix_timestamp(F.date_trunc("day", "ts")).alias("day"),
        )
        .groupBy("event_type", "user_id")
        .agg(F.min("day").alias("first_day"))
    )
    d = f.groupBy("event_type", F.col("first_day").alias("day")).agg(
        F.count("*").cast("long").alias("new_users")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return d.select(
        "event_type",
        "day",
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cum_users"),
    )


@_q(
    "event_trigram_topk",
    """
    WITH s AS (
      SELECT user_id, event_type,
             lead(event_type, 1) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS e1,
             lead(event_type, 2) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS e2
      FROM events
    ),
    g AS (
      SELECT event_type || '>' || e1 || '>' || e2 AS trigram,
             count(*) AS n
      FROM s WHERE e1 IS NOT NULL AND e2 IS NOT NULL
      GROUP BY 1
    )
    SELECT trigram, CAST(n AS BIGINT) AS n
    FROM g ORDER BY n DESC, trigram LIMIT 20
    """,
)
def event_trigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 consecutive event-type trigrams across all user journeys
    (ordered by ts with event_id tie-break) — the behavioral-sequence
    mining staple feeding next-action models and funnel design. Plan:
    ONE keyed window exchange per user (both leads share it), a
    map-side-combined trigram count whose reduce side is
    |types|³-bounded (≤ a few hundred rows), and a top-20 on that tiny
    frame — TakeOrderedAndProject, not a global sort of data. Fully
    deterministic: integer counts, lexicographic tie on the trigram."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("e1"),
        F.lead("event_type", 2).over(w).alias("e2"),
    ).filter(F.col("e1").isNotNull() & F.col("e2").isNotNull())
    g = s.groupBy(
        F.concat_ws(">", "event_type", "e1", "e2").alias("trigram")
    ).agg(F.count("*").cast("long").alias("n"))
    return g.orderBy(F.col("n").desc(), "trigram").limit(20)


@_q(
    "image_ahash_buckets",
    f"""
    WITH {_sql_doc_bytes(48)},
    g AS (
      SELECT doc_id, p.p AS p,
             ascii(substr(px, p.p * 3 + 1, 1))
             + ascii(substr(px, p.p * 3 + 2, 1))
             + ascii(substr(px, p.p * 3 + 3, 1)) AS gray
      FROM img, (SELECT unnest(generate_series(0, 15)) AS p) p
    ),
    t AS (
      SELECT doc_id, p, gray,
             sum(gray) OVER (PARTITION BY doc_id) AS total
      FROM g
    ),
    h AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN gray * 16 > total
                           THEN CAST(1 AS BIGINT) << p ELSE 0 END) AS BIGINT)
               AS ahash
      FROM t GROUP BY doc_id
    )
    SELECT doc_id, ahash,
           CAST(count(*) OVER (PARTITION BY ahash) AS BIGINT) AS bucket_n
    FROM h
    """,
)
def image_ahash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-duplicate detection over REAL decoded images:
    each document's first 48 bytes become a genuine 4x4 P6 PPM (the
    multimodal_resize_decoded fixture trick), multimodal.ahash_images
    decodes the pixels with the numpy PPM decoder and emits the
    average-hash fingerprint (bit i = pixel i strictly brighter than
    the image mean, integer cross-multiplied — no floats), and docs
    sharing a fingerprint form perceptual-dup buckets. At 100 TB this
    is ONE Arrow-batched decode projection + one groupBy on a 64-bit
    key — the cheapest possible image-dedup pass, with Hamming-banded
    joins (the simhash machinery) as the documented near-miss upgrade.
    The oracle rebuilds every bit with ascii(substr()) arithmetic —
    chars == bytes enforced structurally on both sides (the
    ASCII guard: Spark keeps 48-byte encodings, the oracle strlen=48)."""
    from ssp_spark.operators import multimodal as mm

    docs = _doc_prefix_bytes(spark, sf_dir, 48).select(
        "doc_id", F.concat(F.lit(b"P6\n4 4\n255\n"), F.col("px")).alias("data")
    )
    h = mm.ahash_images(docs, "doc_id", "data")
    w = Window.partitionBy("ahash")
    return h.select(
        F.col("media_id").alias("doc_id"),
        "ahash",
        F.count("*").over(w).cast("long").alias("bucket_n"),
    )


@_q(
    "exact_percentiles_events",
    """
    WITH v AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    hist AS (
      SELECT event_type, cents, count(*) AS c FROM v GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, cents, c,
             sum(c) OVER (PARTITION BY event_type ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc,
             sum(c) OVER (PARTITION BY event_type) AS n
      FROM hist
    )
    SELECT event_type, CAST(max(n) AS BIGINT) AS n,
           min(CASE WHEN cc >= (n * 50 + 99) // 100 THEN cents END) AS p50_cents,
           min(CASE WHEN cc >= (n * 90 + 99) // 100 THEN cents END) AS p90_cents,
           min(CASE WHEN cc >= (n * 99 + 99) // 100 THEN cents END) AS p99_cents
    FROM cum GROUP BY event_type
    """,
)
def exact_percentiles_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT nearest-rank percentiles (p50/p90/p99) of event value per
    type WITHOUT a per-row sort: aggregate to the (type, cents)
    HISTOGRAM first (one map-side-combined shuffle), then run the
    cumulative window over histogram rows — |distinct values| per type,
    orders of magnitude below row count at any scale (the
    range_shard_manifest / winsorize argument). The nearest-rank
    definition (smallest value whose cumulative count reaches
    ceil(n·p/100)) is pure integer arithmetic, so both engines agree
    bit-for-bit — no interpolation semantics to reconcile, the exact
    complement to the approx_percentile_value sketch query."""
    ev = load_table(spark, "events", sf_dir)
    hist = (
        ev.select(
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("event_type", "cents")
        .agg(F.count("*").alias("c"))
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy("event_type")
    cum = hist.select(
        "event_type",
        "cents",
        F.sum("c").over(wc).alias("cc"),
        F.sum("c").over(wn).alias("n"),
    )

    def pick(p: int) -> F.Column:
        r = F.expr(f"(n * {p} + 99) div 100")
        return F.min(F.when(F.col("cc") >= r, F.col("cents"))).alias(
            f"p{p}_cents"
        )

    return cum.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"), pick(50), pick(90), pick(99)
    )


@_q(
    "lexical_richness",
    r"""
    WITH w AS (
      SELECT source,
             unnest(list_filter(regexp_split_to_array(text, '\s+'),
                                x -> x <> '')) AS word
      FROM documents
    ),
    c AS (SELECT source, word, count(*) AS cnt FROM w GROUP BY 1, 2)
    SELECT source,
           CAST(sum(cnt) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hapax,
           CAST(count(*) * 1000000 // sum(cnt) AS BIGINT) AS ttr_e6
    FROM c GROUP BY source
    """,
)
def lexical_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexical-richness profile: token count, vocabulary
    size, hapax legomena (single-occurrence types — the classic
    machine-generated-vs-natural discriminator), and the type-token
    ratio as exact integer millionths. Low TTR / low hapax share flags
    template spam and boilerplate; a complement to char_entropy_docs
    (character level) and vocab_coverage (global frequency rank). Plan:
    one (source, word) map-side-combined shuffle — the word_count plan
    keyed by source — then a source-sized rollup; ttr_e6 is BIGINT
    floor division, exact in any engine and summation order."""
    docs = load_table(spark, "documents", sf_dir)
    c = (
        docs.select("source", F.explode(tokens("text")).alias("word"))
        .groupBy("source", "word")
        .agg(F.count("*").alias("cnt"))
    )
    return c.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
        F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_hapax"),
        F.expr("CAST(count(1) * 1000000 div sum(cnt) AS BIGINT)").alias(
            "ttr_e6"
        ),
    )


# ---------------------------------------------------------------------------
# Round 7: skyline, seasonal anomaly, association rules, eval splits
# ---------------------------------------------------------------------------


@_q(
    "skyline_pareto_parts",
    """
    WITH p AS (
      SELECT p_partkey,
             CAST(round(p_retailprice * 100) AS BIGINT) AS cents,
             CAST(p_size AS BIGINT) AS size
      FROM part
    )
    SELECT a.p_partkey, a.cents, a.size
    FROM p a
    WHERE NOT EXISTS (
      SELECT 1 FROM p b
      WHERE b.cents <= a.cents AND b.size >= a.size
        AND (b.cents < a.cents OR b.size > a.size)
    )
    """,
)
def skyline_pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto frontier) over parts: minimize price, maximize
    size — the multi-criteria shortlist operator (Borzsony et al.,
    ICDE'01). The oracle is the textbook NOT EXISTS dominance anti-join
    (O(n²), fine at sf0.01); the Spark plan is the distributed 2-D
    skyline: range-shard on price (layout.exact_range_boundaries, so
    equal prices never straddle shards), per-shard prefix-max windows
    ordered by price (RANGE frames: strict for the price< test,
    inclusive for price<=), and a shard-level carry-in — the max size
    of all strictly-cheaper shards, a |shards|-row model artifact
    broadcast back in. No global sort, no all-pairs join: one range
    shuffle + shard-local windows, the plan that survives 100 TB
    (dominance at shard granularity is resolved by 32 numbers)."""
    parts = load_table(spark, "part", sf_dir).select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("cents"),
        F.col("p_size").cast("long").alias("size"),
    )
    return relational.skyline_min_max(parts, minimize="cents", maximize="size")


@_q(
    "anomaly_dow_events",
    """
    WITH daily AS (
      SELECT event_type,
             CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    base AS (
      SELECT event_type, (d // 86400 + 4) % 7 AS dow,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c) AS BIGINT) AS s1,
             CAST(sum(c * c) AS BIGINT) AS s2
      FROM daily GROUP BY 1, 2
    ),
    scored AS (
      SELECT daily.event_type, d, c,
             (CAST(c AS DOUBLE) - CAST(s1 AS DOUBLE) / n)
               / sqrt((CAST(s2 AS DOUBLE)
                       - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
                      / (n - 1)) AS z
      FROM daily
      JOIN base ON base.event_type = daily.event_type
               AND base.dow = (daily.d // 86400 + 4) % 7
      WHERE n >= 4
        AND CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n
              > 0
    )
    SELECT event_type, d, c, round(z, 6) AS z
    FROM (SELECT *, row_number()
                      OVER (PARTITION BY event_type ORDER BY abs(z) DESC, d)
                    AS rk
          FROM scored)
    WHERE rk <= 3
    """,
)
def anomaly_dow_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal (day-of-week) volume-anomaly detection: each
    (event_type, day) count is z-scored against that type's same-weekday
    baseline and the top-3 most anomalous days per type are surfaced —
    the standard ops monitor for ingest pipelines with weekly traffic
    periodicity (a fixed |z| gate returns nothing on this synthetic
    data's uniform volumes, so the operator reports the ranked
    candidates a production gate would threshold). Determinism: dow is
    pure integer arithmetic on the epoch day ((d/86400 + 4) % 7 —
    1970-01-01 was a Thursday — identical in both engines, dodging the
    engines' different dayofweek() origins), baseline moments are exact
    BIGINT sums (c² sums stay inside BIGINT up to ~3e9 events/day/type;
    switch s2 to DECIMAL past that), z is one fixed double-op sequence
    (bit-identical in both engines, so |z| ordering agrees; day
    tiebreak), rounded at 6dp only on output. Plan: one (type, day)
    map-side-combined count, a |types|×7 baseline broadcast back, and a
    per-type top-3 window Spark compiles to WindowGroupLimit — no
    global sort."""
    ev = load_table(spark, "events", sf_dir)
    daily = ev.groupBy(
        "event_type",
        F.unix_timestamp(F.date_trunc("day", "ts")).alias("d"),
    ).agg(F.count("*").cast("long").alias("c"))
    dow = (F.col("d") / 86400).cast("long") + 4
    daily = daily.withColumn("dow", dow % 7)
    base = daily.groupBy("event_type", "dow").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("c").cast("long").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"),
    )
    j = daily.join(F.broadcast(base), ["event_type", "dow"])
    mean = F.col("s1").cast("double") / F.col("n")
    var_num = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double") / F.col("n")
    )
    z = (F.col("c").cast("double") - mean) / F.sqrt(var_num / (F.col("n") - 1))
    scored = j.filter((F.col("n") >= 4) & (var_num > 0)).select(
        "event_type", "d", "c", z.alias("z")
    )
    w = Window.partitionBy("event_type").orderBy(F.abs("z").desc(), "d")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("event_type", "d", "c", F.round("z", 6).alias("z"))
    )


@_q(
    "assoc_rules_events",
    """
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    na AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_t
           FROM ut GROUP BY 1),
    nu AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n FROM ut),
    ab AS (
      SELECT a.event_type AS antecedent, b.event_type AS consequent,
             CAST(count(*) AS BIGINT) AS n_ab
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type <> b.event_type
      GROUP BY 1, 2
    )
    SELECT antecedent, consequent, n_ab,
           na1.n_t AS n_a, na2.n_t AS n_b,
           round(CAST(n_ab AS DOUBLE) / n, 6) AS support,
           round(CAST(n_ab AS DOUBLE) / na1.n_t, 6) AS confidence,
           round(CAST(n_ab AS DOUBLE) * CAST(n AS DOUBLE)
                 / (CAST(na1.n_t AS DOUBLE) * CAST(na2.n_t AS DOUBLE)),
                 6) AS lift
    FROM ab
    JOIN na na1 ON na1.event_type = antecedent
    JOIN na na2 ON na2.event_type = consequent
    CROSS JOIN nu
    WHERE CAST(n_ab AS DOUBLE) / n >= 0.05
    """,
)
def assoc_rules_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules A -> B over per-user event-type baskets:
    support, confidence, lift (Agrawal/Srikant Apriori's rule stage),
    min-support 5% — the market-basket / co-usage mining primitive.
    Exactness: every count is an integer; each ratio is a single fixed
    double expression rounded at 6dp. Plan: one distinct shuffle to
    (user, type) baskets, a user-keyed pair join whose width is the
    per-user basket size (bounded by |event types|, NOT by events — the
    same per-key-bounded blowup contract as event_pair_cooccurrence),
    then |types|-sized dimension joins broadcast and a 1-row universe
    count cross-joined. At 100 TB the only data-sized exchange is the
    distinct; salts are unnecessary because baskets, not events, join."""
    ev = load_table(spark, "events", sf_dir)
    ut = ev.select("user_id", "event_type").distinct()
    na = ut.groupBy("event_type").agg(F.count("*").cast("long").alias("n_t"))
    nu = ut.agg(
        F.countDistinct("user_id").cast("long").alias("n")
    )
    a, b = ut.alias("a"), ut.alias("b")
    ab = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") != F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("antecedent"),
            F.col("b.event_type").alias("consequent"),
        )
        .agg(F.count("*").cast("long").alias("n_ab"))
    )
    na1 = na.select(
        F.col("event_type").alias("antecedent"), F.col("n_t").alias("n_a")
    )
    na2 = na.select(
        F.col("event_type").alias("consequent"), F.col("n_t").alias("n_b")
    )
    j = (
        ab.join(F.broadcast(na1), "antecedent")
        .join(F.broadcast(na2), "consequent")
        .crossJoin(F.broadcast(nu))
    )
    d_ab = F.col("n_ab").cast("double")
    support = d_ab / F.col("n")
    return (
        j.filter(support >= 0.05)
        .select(
            "antecedent",
            "consequent",
            "n_ab",
            "n_a",
            "n_b",
            F.round(support, 6).alias("support"),
            F.round(d_ab / F.col("n_a"), 6).alias("confidence"),
            F.round(
                d_ab
                * F.col("n").cast("double")
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double")),
                6,
            ).alias("lift"),
        )
    )


@_q(
    "stratified_kfold_embeddings",
    """
    WITH h AS (
      SELECT label,
             CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
                  AS BIGINT) AS hv,
             vec_id
      FROM embeddings
    ),
    f AS (
      SELECT label,
             (row_number() OVER (PARTITION BY label ORDER BY hv, vec_id)
              - 1) % 5 AS fold
      FROM h
    )
    SELECT CAST(label AS INT) AS label, CAST(fold AS INT) AS fold,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM f GROUP BY 1, 2
    """,
)
def stratified_kfold_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified k-fold assignment (k=5) for evaluation
    splits: within each label, rows are ordered by a portable hash (a
    seeded shuffle both engines replay) and dealt round-robin, so every
    fold holds an exact 1/k of each class — the leakage-free
    cross-validation split (hash-mod folds only approximate class
    balance; ranked dealing is exact). Returned as the label × fold
    census the split consumer audits. Plan: one window per label
    partition (rank over ~n/|labels| rows — salt-range the rank via
    layout.global_order_positions if a single class outgrows an
    executor), then a map-side-combined count."""
    emb = load_table(spark, "embeddings", sf_dir)
    h = emb.select(
        "label",
        portable_hash64(F.col("vec_id").cast("string")).alias("hv"),
        "vec_id",
    )
    w = Window.partitionBy("label").orderBy("hv", "vec_id")
    f = h.select(
        "label", ((F.row_number().over(w) - 1) % 5).alias("fold")
    )
    return f.groupBy(
        F.col("label").cast("int").alias("label"),
        F.col("fold").cast("int").alias("fold"),
    ).agg(F.count("*").cast("long").alias("n_rows"))


@_q(
    "holt_trend_user_spend",
    """
    WITH RECURSIVE daily AS (
      SELECT user_id,
             CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ),
    seq AS (SELECT user_id, d, cents,
                   CAST(row_number() OVER (PARTITION BY user_id ORDER BY d) AS INT) AS t
            FROM daily),
    rec(key, t, x, l, b) AS (
      SELECT user_id, 1, cents, CAST(cents AS DOUBLE), CAST(0 AS DOUBLE)
      FROM seq WHERE t = 1
      UNION ALL
      SELECT s.user_id, s.t, s.cents,
             (s.cents + (r.l + r.b)) / 2,
             (((s.cents + (r.l + r.b)) / 2 - r.l) + 3 * r.b) / 4
      FROM rec r JOIN seq s ON s.user_id = r.key AND s.t = r.t + 1
    )
    SELECT key, t AS step, x AS value, round(l, 6) AS level,
           round(b, 6) AS trend, round(l + b, 6) AS forecast
    FROM rec
    """,
)
def holt_trend_user_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + trend, alpha=1/2,
    beta=1/4) of each user's daily purchase spend, with the
    one-step-ahead forecast — the trend-aware upgrade of
    ema_daily_user_spend, and a TWO-state keyed recurrence (trend feeds
    back into level) that neither window frames nor a single EMA pass
    can express. The dyadic smoothing constants make the fold one
    reproducible float64 op sequence; the oracle's recursive CTE steps
    the identical expressions carrying (l, b) unrounded, and output
    rounds 6dp with the sign-aware HALF_UP emulation (dyadic ties are
    reachable). Plan: the recurrence contract — one keyed exchange,
    Arrow-batched per-key fold, two scalars of state per key."""
    ev = load_table(spark, "events", sf_dir)
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(
            "user_id",
            F.unix_timestamp(F.date_trunc("day", "ts")).alias("d"),
        )
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    return recurrence.keyed_holt(daily, key="user_id", order="d", value="cents")


@_q(
    "time_split_embargo_events",
    """
    WITH e AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS t, user_id
               FROM events),
    n AS (SELECT count(*) AS n FROM e),
    rk AS (SELECT t, row_number() OVER (ORDER BY t) AS r FROM e),
    b AS (SELECT
      (SELECT t FROM rk, n WHERE r = greatest(1, (n.n * 8) // 10)) AS b80,
      (SELECT t FROM rk, n WHERE r = greatest(1, (n.n * 9) // 10)) AS b90),
    labeled AS (
      SELECT CASE WHEN t <= b80 THEN 'train'
                  WHEN t > b80 + 86400 AND t <= b90 THEN 'val'
                  WHEN t > b90 + 86400 THEN 'test'
                  ELSE 'embargoed' END AS split,
             t, user_id
      FROM e, b
    )
    SELECT split, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           min(t) AS min_t, max(t) AS max_t
    FROM labeled GROUP BY split
    """,
)
def time_split_embargo_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe temporal train/val/test split with a 1-day embargo:
    boundaries at the EXACT 80th/90th multiset-rank timestamps
    (layout.exact_range_boundaries — the engine-replayable quantile
    definition psi_drift_orders also pins), and rows inside the embargo
    window after each boundary are PURGED (reported as 'embargoed') so
    models trained on t <= b80 are never evaluated on samples whose
    features overlap the training horizon — the walk-forward backtest
    split (de Prado's purged k-fold, single-split form). Output is the
    per-split census (rows, users, time range) the split consumer
    audits. Plan: one histogram boundary pass, then a zero-shuffle
    map-side split stamp and one 4-row aggregate — no global sort."""
    ev = load_table(spark, "events", sf_dir)
    e = ev.select(
        F.unix_timestamp("ts").alias("t"), "user_id"
    )
    b = layout.exact_range_boundaries(e, "t", 10)
    # empty source -> zero split points (any n >= 1 yields all 9, see
    # the k-keyed probes in exact_range_boundaries); the census below
    # is the empty frame regardless, so stamp placeholders instead of
    # indexing into nothing (caught by the empty-input sweep, round 8)
    b80, b90 = (b[7], b[8]) if len(b) >= 9 else (0, 0)
    emb = 86400
    split = (
        F.when(F.col("t") <= b80, "train")
        .when((F.col("t") > b80 + emb) & (F.col("t") <= b90), "val")
        .when(F.col("t") > b90 + emb, "test")
        .otherwise("embargoed")
    )
    return (
        e.withColumn("split", split)
        .groupBy("split")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.min("t").alias("min_t"),
            F.max("t").alias("max_t"),
        )
    )


@_q(
    "containment_dedup_pairs",
    f"""
    WITH {_sql_shingles(4)},
    freq AS (SELECT sh, count(*) AS df_ FROM sh GROUP BY sh),
    kept AS (SELECT s.doc_id, s.sh FROM sh s JOIN freq USING (sh) WHERE df_ <= 50),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS shared
      FROM kept a JOIN kept b USING (sh)
      WHERE a.doc_id < b.doc_id GROUP BY 1, 2
    )
    SELECT id1, id2,
           round(shared / s1.n_sh, 6) AS containment_1_in_2,
           round(shared / s2.n_sh, 6) AS containment_2_in_1
    FROM pairs JOIN sizes s1 ON s1.doc_id = id1 JOIN sizes s2 ON s2.doc_id = id2
    WHERE shared / s1.n_sh >= 0.6 OR shared / s2.n_sh >= 0.6
    """,
)
def containment_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle-set containment pairs (|A∩B|/|A|, both
    directions) at threshold 0.6 — catches the near-SUPERSET duplicates
    Jaccard misses: a snippet quoted inside a much longer page has tiny
    Jaccard (page-sized union) but containment ~1, and curation drops
    the contained doc (Broder's containment / subsumed-duplicate rule).
    Shares jaccard_pairs' candidate core verbatim
    (operators.dedup._pair_shared_counts: inverted index in one
    shuffle, doc-freq cap 50 bounding the k² fan-out, packed-long pair
    keys, broadcast size lookups) — same 100 TB shape, different
    scoring ratio."""
    return dedup.containment_pairs(
        load_table(spark, "documents", sf_dir), n=4, threshold=0.6, max_doc_freq=50
    )


@_q(
    "token_freq_spectrum_docs",
    r"""
    WITH w AS (
      SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
                                x -> x <> '')) AS word
      FROM documents
    ),
    tf AS (SELECT word, CAST(count(*) AS BIGINT) AS f FROM w GROUP BY word),
    spec AS (SELECT f, CAST(count(*) AS BIGINT) AS n_types FROM tf GROUP BY f)
    SELECT f, n_types, f * n_types AS tokens_at_f,
           CAST(sum(f * n_types)
                  OVER (ORDER BY f DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_tokens_from_top
    FROM spec
    """,
)
def token_freq_spectrum_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token-frequency spectrum (frequency-of-frequencies): for
    each term frequency f, how many vocabulary types occur exactly f
    times and how much token mass they carry, plus the cumulative mass
    from the most frequent classes down — the Zipf/Heaps profile that
    drives vocabulary-size and min-frequency-cutoff decisions for
    tokenizer training, and the input to Good-Turing smoothing (the
    N_f table). All-integer, exact in any engine and summation order.
    Plan: one (word) map-side-combined count, one spectrum rollup; the
    cumulative window runs over the SPECTRUM, a model-sized frame
    (distinct frequency values — O(sqrt(total tokens)) by the standard
    Zipf argument, ~hundreds at any corpus size), the documented
    single-partition-window exception for model artifacts."""
    docs = load_table(spark, "documents", sf_dir)
    tf = (
        docs.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("f"))
    )
    spec = tf.groupBy("f").agg(F.count("*").cast("long").alias("n_types"))
    w = Window.orderBy(F.col("f").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return spec.select(
        "f",
        "n_types",
        (F.col("f") * F.col("n_types")).alias("tokens_at_f"),
        F.sum(F.col("f") * F.col("n_types"))
        .over(w)
        .cast("long")
        .alias("cum_tokens_from_top"),
    )


@_q(
    "ks_test_segments",
    """
    WITH j AS (
      SELECT c.c_mktsegment AS segment,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    seg_cnt AS (SELECT segment, cents, CAST(count(*) AS BIGINT) AS c
                FROM j GROUP BY 1, 2),
    all_cnt AS (SELECT cents, CAST(count(*) AS BIGINT) AS t
                FROM j GROUP BY 1),
    segs AS (SELECT segment, CAST(sum(c) AS BIGINT) AS n_s FROM seg_cnt
             GROUP BY 1),
    tot AS (SELECT CAST(sum(t) AS BIGINT) AS n FROM all_cnt),
    grid AS (
      SELECT s.segment, a.cents, a.t, coalesce(sc.c, 0) AS c
      FROM all_cnt a
      CROSS JOIN (SELECT DISTINCT segment FROM seg_cnt) s
      LEFT JOIN seg_cnt sc ON sc.segment = s.segment AND sc.cents = a.cents
    ),
    cum AS (
      SELECT segment, cents,
             sum(c) OVER (PARTITION BY segment ORDER BY cents
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_s,
             sum(t) OVER (PARTITION BY segment ORDER BY cents
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_all
      FROM grid
    )
    SELECT segment, n_s, n - n_s AS n_rest,
           CAST(max(abs(cum_s * (n - n_s) - (cum_all - cum_s) * n_s))
                AS BIGINT) AS d_num,
           round(CAST(max(abs(cum_s * (n - n_s) - (cum_all - cum_s) * n_s))
                      AS DOUBLE)
                 / (CAST(n_s AS DOUBLE) * (n - n_s)), 6) AS d_stat
    FROM cum JOIN segs USING (segment) CROSS JOIN tot
    GROUP BY segment, n_s, n
    """,
)
def ks_test_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov D for each market segment's order
    values against the rest of the population — the distribution-shape
    companion to welch_ttest_segments (mean shift) and psi_drift_orders
    (binned drift): D = sup |F_seg - F_rest| over the observed support.
    EXACT: the supremum is computed on the integer lattice —
    |cum_s·n_rest − cum_rest·n_s| is a BIGINT (the common denominator
    n_s·n_rest multiplied through), the max is over integers, and the
    one double division happens once per segment at output (products
    stay inside BIGINT for n < ~3e9 rows; switch to DECIMAL past that).
    Plan: one broadcast dim join, a (segment, cents) histogram shuffle,
    a |segments|-way replicated histogram with per-segment cumulative
    windows (keyed by segment — histogram-sized, not data-sized), and a
    |segments|-row output aggregate. No data-sized sort."""
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    j = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    ).select(
        F.col("c_mktsegment").alias("segment"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    seg_cnt = j.groupBy("segment", "cents").agg(
        F.count("*").cast("long").alias("c")
    )
    all_cnt = j.groupBy("cents").agg(F.count("*").cast("long").alias("t"))
    segs = seg_cnt.groupBy("segment").agg(
        F.sum("c").cast("long").alias("n_s")
    )
    tot = all_cnt.agg(F.sum("t").cast("long").alias("n"))
    grid = (
        all_cnt.crossJoin(F.broadcast(seg_cnt.select("segment").distinct()))
        .join(seg_cnt, ["segment", "cents"], "left")
        .fillna(0, subset=["c"])
    )
    w = (
        Window.partitionBy("segment")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = grid.select(
        "segment",
        "cents",
        F.sum("c").over(w).alias("cum_s"),
        F.sum("t").over(w).alias("cum_all"),
    )
    d_int = F.abs(
        F.col("cum_s") * (F.col("n") - F.col("n_s"))
        - (F.col("cum_all") - F.col("cum_s")) * F.col("n_s")
    )
    return (
        cum.join(F.broadcast(segs), "segment")
        .crossJoin(F.broadcast(tot))
        .groupBy("segment", "n_s", "n")
        .agg(F.max(d_int).cast("long").alias("d_num"))
        .select(
            "segment",
            "n_s",
            (F.col("n") - F.col("n_s")).alias("n_rest"),
            "d_num",
            F.round(
                F.col("d_num").cast("double")
                / (F.col("n_s").cast("double") * (F.col("n") - F.col("n_s"))),
                6,
            ).alias("d_stat"),
        )
    )


@_q(
    "rfm_customer_segments",
    """
    WITH o AS (
      SELECT o_custkey AS ck,
             CAST(epoch(date_trunc('day', o_orderdate)) AS BIGINT) AS d,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    mx AS (SELECT max(d) AS mxd FROM o),
    rfm AS (
      SELECT ck, (mxd - max(d)) // 86400 AS r,
             CAST(count(*) AS BIGINT) AS f,
             CAST(sum(cents) AS BIGINT) AS m
      FROM o, mx GROUP BY ck, mxd
    ),
    n AS (SELECT count(*) AS n FROM rfm),
    rb AS (SELECT r AS v, row_number() OVER (ORDER BY r) AS rk FROM rfm),
    fb AS (SELECT f AS v, row_number() OVER (ORDER BY f) AS rk FROM rfm),
    mb AS (SELECT m AS v, row_number() OVER (ORDER BY m) AS rk FROM rfm),
    ks AS (SELECT unnest(generate_series(1, 3)) AS k),
    rbs AS (SELECT k, (SELECT v FROM rb, n WHERE rk = greatest(1, (n.n * k) // 4)) AS b FROM ks),
    fbs AS (SELECT k, (SELECT v FROM fb, n WHERE rk = greatest(1, (n.n * k) // 4)) AS b FROM ks),
    mbs AS (SELECT k, (SELECT v FROM mb, n WHERE rk = greatest(1, (n.n * k) // 4)) AS b FROM ks),
    scored AS (
      SELECT CAST((SELECT count(*) FROM rbs WHERE b < r) + 1 AS INT) * 100
             + CAST((SELECT count(*) FROM fbs WHERE b < f) + 1 AS INT) * 10
             + CAST((SELECT count(*) FROM mbs WHERE b < m) + 1 AS INT)
               AS rfm_code,
             m
      FROM rfm
    )
    SELECT rfm_code, CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(m) AS BIGINT) AS sum_cents
    FROM scored GROUP BY rfm_code
    """,
)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation with
    rank-exact quartile scoring: each dimension's quartile edges come
    from layout.exact_range_boundaries (the engine-replayable multiset
    rank — NOT ntile, whose data-sized single-partition window is
    exactly what this avoids), each customer is binned map-side against
    3 broadcast literals per dimension, and the 3-digit code (recency
    hundreds, frequency tens, monetary units; bin 1 = lowest quartile
    of the raw value, so r=1 means MOST recent) is rolled up to the
    code census with total monetary value. Pure integers end to end.
    Plan: one orders->customer aggregate, three histogram boundary
    passes (model artifacts), a zero-shuffle triple bin stamp, one
    <=64-row rollup."""
    orders = load_table(spark, "orders", sf_dir)
    o = orders.select(
        F.col("o_custkey").alias("ck"),
        F.unix_timestamp(F.date_trunc("day", "o_orderdate")).alias("d"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    mxd = o.agg(F.max("d")).first()[0]
    rfm = o.groupBy("ck").agg(
        ((F.lit(mxd) - F.max("d")) / 86400).cast("long").alias("r"),
        F.count("*").cast("long").alias("f"),
        F.sum("cents").cast("long").alias("m"),
    )
    rfm = rfm.localCheckpoint()  # 3 boundary passes + the stamp read it
    code = F.lit(0)
    for col, weight in (("r", 100), ("f", 10), ("m", 1)):
        bounds = layout.exact_range_boundaries(rfm, col, 4)
        code = code + (layout.shard_expr(col, bounds) + 1) * weight
    return (
        rfm.select(code.cast("int").alias("rfm_code"), "m")
        .groupBy("rfm_code")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.sum("m").cast("long").alias("sum_cents"),
        )
    )


@_q(
    "seasonal_decompose_daily",
    """
    WITH daily AS (
      SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1
    ),
    dowm AS (
      SELECT (d // 86400 + 4) % 7 AS dow,
             CAST(count(*) AS BIGINT) AS n_dow,
             CAST(sum(cents) AS BIGINT) AS s_dow
      FROM daily GROUP BY 1
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_all,
                   CAST(sum(cents) AS BIGINT) AS s_all FROM daily),
    tr AS (
      SELECT d, cents,
             CASE WHEN count(*) OVER w7 = 7
                  THEN CAST(sum(cents) OVER w7 AS DOUBLE) / 7 END AS trend
      FROM daily
      WINDOW w7 AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    )
    SELECT tr.d, cents, round(trend, 6) AS trend,
           round(CAST(s_dow AS DOUBLE) / n_dow
                 - CAST(s_all AS DOUBLE) / n_all, 6) AS seasonal,
           round(cents - trend
                 - (CAST(s_dow AS DOUBLE) / n_dow
                    - CAST(s_all AS DOUBLE) / n_all), 6) AS residual
    FROM tr
    JOIN dowm ON dowm.dow = (tr.d // 86400 + 4) % 7
    CROSS JOIN tot
    """,
)
def seasonal_decompose_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition of the daily event-value series:
    trend = centered 7-day moving average (null at the edges — the
    window must hold exactly 7 observed days), seasonal = day-of-week
    mean minus the grand mean (both single divisions of exact BIGINT
    sums — no float accumulation anywhere), residual = value - trend -
    seasonal as one fixed double-op sequence. The classical-decomposition
    baseline every ingest-volume monitor starts from (anomaly_dow_events
    consumes the same dow structure as z-scores). Plan: one daily
    rollup, a 7-row dow model + 1-row total broadcast back, and the
    trend window over the DAILY SERIES — time-bounded (|days| rows at
    any data scale), the documented model-sized-window exception."""
    ev = load_table(spark, "events", sf_dir)
    daily = ev.groupBy(
        F.unix_timestamp(F.date_trunc("day", "ts")).alias("d")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    dow = ((F.col("d") / 86400).cast("long") + 4) % 7
    dowm = daily.groupBy(dow.alias("dow")).agg(
        F.count("*").cast("long").alias("n_dow"),
        F.sum("cents").cast("long").alias("s_dow"),
    )
    tot = daily.agg(
        F.count("*").cast("long").alias("n_all"),
        F.sum("cents").cast("long").alias("s_all"),
    )
    w7 = Window.orderBy("d").rowsBetween(-3, 3)
    tr = daily.select(
        "d",
        "cents",
        F.when(
            F.count("*").over(w7) == 7,
            F.sum("cents").over(w7).cast("double") / 7,
        ).alias("trend"),
    )
    seasonal = F.col("s_dow").cast("double") / F.col("n_dow") - F.col(
        "s_all"
    ).cast("double") / F.col("n_all")
    return (
        tr.withColumn("dow", dow)
        .join(F.broadcast(dowm), "dow")
        .crossJoin(F.broadcast(tot))
        .select(
            "d",
            "cents",
            F.round("trend", 6).alias("trend"),
            F.round(seasonal, 6).alias("seasonal"),
            F.round(F.col("cents") - F.col("trend") - seasonal, 6).alias(
                "residual"
            ),
        )
    )


@_q(
    "copurchase_similar_customers",
    """
    WITH base AS (
      SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS s,
                      CAST(o_custkey AS BIGINT) AS c
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    kept AS (
      SELECT s, c FROM (
        SELECT s, c, row_number() OVER (PARTITION BY s ORDER BY c) AS rk
        FROM base)
      WHERE rk <= 64
    ),
    sizes AS (SELECT c, CAST(count(*) AS BIGINT) AS n FROM kept GROUP BY c),
    pairs AS (
      SELECT a.c AS c1, b.c AS c2, CAST(count(*) AS BIGINT) AS cn
      FROM kept a JOIN kept b ON a.s = b.s AND a.c < b.c
      GROUP BY 1, 2
    ),
    dirs AS (
      SELECT c1 AS cust, c2 AS nb, cn FROM pairs
      UNION ALL
      SELECT c2 AS cust, c1 AS nb, cn FROM pairs
    ),
    scored AS (
      SELECT cust, nb, cn, cn / (s1.n + s2.n - cn) AS j
      FROM dirs JOIN sizes s1 ON s1.c = cust JOIN sizes s2 ON s2.c = nb
    )
    SELECT cust, nb, cn, round(j, 6) AS jaccard, CAST(rk AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY cust
                                       ORDER BY j DESC, nb) AS rk
          FROM scored)
    WHERE rk <= 5
    """,
)
def copurchase_similar_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 most similar customers per customer by supplier-set Jaccard
    on the co-purchase bipartite graph (the same customer—supplier
    edges pagerank/BFS/k-core walk) — neighborhood-overlap link scoring,
    the collaborative-filtering / link-prediction primitive. Hot
    suppliers are capped at their 64 smallest customer ids (replayed
    verbatim in the oracle — triangle_count_users' determinism-by-cap
    pattern), bounding the per-supplier pair fan-out at 64². Candidate
    pairs come from per-supplier array combinatorics over the sorted
    capped list (no self-join shuffle; packed-long i<j pair keys,
    dedup.jaccard_pairs' id contract), sizes join back keyed (NOT
    broadcast — the customer dimension is data-sized at 100 TB; AQE
    may still elect broadcast locally), and the per-customer top-5
    compiles to WindowGroupLimit. Jaccard is one exact-integer double
    division — bit-identical rank order in both engines, nb tiebreak."""
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    base = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("l_suppkey").cast("long").alias("s"),
            F.col("o_custkey").cast("long").alias("c"),
        )
        .distinct()
    )
    # cap BEFORE the collect: rank<=64 compiles to WindowGroupLimit (a
    # map-side per-supplier top-k heap), so a mega-supplier never
    # materializes its full customer list in one aggregation buffer —
    # collect_list then receives at most 64 rows per key. Equivalent to
    # sorting-then-slicing (the oracle's row_number cap), asserted in
    # test_plans.py.
    wcap = Window.partitionBy("s").orderBy("c")
    kept = (
        base.withColumn("__rk", F.row_number().over(wcap))
        .filter(F.col("__rk") <= 64)
        .groupBy("s")
        .agg(F.array_sort(F.collect_list("c")).alias("cs"))
    )
    sizes = (
        kept.select(F.explode("cs").alias("c"))
        .groupBy("c")
        .agg(F.count("*").cast("long").alias("n"))
    )
    cs = F.col("cs")
    idx = F.filter(
        F.sequence(F.lit(1), F.size(cs) - 1),
        lambda i: (i >= 1) & (i < F.size(cs)),
    )
    pair_arr = F.flatten(
        F.transform(
            idx,
            lambda i: F.transform(
                F.slice(cs, i + 1, F.size(cs) - i),
                lambda y: F.shiftleft(F.element_at(cs, i), 32) + y,
            ),
        )
    )
    pairs = (
        kept.select(F.explode(pair_arr).alias("p"))
        .groupBy("p")
        .agg(F.count("*").cast("long").alias("cn"))
        .select(
            F.shiftright("p", 32).alias("c1"),
            F.col("p").bitwiseAND(F.lit((1 << 32) - 1)).alias("c2"),
            "cn",
        )
    )
    both = pairs.select(
        F.col("c1").alias("cust"), F.col("c2").alias("nb"), "cn"
    ).unionByName(
        pairs.select(F.col("c2").alias("cust"), F.col("c1").alias("nb"), "cn")
    )
    scored = (
        both.join(sizes.select(F.col("c").alias("cust"), F.col("n").alias("n1")), "cust")
        .join(sizes.select(F.col("c").alias("nb"), F.col("n").alias("n2")), "nb")
        .withColumn("j", F.col("cn") / (F.col("n1") + F.col("n2") - F.col("cn")))
    )
    w = Window.partitionBy("cust").orderBy(F.col("j").desc(), "nb")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select(
            "cust",
            "nb",
            "cn",
            F.round("j", 6).alias("jaccard"),
            F.col("rk").cast("int").alias("rank"),
        )
    )


@_q(
    "chisq_type_dow_events",
    """
    WITH cont AS (
      SELECT event_type,
             (CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 + 4) % 7
               AS dow,
             CAST(count(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2
    ),
    rowt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS rt FROM cont
             GROUP BY 1),
    colt AS (SELECT dow, CAST(sum(o) AS BIGINT) AS ct FROM cont GROUP BY 1),
    tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cont),
    terms AS (
      SELECT o, CAST(rt AS DOUBLE) * ct / n AS e, n
      FROM cont JOIN rowt USING (event_type) JOIN colt USING (dow)
      CROSS JOIN tot
    ),
    agg AS (
      SELECT CAST(sum(CAST(round((o - e) * (o - e) / e * 1000000.0)
                           AS BIGINT)) AS BIGINT) AS chi2_e6,
             max(n) AS n
      FROM terms
    ),
    dims AS (SELECT count(DISTINCT event_type) AS r,
                    count(DISTINCT dow) AS c FROM cont)
    SELECT chi2_e6, CAST((r - 1) * (c - 1) AS INT) AS dof,
           CAST(n AS BIGINT) AS n,
           round(sqrt((CAST(chi2_e6 AS DOUBLE) / 1000000.0)
                      / (CAST(n AS DOUBLE) * least(r - 1, c - 1))), 6)
             AS cramers_v
    FROM agg, dims
    """,
)
def chisq_type_dow_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence for the event_type × day-of-week
    contingency table, with Cramér's V effect size — 'does traffic mix
    shift by weekday', the categorical counterpart of
    anomaly_dow_events. Exactness: observed counts and margins are
    BIGINTs; each cell's (o-e)²/e is ONE fixed double sequence scaled
    to an e6 integer before summing, so the statistic is
    addition-order-free (the bm25 integer-scaled-score pattern); the
    final χ²/√ conversions are one more fixed sequence on the exact
    integer. Plan: one (type, dow) count, two margin rollups + a 1-row
    total broadcast back, a ≤|types|×7 term frame, single-row output."""
    ev = load_table(spark, "events", sf_dir)
    cont = ev.groupBy(
        "event_type",
        (
            (
                (F.unix_timestamp(F.date_trunc("day", "ts")) / 86400).cast(
                    "long"
                )
                + 4
            )
            % 7
        ).alias("dow"),
    ).agg(F.count("*").cast("long").alias("o"))
    rowt = cont.groupBy("event_type").agg(
        F.sum("o").cast("long").alias("rt")
    )
    colt = cont.groupBy("dow").agg(F.sum("o").cast("long").alias("ct"))
    tot = cont.agg(F.sum("o").cast("long").alias("n"))
    e = F.col("rt").cast("double") * F.col("ct") / F.col("n")
    terms = (
        cont.join(F.broadcast(rowt), "event_type")
        .join(F.broadcast(colt), "dow")
        .crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "dow",
            F.round((F.col("o") - e) * (F.col("o") - e) / e * 1000000.0)
            .cast("long")
            .alias("t_e6"),
            "n",
        )
    )
    agg = terms.agg(
        F.sum("t_e6").cast("long").alias("chi2_e6"),
        F.max("n").alias("n"),
        F.countDistinct("event_type").alias("r"),
        F.countDistinct("dow").alias("c"),
    )
    return agg.select(
        "chi2_e6",
        ((F.col("r") - 1) * (F.col("c") - 1)).cast("int").alias("dof"),
        F.col("n").cast("long").alias("n"),
        F.round(
            F.sqrt(
                (F.col("chi2_e6").cast("double") / 1000000.0)
                / (
                    F.col("n").cast("double")
                    * F.least(F.col("r") - 1, F.col("c") - 1)
                )
            ),
            6,
        ).alias("cramers_v"),
    )


@_q(
    "user_event_entropy",
    """
    WITH c AS (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    n AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n,
                 CAST(count(*) AS BIGINT) AS n_types
          FROM c GROUP BY 1)
    SELECT c.user_id, max(n) AS n_events, max(n_types) AS n_types,
           CAST(sum(CAST(round(-(CAST(c AS DOUBLE) / n)
                                * ln(CAST(c AS DOUBLE) / n)
                                * 1000000000.0) AS BIGINT))
                AS BIGINT) AS h_e9,
           round(CAST(sum(CAST(round(-(CAST(c AS DOUBLE) / n)
                                      * ln(CAST(c AS DOUBLE) / n)
                                      * 1000000000.0) AS BIGINT))
                      AS DOUBLE) / 1000000000.0, 6) AS entropy
    FROM c JOIN n USING (user_id)
    GROUP BY c.user_id
    """,
)
def user_event_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type distribution —
    behavioral diversity scoring (bots and single-purpose accounts sit
    near 0; engaged users near ln|types|), the per-key analogue of
    char_entropy_docs. Each -p·ln(p) term is one fixed double sequence
    on exact integer ratios, scaled to an e9 integer BEFORE the per-user
    sum, so the entropy is addition-order-free in both engines (the
    bm25/chi-square integer-scaled-term pattern). Plan: one (user, type)
    map-side-combined count, a user-keyed total join (same exchange
    key — no extra shuffle), one rollup.

    Libm-parity bound (this query and pmi_collocations_docs): the e9
    round assumes JVM StrictMath.log and DuckDB's libm agree on ln(p)
    for the p values reached — a 1-ulp ln skew only flips the hashed
    integer if -p·ln(p)·1e9 lands within ~1 ulp of an exact .5. p here
    is a ratio of two ≤ 2^31 counts; unlike the dyadic quality-score
    ties, no such near-tie input has been constructed or observed
    (verified across sf0.01/sf0.1 every round the query was checked),
    and JVM Math.log is documented within 1 ulp of the correctly-
    rounded result with semi-monotonicity. If a fixture ever hits one,
    the fix is the Benford route: share literal per-count constants
    instead of engine libm calls."""
    ev = load_table(spark, "events", sf_dir)
    c = ev.groupBy("user_id", "event_type").agg(
        F.count("*").cast("long").alias("c")
    )
    n = c.groupBy("user_id").agg(
        F.sum("c").cast("long").alias("n"),
        F.count("*").cast("long").alias("n_types"),
    )
    p = F.col("c").cast("double") / F.col("n")
    term = F.round(-p * F.log(p) * 1000000000.0).cast("long")
    j = c.join(n, "user_id").select("user_id", "n", "n_types", term.alias("t"))
    return j.groupBy("user_id").agg(
        F.max("n").alias("n_events"),
        F.max("n_types").alias("n_types"),
        F.sum("t").cast("long").alias("h_e9"),
        F.round(
            F.sum("t").cast("double") / 1000000000.0, 6
        ).alias("entropy"),
    )


@_q(
    "interarrival_stats_users",
    """
    WITH e AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t, event_id
      FROM events
    ),
    g AS (
      SELECT user_id,
             t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
               AS gap
      FROM e
    ),
    s AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
             min(gap) AS min_gap_s, max(gap) AS max_gap_s,
             CAST(sum(gap) AS BIGINT) AS s1,
             CAST(sum(gap * gap) AS BIGINT) AS s2
      FROM g WHERE gap IS NOT NULL GROUP BY 1
    )
    SELECT user_id, n_gaps, min_gap_s, max_gap_s,
           round(CAST(s1 AS DOUBLE) / n_gaps, 4) AS mean_gap_s,
           round((sqrt(greatest((CAST(s2 AS DOUBLE)
                                 - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                                   / n_gaps) / (n_gaps - 1), 0.0))
                  - CAST(s1 AS DOUBLE) / n_gaps)
                 / (sqrt(greatest((CAST(s2 AS DOUBLE)
                                   - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                                     / n_gaps) / (n_gaps - 1), 0.0))
                    + CAST(s1 AS DOUBLE) / n_gaps), 6) AS burstiness
    FROM s WHERE n_gaps >= 3 AND s1 > 0
    """,
)
def interarrival_stats_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user interarrival-gap profile with the Goh-Barabási
    burstiness coefficient B = (σ-μ)/(σ+μ) ∈ [-1, 1] (B→-1 periodic,
    B≈0 Poisson, B→1 bursty) — the temporal-behavior fingerprint bot
    detection and rate-limit tuning read. Gaps are integer SECONDS
    (unix_timestamp floors; the oracle floors epoch() identically —
    second granularity keeps gap² sums deep inside BIGINT), moments are
    exact, and mean/σ/B are one fixed double sequence with a
    greatest(·,0) guard so a zero-variance user hits sqrt(0), not
    sqrt(-ε). Plan: one user-keyed lag window, one map-side-combined
    moment aggregate — two exchanges on the same key."""
    ev = load_table(spark, "events", sf_dir)
    e = ev.select(
        "user_id", F.unix_timestamp("ts").alias("t"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    g = e.select(
        "user_id", (F.col("t") - F.lag("t").over(w)).alias("gap")
    ).filter(F.col("gap").isNotNull())
    s = g.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_gaps"),
        F.min("gap").alias("min_gap_s"),
        F.max("gap").alias("max_gap_s"),
        F.sum("gap").cast("long").alias("s1"),
        F.sum(F.col("gap") * F.col("gap")).cast("long").alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n_gaps")
    var = F.greatest(
        (
            F.col("s2").cast("double")
            - F.col("s1").cast("double")
            * F.col("s1").cast("double")
            / F.col("n_gaps")
        )
        / (F.col("n_gaps") - 1),
        F.lit(0.0),
    )
    std = F.sqrt(var)
    return (
        s.filter((F.col("n_gaps") >= 3) & (F.col("s1") > 0))
        .select(
            "user_id",
            "n_gaps",
            "min_gap_s",
            "max_gap_s",
            F.round(mean, 4).alias("mean_gap_s"),
            F.round((std - mean) / (std + mean), 6).alias("burstiness"),
        )
    )


@_q(
    "pmi_collocations_docs",
    r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')
               AS t
      FROM documents
    ),
    bg AS (
      SELECT t[i] AS a, t[i+1] AS b
      FROM toks, LATERAL (SELECT unnest(generate_series(
             1, greatest(len(t) - 1, 0))) AS i) u
    ),
    bgc AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n_ab FROM bg
            GROUP BY 1, 2),
    uni AS (
      SELECT word, CAST(count(*) AS BIGINT) AS n_w
      FROM (SELECT unnest(t) AS word FROM toks) GROUP BY 1
    ),
    tots AS (SELECT CAST(sum(n_w) AS BIGINT) AS nu,
                    (SELECT CAST(sum(n_ab) AS BIGINT) FROM bgc) AS nb
             FROM uni),
    scored AS (
      SELECT a, b, n_ab,
             CAST(round(ln(CAST(n_ab AS DOUBLE) * nu * nu
                           / (CAST(nb AS DOUBLE) * u1.n_w * u2.n_w))
                        * 1000000.0) AS BIGINT) AS pmi_e6
      FROM bgc JOIN uni u1 ON u1.word = a JOIN uni u2 ON u2.word = b
      CROSS JOIN tots
      WHERE n_ab >= 5
    )
    SELECT a, b, n_ab, pmi_e6,
           round(CAST(pmi_e6 AS DOUBLE) / 1000000.0, 6) AS pmi
    FROM scored
    ORDER BY pmi_e6 DESC, a, b LIMIT 50
    """,
)
def pmi_collocations_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 collocations (consecutive word pairs) by pointwise mutual
    information, min count 5 — the classic multiword-expression miner
    (Church & Hanks): high-count bigrams rank by how much MORE often
    they co-occur than their unigram frequencies predict, which raw
    count ranking (event_trigram_topk's measure) cannot see. PMI is one
    fixed double sequence over exact integer counts, scaled to an e6
    integer that both RANKS (with (a, b) tiebreaks) and reports — no
    float comparisons cross the engine boundary. Plan: one bigram count
    + one unigram count off the same tokenization, unigram lookups
    joined keyed (vocab-sized), global top-50 compiles to
    TakeOrderedAndProject (per-partition heap, no global sort).
    Libm-parity bound: same contract as user_event_entropy — the e6
    round assumes both engines' ln agree to the last ulp away from a
    .5 tie; the count-ratio arguments here have produced no near-tie
    across every checked fixture, and the escape hatch (shared literal
    constants, the Benford route) is documented there."""
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(F.explode(tokens("text")).alias("word"))
    uni = toks.groupBy("word").agg(F.count("*").cast("long").alias("n_w"))
    bg = docs.select(
        F.explode(shingles(F.col("text"), 2)).alias("sh")
    ).select(
        F.split(F.col("sh"), " ", 2).getItem(0).alias("a"),
        F.split(F.col("sh"), " ", 2).getItem(1).alias("b"),
    )
    bgc = bg.groupBy("a", "b").agg(F.count("*").cast("long").alias("n_ab"))
    tots = uni.agg(F.sum("n_w").cast("long").alias("nu")).crossJoin(
        bgc.agg(F.sum("n_ab").cast("long").alias("nb"))
    )
    pmi_e6 = F.round(
        F.log(
            F.col("n_ab").cast("double")
            * F.col("nu")
            * F.col("nu")
            / (F.col("nb").cast("double") * F.col("n_w1") * F.col("n_w2"))
        )
        * 1000000.0
    ).cast("long")
    scored = (
        bgc.filter(F.col("n_ab") >= 5)
        .join(uni.select(F.col("word").alias("a"), F.col("n_w").alias("n_w1")), "a")
        .join(uni.select(F.col("word").alias("b"), F.col("n_w").alias("n_w2")), "b")
        .crossJoin(F.broadcast(tots))
        .select("a", "b", "n_ab", pmi_e6.alias("pmi_e6"))
    )
    return (
        scored.orderBy(F.col("pmi_e6").desc(), "a", "b")
        .limit(50)
        .select(
            "a",
            "b",
            "n_ab",
            "pmi_e6",
            F.round(F.col("pmi_e6").cast("double") / 1000000.0, 6).alias(
                "pmi"
            ),
        )
    )


@_q(
    "rolling_corr_view_purchase",
    """
    WITH daily AS (
      SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS d,
             CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS y
      FROM events GROUP BY 1
    ),
    wins AS (
      SELECT d, x, y,
             count(*) OVER w7 AS n,
             sum(x) OVER w7 AS sx, sum(y) OVER w7 AS sy,
             sum(x * x) OVER w7 AS sxx, sum(y * y) OVER w7 AS syy,
             sum(x * y) OVER w7 AS sxy
      FROM daily
      WINDOW w7 AS (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT d, x, y,
           CAST(7 * sxy - sx * sy AS BIGINT) AS cov_num,
           round(CAST(7 * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(7 * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(7 * syy - sy * sy AS DOUBLE))), 6)
             AS corr7
    FROM wins
    WHERE n = 7 AND 7 * sxx - sx * sx > 0 AND 7 * syy - sy * sy > 0
    """,
)
def rolling_corr_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling Pearson correlation between daily view and purchase
    volumes — the co-movement monitor for funnel health (a correlation
    collapse means views stopped converting). EXACT up to one final
    division: the rolling window accumulates integer moments, the
    covariance/variance numerators (n·Σxy − ΣxΣy etc.) are BIGINTs, and
    corr is num / (sqrt(dx)·sqrt(dy)) — one fixed double sequence on
    exact integers, 6dp output. Windows with fewer than 7 observed days
    or zero variance are excluded (not NaN). Plan: one daily
    conditional-sum rollup, then rolling sums over the time-bounded
    daily series (the documented model-sized-window exception)."""
    ev = load_table(spark, "events", sf_dir)
    daily = ev.groupBy(
        F.unix_timestamp(F.date_trunc("day", "ts")).alias("d")
    ).agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("y"),
    )
    w7 = Window.orderBy("d").rowsBetween(-6, 0)
    wins = daily.select(
        "d",
        "x",
        "y",
        F.count("*").over(w7).alias("n"),
        F.sum("x").over(w7).alias("sx"),
        F.sum("y").over(w7).alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(w7).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w7).alias("syy"),
        F.sum(F.col("x") * F.col("y")).over(w7).alias("sxy"),
    )
    num = 7 * F.col("sxy") - F.col("sx") * F.col("sy")
    dx = 7 * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = 7 * F.col("syy") - F.col("sy") * F.col("sy")
    return (
        wins.filter((F.col("n") == 7) & (dx > 0) & (dy > 0))
        .select(
            "d",
            "x",
            "y",
            num.cast("long").alias("cov_num"),
            F.round(
                num.cast("double")
                / (F.sqrt(dx.cast("double")) * F.sqrt(dy.cast("double"))),
                6,
            ).alias("corr7"),
        )
    )


@_q(
    "roc_auc_embedding_norm",
    """
    WITH sc AS (
      SELECT vec_id, CAST(label % 2 AS BIGINT) AS y,
             CAST(round(sqrt(list_dot_product(embedding::DOUBLE[],
                                              embedding::DOUBLE[]))
                        * 1000000) AS BIGINT) AS s
      FROM embeddings
    ),
    rk AS (SELECT y, s, row_number() OVER (ORDER BY s, vec_id) AS r FROM sc),
    g AS (SELECT s, CAST(sum(y) AS BIGINT) AS n1,
                 CAST(min(r) AS BIGINT) AS mn, CAST(max(r) AS BIGINT) AS mx
          FROM rk GROUP BY s),
    t AS (SELECT CAST(sum(y) AS BIGINT) AS np,
                 CAST(count(*) - sum(y) AS BIGINT) AS nn
          FROM sc),
    r2 AS (SELECT CAST(sum(n1 * (mn + mx)) AS BIGINT) AS rank2_sum FROM g)
    SELECT np, nn, rank2_sum,
           round(CAST(rank2_sum - np * (np + 1) AS DOUBLE)
                 / CAST(2 * np * nn AS DOUBLE), 6) AS auc
    FROM t, r2
    """,
)
def roc_auc_embedding_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC-AUC of the embedding-norm 'score' against the odd-label
    class via the Mann-Whitney rank-sum identity with midrank tie
    correction — the classifier-evaluation primitive, computed without
    any threshold sweep: AUC = (2R⁺ − n⁺(n⁺+1)) / (2 n⁺ n⁻) where R⁺
    sums positives' midranks. Everything is integer until ONE final
    division: scores are e6-scaled norms (the JVM array fold is
    bit-identical to DuckDB's list_dot_product — established by the
    embedding family), ranks come from layout.global_order_positions
    (exact global (score, id) ranks WITHOUT a global sort:
    range-sharded parallel windows + an S-row offset collect), and tie
    groups contribute n⁺·(min_r+max_r) — twice the midrank sum — as
    BIGINTs. The oracle replays ranks with a plain row_number. Plan:
    one sharded rank pass, a score-keyed tie rollup, two scalar
    aggregates, single-row output. The scored checkpoint and the rank
    pass are the memoized family artifacts (_scored_embeddings /
    _ranked_scored_embeddings) shared with calibration/lift/isotonic."""
    sc = _scored_embeddings(spark, sf_dir)
    ranked = _ranked_scored_embeddings(spark, sf_dir)
    g = ranked.groupBy("s").agg(
        F.sum("y").cast("long").alias("n1"),
        (F.min("position") + 1).cast("long").alias("mn"),
        (F.max("position") + 1).cast("long").alias("mx"),
    )
    t = sc.agg(
        F.sum("y").cast("long").alias("np"),
        (F.count("*") - F.sum("y")).cast("long").alias("nn"),
    )
    r2 = g.agg(
        F.sum(F.col("n1") * (F.col("mn") + F.col("mx")))
        .cast("long")
        .alias("rank2_sum")
    )
    return (
        t.crossJoin(r2)
        .select(
            "np",
            "nn",
            "rank2_sum",
            F.round(
                (F.col("rank2_sum") - F.col("np") * (F.col("np") + 1)).cast(
                    "double"
                )
                / (2 * F.col("np") * F.col("nn")).cast("double"),
                6,
            ).alias("auc"),
        )
    )


# ---------------------------------------------------------------------------
# Time-series & experimentation statistics (round-7 batch 6)
# ---------------------------------------------------------------------------


@_q(
    "acf_daily_orders",
    """
    WITH daily AS (
      SELECT CAST(epoch(date_trunc('day', o_orderdate)) AS BIGINT) // 86400 AS d,
             CAST(count(*) AS BIGINT) AS c
      FROM orders GROUP BY 1
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(c AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s,
             CAST(sum(CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0)))
                  AS DECIMAL(38,0)) AS q
      FROM daily
    ),
    lags AS (SELECT unnest(range(1, 15)) AS lag),
    pairs AS (
      SELECT l.lag,
             CAST(count(*) AS BIGINT) AS m,
             CAST(sum(CAST(a.c AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sa,
             CAST(sum(CAST(b.c AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sb,
             CAST(sum(CAST(a.c AS DECIMAL(38,0)) * CAST(b.c AS DECIMAL(38,0)))
                  AS DECIMAL(38,0)) AS p
      FROM lags l
      JOIN daily a ON true
      JOIN daily b ON b.d = a.d + l.lag
      GROUP BY 1
    )
    SELECT CAST(lag AS INT) AS lag_days, m AS n_pairs,
           round(CAST(n * n * p - n * s * (sa + sb) + m * s * s AS DOUBLE)
                 / CAST(n * n * q - n * s * s AS DOUBLE), 6) AS acf
    FROM pairs, tot
    """,
)
def acf_daily_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-tolerant autocorrelation function of the daily order count at
    lags 1..14 days — the seasonality detector behind the anomaly/
    seasonal-decompose family (reference has no time-series surface;
    SURVEY §6 extension). Pairs are matched on exact calendar distance
    (a missing day drops its pairs rather than shifting the series), and
    r_k uses the full-series mean/denominator, all in exact integer
    moments: r_k = (n²P_k − nS(A_k+B_k) + m_kS²) / (n²Q − nS²) with
    every term accumulated in DECIMAL(38,0) and ONE cast to double
    before the division — bit-identical in any engine.

    Scale: the daily frame is time-bounded (≤ a few thousand rows per
    decade regardless of data size), so the lag join is a broadcast
    equi-join on day index and the whole statistic costs one
    map-side-combined groupBy over orders plus model-frame joins — no
    window, no sort, no shuffle beyond the daily rollup."""
    orders = load_table(spark, "orders", sf_dir)
    day = F.floor(
        F.unix_timestamp(F.date_trunc("day", "o_orderdate")) / 86400
    ).cast("long")
    daily = orders.groupBy(day.alias("d")).agg(
        F.count("*").cast("long").alias("c")
    )

    def dec(c: F.Column) -> F.Column:
        return c.cast("decimal(38,0)")

    tot = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(dec(F.col("c"))).cast("decimal(38,0)").alias("s"),
        F.sum(dec(F.col("c")) * dec(F.col("c")))
        .cast("decimal(38,0)")
        .alias("q"),
    )
    lagged = daily.select(
        F.explode(F.sequence(F.lit(1), F.lit(14))).alias("lag"), "d", "c"
    )
    right = daily.select(F.col("d").alias("d2"), F.col("c").alias("c2"))
    pairs = (
        lagged.join(
            F.broadcast(right), F.col("d2") == F.col("d") + F.col("lag")
        )
        .groupBy("lag")
        .agg(
            F.count("*").cast("long").alias("m"),
            F.sum(dec(F.col("c"))).cast("decimal(38,0)").alias("sa"),
            F.sum(dec(F.col("c2"))).cast("decimal(38,0)").alias("sb"),
            F.sum(dec(F.col("c")) * dec(F.col("c2")))
            .cast("decimal(38,0)")
            .alias("p"),
        )
    )
    n, s, q = F.col("n"), F.col("s"), F.col("q")
    m, sa, sb, p = F.col("m"), F.col("sa"), F.col("sb"), F.col("p")
    num = (n * n * p - n * s * (sa + sb) + m * s * s).cast("double")
    den = (n * n * q - n * s * s).cast("double")
    return pairs.crossJoin(F.broadcast(tot)).select(
        F.col("lag").cast("int").alias("lag_days"),
        F.col("m").alias("n_pairs"),
        F.round(num / den, 6).alias("acf"),
    )


@_q(
    "theil_sen_trend_orders",
    """
    WITH daily AS (
      SELECT CAST(epoch(date_trunc('day', o_orderdate)) AS BIGINT) // 86400 AS d,
             CAST(count(*) AS BIGINT) AS c
      FROM orders GROUP BY 1
    ),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily),
    pairs AS (
      SELECT a.d AS d1, b.d AS d2,
             CAST(b.c - a.c AS DOUBLE) / CAST(b.d - a.d AS DOUBLE) AS slope
      FROM daily a JOIN daily b ON b.d > a.d
    ),
    ranked AS (
      SELECT slope,
             row_number() OVER (ORDER BY slope, d1, d2) AS rk,
             CAST(count(*) OVER () AS BIGINT) AS m
      FROM pairs
    ),
    med AS (SELECT slope AS beta, m FROM ranked WHERE rk = (m - 1) // 2 + 1),
    resid AS (
      SELECT daily.d,
             CAST(daily.c AS DOUBLE) - med.beta * CAST(daily.d AS DOUBLE) AS r
      FROM daily, med
    ),
    rr AS (
      SELECT r, row_number() OVER (ORDER BY r, d) AS rk,
             CAST(count(*) OVER () AS BIGINT) AS n2
      FROM resid
    )
    SELECT nd.n_days, med.m AS n_pairs,
           round(med.beta, 9) AS slope_per_day,
           round((SELECT r FROM rr WHERE rk = (n2 - 1) // 2 + 1), 6)
               AS intercept
    FROM nd, med
    """,
)
def theil_sen_trend_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of the daily order count: the (lower)
    median of all pairwise slopes, plus the median-residual intercept —
    the outlier-proof alternative to OLS (groupwise_regression) for
    volume drift monitoring. Slope doubles are one IEEE division of
    exact integers per pair, so both engines order the identical values;
    the median is SELECTED (never averaged) at rank (m-1)//2 with a
    (slope, d1, d2) tie-break replayed verbatim by the oracle.

    Scale: the pair frame is days², i.e. bounded by the TIME RANGE
    (~13M pairs per decade) — never data-sized; the daily rollup is the
    only full scan. Median selection uses layout.global_order_positions
    (range-sharded exact ranks — parallel shard-local sorts, no global
    sort, no SinglePartition funnel); the pair count m is n(n-1)/2 from
    the day count, not a second action."""
    orders = load_table(spark, "orders", sf_dir)
    day = F.floor(
        F.unix_timestamp(F.date_trunc("day", "o_orderdate")) / 86400
    ).cast("long")
    daily = (
        orders.groupBy(day.alias("d"))
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint()
    )
    n_days = daily.count()
    m = n_days * (n_days - 1) // 2
    right = daily.select(F.col("d").alias("d2"), F.col("c").alias("c2"))
    # AQE coalesces the tiny daily rollup to ONE partition — fine for
    # the rollup, but it would serialize the n² pair expansion and every
    # rank pass below into a single task (measured 10 s at 100x);
    # spreading the 2405-row streamed side first keeps the wide pair
    # frame parallel for the cost of a trivial shuffle
    # hash on the unique day value, not round-robin: 2405 distinct days
    # over defaultParallelism partitions spreads 20-100x finer than the
    # partition count (guide §2.5's rule) and skips the keyless
    # repartition's retry-determinism local sort. Derived from the core
    # count like every other spread (VERDICT r13 #6 — this was the one
    # hard-coded 32); the pair frame is day-bounded so it cannot explode.
    pairs = daily.repartition(
        daily.sparkSession.sparkContext.defaultParallelism, "d"
    ).join(
        F.broadcast(right), F.col("d2") > F.col("d")
    ).select(
        ((F.col("c2") - F.col("c")).cast("double")
         / (F.col("d2") - F.col("d")).cast("double")).alias("slope"),
        # pack the (d1, d2) tie-break into one id: day indices are
        # ~10^4, so d1*10^6 + d2 is collision-free and order-preserving
        # (numeric order == lexicographic (d1, d2) order)
        (F.col("d") * 1000000 + F.col("d2")).alias("pid"),
    ).localCheckpoint()
    # ^ the rank machinery below (quantile sketch, shard counts, final
    # filter) makes three passes — checkpointing the 16-byte pair rows
    # builds the nested-loop join ONCE (the 100x run read 14 s without
    # this: every pass re-derived the pairs from the orders scan)
    med = (
        layout.global_order_positions(pairs, "slope", "pid")
        .filter(F.col("position") == (m - 1) // 2)
        .select(F.col("slope").alias("beta"))
    )
    resid = daily.crossJoin(F.broadcast(med)).select(
        "d",
        (F.col("c").cast("double") - F.col("beta") * F.col("d").cast("double")
         ).alias("r"),
        F.col("beta"),
    )
    w = Window.orderBy("r", "d")
    # the residual frame is the DAILY model frame (time-bounded, a few
    # thousand rows) — a single ordered window over it is model-sized,
    # not a data-sized global sort
    inter = (
        resid.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == (n_days - 1) // 2 + 1)
        .select("beta", F.col("r").alias("intercept"))
    )
    return inter.select(
        F.lit(n_days).cast("long").alias("n_days"),
        F.lit(m).cast("long").alias("n_pairs"),
        F.round(F.col("beta"), 9).alias("slope_per_day"),
        F.round(F.col("intercept"), 6).alias("intercept"),
    )


@_q(
    "mann_kendall_trend_orders",
    """
    WITH daily AS (
      SELECT CAST(epoch(date_trunc('day', o_orderdate)) AS BIGINT) // 86400 AS d,
             CAST(count(*) AS BIGINT) AS c
      FROM orders GROUP BY 1
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
    sgn AS (
      SELECT CAST(sum(CASE WHEN b.c > a.c THEN 1
                           WHEN b.c < a.c THEN -1 ELSE 0 END) AS BIGINT)
               AS s_stat
      FROM daily a JOIN daily b ON b.d > a.d
    ),
    ties AS (
      SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
               AS tie_adj
      FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY c) g
      WHERE g.t > 1
    )
    SELECT n AS n_days, s_stat,
           CAST(n * (n - 1) * (2 * n + 5) - tie_adj AS BIGINT) AS var_s18,
           round(CASE
             WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1)
               / sqrt(CAST(n * (n - 1) * (2 * n + 5) - tie_adj AS DOUBLE) / 18.0)
             WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + 1)
               / sqrt(CAST(n * (n - 1) * (2 * n + 5) - tie_adj AS DOUBLE) / 18.0)
             ELSE 0.0 END, 6) AS z
    FROM tot, sgn, ties
    """,
)
def mann_kendall_trend_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotonic-trend test on the daily order count:
    S = sum of pairwise sign(c_j - c_i) over i<j, the tie-corrected
    variance (kept e18-scaled as an exact BIGINT), and the
    continuity-corrected z. Everything before the final z is exact
    integer arithmetic; z is a fixed double-op chain identical in both
    engines. Companion to theil_sen_trend_orders (detect, then size).

    Scale: same model-frame argument as Theil-Sen — the pair join is
    days² (time-bounded), computed as a broadcast self-join over the
    daily rollup; n(n-1)(2n+5) stays < 2^63 for any plausible range
    (a 3000-year series would still fit)."""
    orders = load_table(spark, "orders", sf_dir)
    day = F.floor(
        F.unix_timestamp(F.date_trunc("day", "o_orderdate")) / 86400
    ).cast("long")
    daily = (
        orders.groupBy(day.alias("d"))
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint()
    )
    tot = daily.agg(F.count("*").cast("long").alias("n"))
    right = daily.select(F.col("d").alias("d2"), F.col("c").alias("c2"))
    sgn = (
        daily.join(F.broadcast(right), F.col("d2") > F.col("d"))
        .agg(
            F.sum(
                F.when(F.col("c2") > F.col("c"), 1)
                .when(F.col("c2") < F.col("c"), -1)
                .otherwise(0)
            ).cast("long").alias("s_stat")
        )
    )
    ties = (
        daily.groupBy("c")
        .agg(F.count("*").cast("long").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)),
                F.lit(0),
            ).cast("long").alias("tie_adj")
        )
    )
    n, s_stat = F.col("n"), F.col("s_stat")
    var18 = n * (n - 1) * (2 * n + 5) - F.col("tie_adj")
    sd = F.sqrt(var18.cast("double") / 18.0)
    return (
        sgn.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ties))
        .select(
            n.alias("n_days"),
            s_stat.alias("s_stat"),
            var18.cast("long").alias("var_s18"),
            F.round(
                F.when(s_stat > 0, (s_stat.cast("double") - 1) / sd)
                .when(s_stat < 0, (s_stat.cast("double") + 1) / sd)
                .otherwise(F.lit(0.0)),
                6,
            ).alias("z"),
        )
    )


# log10(1 + 1/d) for d = 1..9, as exact double literals shared verbatim
# by the Spark plan and the oracle (recomputing via log() would tie the
# hash to two engines' libm — literals make it engine-free).
_BENFORD_P = {
    1: 0.3010299956639812,
    2: 0.17609125905568124,
    3: 0.12493873660829992,
    4: 0.09691001300805642,
    5: 0.07918124604762482,
    6: 0.06694678963061322,
    7: 0.05799194697768673,
    8: 0.05115252244738129,
    9: 0.04575749056067514,
}

_BENFORD_VALUES = ", ".join(
    f"({d}, CAST({p!r} AS DOUBLE))" for d, p in _BENFORD_P.items()
)


@_q(
    "benford_order_totals",
    f"""
    WITH c AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders
    ),
    obs AS (
      SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit,
             CAST(count(*) AS BIGINT) AS n_obs
      FROM c GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM obs),
    expected AS (SELECT * FROM (VALUES {{values}}) t(digit, p))
    SELECT e.digit, coalesce(o.n_obs, 0) AS n_obs,
           round(CAST(t.n AS DOUBLE) * e.p, 6) AS n_expected,
           round((CAST(coalesce(o.n_obs, 0) AS DOUBLE)
                    - CAST(t.n AS DOUBLE) * e.p)
                 * (CAST(coalesce(o.n_obs, 0) AS DOUBLE)
                    - CAST(t.n AS DOUBLE) * e.p)
                 / (CAST(t.n AS DOUBLE) * e.p), 6) AS chisq_term
    FROM expected e LEFT JOIN obs o ON o.digit = e.digit, tot t
    """.format(values=_BENFORD_VALUES),
)
def benford_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the classic
    synthetic-data / fraud screen (a generated or tampered amount column
    rarely follows log10(1+1/d)). Output is the per-digit contingency
    row: observed count (exact), expected count, and the chi-square
    contribution — deliberately NO cross-row float total, so every float
    is a fixed per-row op sequence on one exact integer and the shared
    probability literals (the driver-hashable discipline psi_drift and
    chisq_type_dow established; consumers sum chisq_term if they want
    the statistic).

    Scale: one map-side-combined groupBy on a 9-value key over the
    cents projection; the digit table is a 9-row literal frame
    broadcast against a 1-row total. Nothing else moves."""
    orders = load_table(spark, "orders", sf_dir)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    obs = (
        orders.select(
            F.substring(cents.cast("string"), 1, 1).cast("int").alias("digit")
        )
        .groupBy("digit")
        .agg(F.count("*").cast("long").alias("n_obs"))
    )
    tot = obs.agg(F.sum("n_obs").cast("long").alias("n"))
    expected = spark.createDataFrame(
        sorted(_BENFORD_P.items()), "digit int, p double"
    )
    joined = (
        expected.join(F.broadcast(obs), "digit", "left")
        .crossJoin(F.broadcast(tot))
    )
    n_obs = F.coalesce(F.col("n_obs"), F.lit(0)).cast("long")
    n_exp = F.col("n").cast("double") * F.col("p")
    delta = n_obs.cast("double") - n_exp
    return joined.select(
        "digit",
        n_obs.alias("n_obs"),
        F.round(n_exp, 6).alias("n_expected"),
        F.round(delta * delta / n_exp, 6).alias("chisq_term"),
    )


@_q(
    "cuped_adjusted_spend",
    f"""
    WITH base AS (
      SELECT user_id,
             CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS d,
             CASE WHEN event_type = 'purchase'
                  THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END AS cents
      FROM events
    ),
    d0 AS (SELECT min(d) AS dmin FROM base),
    u AS (
      SELECT user_id,
             CAST(sum(CASE WHEN d - dmin < 15 THEN cents ELSE 0 END)
                  AS BIGINT) AS x,
             CAST(sum(CASE WHEN d - dmin >= 15 THEN cents ELSE 0 END)
                  AS BIGINT) AS y
      FROM base, d0 GROUP BY user_id
    ),
    g AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
             CAST(sum(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
             CAST(sum(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
                  AS DECIMAL(38,0)) AS sxy,
             CAST(sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))
                  AS DECIMAL(38,0)) AS sxx
      FROM u
    ),
    th AS (
      SELECT CASE WHEN n * sxx - sx * sx = 0 THEN 0.0
                  ELSE CAST(n * sxy - sx * sy AS DOUBLE)
                       / CAST(n * sxx - sx * sx AS DOUBLE) END AS theta,
             CAST(sx AS DOUBLE) / n AS xbar
      FROM g
    ),
    v AS (
      SELECT CASE WHEN ({{hash}}) % 2 = 0 THEN 'control'
                  ELSE 'treatment' END AS variant,
             CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxv,
             CAST(sum(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS syv
      FROM u GROUP BY 1
    )
    SELECT variant, n_users,
           round(CAST(syv AS DOUBLE) / n_users / 100.0, 6) AS mean_spend,
           round((CAST(syv AS DOUBLE) / n_users
                  - th.theta * (CAST(sxv AS DOUBLE) / n_users - th.xbar))
                 / 100.0, 6) AS mean_spend_cuped,
           round(th.theta, 6) AS theta
    FROM v, th
    """.format(hash=_SQL_HASH64.format(x="user_id::VARCHAR")),
)
def cuped_adjusted_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout (Deng et al., WSDM'13 — the
    standard experimentation-platform adjustment): pre-period spend
    (days 0-14 of the window) as the covariate for post-period spend
    (days 15+), theta = cov(x,y)/var(x) fitted on EXACT DECIMAL(38,0)
    moments, variant assignment by the engine-portable md5 hash (the
    sample_split_hash contract — reproducible across engines, runs, and
    partitionings). Adjusted mean = mean_y - theta*(mean_x - xbar); a
    zero-variance covariate degrades to theta=0 (no adjustment) rather
    than a NaN.

    Scale: one groupBy(user) over events, then 1-row moment frames
    broadcast everywhere — the same shape as welch_ttest_segments; no
    window, no sort."""
    ev = load_table(spark, "events", sf_dir)
    day = F.floor(F.unix_timestamp(F.date_trunc("day", "ts")) / 86400).cast(
        "long"
    )
    base = ev.select(
        "user_id",
        day.alias("d"),
        F.when(
            F.col("event_type") == "purchase",
            F.round(F.col("value") * 100).cast("long"),
        )
        .otherwise(F.lit(0))
        .alias("cents"),
    )
    d0 = base.agg(F.min("d").alias("dmin"))
    u = (
        base.crossJoin(F.broadcast(d0))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("d") - F.col("dmin") < 15, F.col("cents"))
                .otherwise(F.lit(0))
            ).cast("long").alias("x"),
            F.sum(
                F.when(F.col("d") - F.col("dmin") >= 15, F.col("cents"))
                .otherwise(F.lit(0))
            ).cast("long").alias("y"),
        )
    )

    def dec(c: F.Column) -> F.Column:
        return c.cast("decimal(38,0)")

    g = u.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(dec(F.col("x"))).cast("decimal(38,0)").alias("sx"),
        F.sum(dec(F.col("y"))).cast("decimal(38,0)").alias("sy"),
        F.sum(dec(F.col("x")) * dec(F.col("y")))
        .cast("decimal(38,0)")
        .alias("sxy"),
        F.sum(dec(F.col("x")) * dec(F.col("x")))
        .cast("decimal(38,0)")
        .alias("sxx"),
    )
    n = F.col("n")
    th = g.select(
        F.when(n * F.col("sxx") - F.col("sx") * F.col("sx") == 0, F.lit(0.0))
        .otherwise(
            (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        )
        .alias("theta"),
        (F.col("sx").cast("double") / n).alias("xbar"),
    )
    variant = F.when(
        portable_hash64(F.col("user_id").cast("string")) % 2 == 0, "control"
    ).otherwise("treatment")
    v = u.groupBy(variant.alias("variant")).agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum(dec(F.col("x"))).cast("decimal(38,0)").alias("sxv"),
        F.sum(dec(F.col("y"))).cast("decimal(38,0)").alias("syv"),
    )
    nv = F.col("n_users")
    return v.crossJoin(F.broadcast(th)).select(
        "variant",
        nv.alias("n_users"),
        F.round(F.col("syv").cast("double") / nv / 100.0, 6).alias(
            "mean_spend"
        ),
        F.round(
            (
                F.col("syv").cast("double") / nv
                - F.col("theta")
                * (F.col("sxv").cast("double") / nv - F.col("xbar"))
            )
            / 100.0,
            6,
        ).alias("mean_spend_cuped"),
        F.round(F.col("theta"), 6).alias("theta"),
    )


@_q(
    "km_user_conversion",
    """
    WITH RECURSIVE ue AS (
      SELECT user_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS cents,
             CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS d
      FROM events
    ),
    f AS (
      SELECT user_id, min(d) AS first_d, max(d) AS last_d,
             CAST(count(*) AS BIGINT) AS n_ev
      FROM ue GROUP BY user_id
    ),
    conv AS (
      SELECT user_id, min(d) AS conv_d
      FROM ue WHERE event_type = 'purchase' AND cents >= 15000
      GROUP BY user_id
    ),
    lab AS (
      SELECT f.user_id,
             CASE WHEN f.n_ev < 55 THEN 'low'
                  WHEN f.n_ev < 75 THEN 'mid' ELSE 'high' END AS cohort,
             CASE WHEN c.conv_d IS NOT NULL THEN c.conv_d - f.first_d
                  ELSE f.last_d - f.first_d END AS t,
             CASE WHEN c.conv_d IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM f LEFT JOIN conv c ON c.user_id = f.user_id
    ),
    risk AS (
      SELECT cohort, t, CAST(sum(ev) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS total_t
      FROM lab GROUP BY cohort, t
    ),
    cum AS (
      SELECT cohort, t, d,
             CAST(sum(total_t) OVER (PARTITION BY cohort ORDER BY t DESC)
                  AS BIGINT) AS n_risk,
             CAST(row_number() OVER (PARTITION BY cohort ORDER BY t) AS INT)
               AS step
      FROM risk
    ),
    rec(cohort, step, t, d, n_risk, s) AS (
      SELECT cohort, step, t, d, n_risk,
             1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)
      FROM cum WHERE step = 1
      UNION ALL
      SELECT c.cohort, c.step, c.t, c.d, c.n_risk,
             r.s * (1.0 - CAST(c.d AS DOUBLE) / CAST(c.n_risk AS DOUBLE))
      FROM rec r JOIN cum c ON c.cohort = r.cohort AND c.step = r.step + 1
    )
    SELECT cohort, t AS t_days, n_risk, d AS n_events,
           round(s, 6) AS survival
    FROM rec
    """,
)
def km_user_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier product-limit curve for time-to-first-big-purchase
    (>= $150), right-censored at each user's last observed day — the
    survival-analysis primitive for conversion/churn readouts, per
    activity cohort (low/mid/high event volume). ~45-55 percent of users
    convert in the window at every SF, so the censoring branch is
    genuinely exercised. The risk table (n at risk via one reverse
    cumulative window) is exact integers; the cumulative product folds
    ascending inside operators.recurrence.keyed_km_survival with the
    oracle replaying the identical float64 sequence step by step in a
    recursive CTE (the EMA/Holt determinism contract; censor-only rows
    multiply by exactly 1.0, which is an IEEE identity).

    Scale: two groupBys over events plus a risk-table fold whose size is
    bounded by days-in-window x cohorts, not data size."""
    ev = load_table(spark, "events", sf_dir)
    day = F.floor(F.unix_timestamp(F.date_trunc("day", "ts")) / 86400).cast(
        "long"
    )
    cents = F.round(F.col("value") * 100).cast("long")
    ue = ev.select("user_id", "event_type", cents.alias("cents"), day.alias("d"))
    f = ue.groupBy("user_id").agg(
        F.min("d").alias("first_d"),
        F.max("d").alias("last_d"),
        F.count("*").cast("long").alias("n_ev"),
    )
    conv = (
        ue.filter((F.col("event_type") == "purchase") & (F.col("cents") >= 15000))
        .groupBy("user_id")
        .agg(F.min("d").alias("conv_d"))
    )
    cohort = (
        F.when(F.col("n_ev") < 55, "low")
        .when(F.col("n_ev") < 75, "mid")
        .otherwise("high")
    )
    lab = f.join(conv, "user_id", "left").select(
        cohort.alias("cohort"),
        F.when(
            F.col("conv_d").isNotNull(), F.col("conv_d") - F.col("first_d")
        )
        .otherwise(F.col("last_d") - F.col("first_d"))
        .alias("t"),
        F.when(F.col("conv_d").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    risk = lab.groupBy("cohort", "t").agg(
        F.sum("ev").cast("long").alias("d"),
        F.count("*").cast("long").alias("total_t"),
    )
    w = Window.partitionBy("cohort").orderBy(F.col("t").desc())
    cum = risk.withColumn(
        "n_risk", F.sum("total_t").over(w).cast("long")
    ).select("cohort", "t", "d", "n_risk")
    km = recurrence.keyed_km_survival(cum, "cohort", "t", "d", "n_risk")
    return km.select(
        F.col("key").alias("cohort"),
        F.col("t").alias("t_days"),
        "n_risk",
        F.col("d").alias("n_events"),
        "survival",
    )


# ---------------------------------------------------------------------------
# Model-evaluation & resampling statistics (round-7 batch 7)
# ---------------------------------------------------------------------------

# Quantized Poisson(1) CDF on the 2^20 draw domain (bit-sliced 20-bit
# uniforms, see bootstrap_ci_spend), as declared integer thresholds
# shared verbatim by the Spark plan and the oracle: a uniform draw
# u in [0, 2^20) maps to weight w = #{thresholds <= u}. Correctness of
# the cross-engine hash depends only on both engines applying the SAME
# literals to the SAME md5-derived u — not on how closely they track
# exp(-1)/k! (they are t_k = round(F(k) · 2^20)).
_POIS1_CUM_2P20 = [
    385750,   # F(0)
    771499,   # F(1)
    964374,   # F(2)
    1028665,  # F(3)
    1044738,  # F(4)
    1047953,  # F(5)
    1048489,  # F(6)
    1048565,  # F(7)
    1048575,  # F(8) — else 9
]

_POIS1_W_SQL = " + ".join(
    f"(CASE WHEN u >= {t} THEN 1 ELSE 0 END)" for t in _POIS1_CUM_2P20
)

@_q(
    "bootstrap_ci_spend",
    f"""
    WITH p AS (
      SELECT event_id, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    h AS (
      SELECT cents, k,
             md5('pb:' || CAST(k AS VARCHAR) || ':'
                 || CAST(event_id AS VARCHAR)) AS hx
      FROM p, (SELECT unnest(generate_series(0, 10)) AS k) r
    ),
    v AS (
      SELECT cents, k, hh,
             ('0x' || substr(hx, 1 + 15 * hh, 15))::BIGINT AS v
      FROM h, (SELECT unnest(generate_series(0, 1)) AS hh) s
    ),
    bs AS (
      SELECT cents, 6 * k + 3 * hh + j AS b,
             (v >> (20 * j)) & 1048575 AS u
      FROM v, (SELECT unnest(generate_series(0, 2)) AS j) t
      WHERE 6 * k + 3 * hh + j < 64
    ),
    wt AS (SELECT b, cents, {_POIS1_W_SQL} AS w FROM bs),
    g AS (
      SELECT b, CAST(sum(w) AS BIGINT) AS n_eff,
             CAST(sum(w * cents) AS BIGINT) AS total_cents
      FROM wt GROUP BY b
    ),
    m AS (
      SELECT b, n_eff, total_cents,
             CAST(total_cents AS DOUBLE) / CAST(n_eff AS DOUBLE) AS mean_v
      FROM g
    ),
    rk AS (
      SELECT mean_v,
             row_number() OVER (ORDER BY mean_v, total_cents, n_eff) AS r
      FROM m
    ),
    pt AS (
      SELECT CAST(count(*) AS BIGINT) AS n_purchases,
             CAST(sum(cents) AS BIGINT) AS tot
      FROM p
    )
    SELECT n_purchases, CAST(64 AS BIGINT) AS n_resamples,
           round(CAST(tot AS DOUBLE) / CAST(n_purchases AS DOUBLE) / 100.0,
                 6) AS point_mean,
           round(lo.mean_v / 100.0, 6) AS ci_lo,
           round(hi.mean_v / 100.0, 6) AS ci_hi
    FROM pt, (SELECT mean_v FROM rk WHERE r = 2) lo,
         (SELECT mean_v FROM rk WHERE r = 63) hi
    """,
)
def bootstrap_ci_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap 95% CI for mean purchase value — THE bootstrap
    that scales: classic resampling-with-replacement needs the global n
    to draw multinomial counts, but Poisson(1) weights are independent
    per (row, resample), so the whole procedure is one stateless map.
    Weights are deterministic: draw b = 6k + 3h + j takes its 20-bit
    uniform u from bit-slice j of the 60-bit hex half h of md5 hash
    'pb:k:event_id' — 60 = 3·20 exactly, so the slices are UNBIASED
    (base-1e6 digits would wrap 2^60 87% of the way on the top digit);
    u is scored against the quantized-Poisson thresholds declared on
    the 2^20 domain (_POIS1_CUM_2P20), identical in both engines by
    construction. Packing 6 draws per hash means 11 md5s per PURCHASE
    row instead of 64 per exploded (row, b). Plan shape matters as
    much as hash count: exploding k FIRST (11 rows/purchase) keeps the
    md5/conv/bit-slice chain in PLAIN whole-stage-codegen projections
    (named columns between stages, codegen CSE handles the double
    substring reference) where an in-row 64-draw array built through
    nested higher-order transforms evaluates interpreted — measured
    1.89 s (64 md5s, HOF) -> 1.57 s (11 md5s, HOF) -> 0.73 s (this
    form) at sf0.1. Same statistical contract, oracle in lockstep.

    Plan: the purchase projection computes its 64-draw array map-side,
    posexplodes it (no join), and partial-aggregates per resample into
    EXACTLY 64 (sum w, sum w*cents) BIGINT rows; the CI is a rank pick
    over that bounded 64-row frame (the single-partition window is over
    B rows, never data rows). At 100 TB this is one wide scan + a
    64-row shuffle — resample count, not data volume, bounds state.
    Ordering for the rank pick is (mean, total, n_eff): the double mean
    is one IEEE division of two exact BIGINTs, bit-identical across
    engines, and the integer tie-breaks pin ties."""
    ev = load_table(spark, "events", sf_dir)
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    mask = F.lit((1 << 20) - 1)
    ek = p.select(
        "cents",
        "event_id",
        F.explode(F.sequence(F.lit(0), F.lit(10))).alias("k"),
    )
    hx = ek.select(
        "cents",
        "k",
        F.md5(
            F.concat(
                F.lit("pb:"),
                F.col("k").cast("string"),
                F.lit(":"),
                F.col("event_id").cast("string"),
            )
        ).alias("hx"),
    )
    v = hx.select(
        "cents",
        "k",
        F.conv(F.substring("hx", 1, 15), 16, 10).cast("long").alias("v0"),
        F.conv(F.substring("hx", 16, 15), 16, 10).cast("long").alias("v1"),
    )
    # array position = 3*half + j, so b = 6k + pos — the same draw
    # numbering the oracle's (k, hh, j) unnests produce
    draws = F.array(
        F.col("v0").bitwiseAND(mask),
        F.shiftrightunsigned("v0", 20).bitwiseAND(mask),
        F.shiftrightunsigned("v0", 40).bitwiseAND(mask),
        F.col("v1").bitwiseAND(mask),
        F.shiftrightunsigned("v1", 20).bitwiseAND(mask),
        F.shiftrightunsigned("v1", 40).bitwiseAND(mask),
    )
    d = (
        v.select("cents", (F.col("k") * 6).alias("k6"), F.posexplode(draws))
        .toDF("cents", "k6", "j", "u")
        .select("cents", (F.col("k6") + F.col("j")).alias("b"), "u")
        .filter(F.col("b") < 64)
    )
    w_col = None
    for t in _POIS1_CUM_2P20:
        term = (F.col("u") >= t).cast("int")
        w_col = term if w_col is None else (w_col + term)
    weighted = d.select("b", w_col.cast("long").alias("w"), F.col("cents"))
    # every resample b sees EXACTLY one row per purchase, so the
    # unweighted point statistics (n_purchases, Σcents) fall out of the
    # SAME 64-key aggregate — identical values on every b-row, no
    # second events scan, no crossJoin of a separate point branch
    g = weighted.groupBy("b").agg(
        F.sum("w").cast("long").alias("n_eff"),
        F.sum(F.col("w") * F.col("cents")).cast("long").alias("total_cents"),
        F.count("*").cast("long").alias("n_purch"),
        F.sum("cents").cast("long").alias("tot"),
    )
    m = g.withColumn(
        "mean_v",
        F.col("total_cents").cast("double") / F.col("n_eff").cast("double"),
    )
    # 64-row frame: the unpartitioned window is bounded by B, not data
    rk = m.withColumn(
        "r",
        F.row_number().over(
            Window.orderBy("mean_v", "total_cents", "n_eff")
        ),
    )
    # both CI endpoints off ONE ranked branch (two filters would each
    # recompute the whole explode+agg pipeline — seen in the plan)
    ci = rk.filter(F.col("r").isin(2, 63)).agg(
        F.min(F.when(F.col("r") == 2, F.col("mean_v"))).alias("lo_v"),
        F.min(F.when(F.col("r") == 63, F.col("mean_v"))).alias("hi_v"),
        F.min("n_purch").alias("n_purchases"),
        F.min("tot").alias("tot"),
    )
    # empty-input alignment (r8 ADVICE): a global agg over zero rows
    # yields one all-null row, while the oracle's comma-join with the
    # empty r=2/r=63 endpoint subqueries yields ZERO rows — filter the
    # null row so both engines agree on the empty-purchases shape (with
    # any purchase at all, 64 resample rows exist and n_purchases is
    # never null, so this touches only the empty case)
    ci = ci.filter(F.col("n_purchases").isNotNull())
    return ci.select(
        "n_purchases",
        F.lit(64).cast("long").alias("n_resamples"),
        F.round(
            F.col("tot").cast("double")
            / F.col("n_purchases").cast("double")
            / 100.0,
            6,
        ).alias("point_mean"),
        F.round(F.col("lo_v") / 100.0, 6).alias("ci_lo"),
        F.round(F.col("hi_v") / 100.0, 6).alias("ci_hi"),
    )


@_q(
    "spearman_customer_value",
    """
    WITH cv AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS x,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS y
      FROM orders GROUP BY o_custkey
    ),
    rx AS (
      SELECT x, o_custkey, row_number() OVER (ORDER BY x, o_custkey) AS r
      FROM cv
    ),
    gx AS (
      SELECT x, CAST(min(r) + max(r) AS BIGINT) AS r2x FROM rx GROUP BY x
    ),
    ry AS (
      SELECT y, o_custkey, row_number() OVER (ORDER BY y, o_custkey) AS r
      FROM cv
    ),
    gy AS (
      SELECT y, CAST(min(r) + max(r) AS BIGINT) AS r2y FROM ry GROUP BY y
    ),
    j AS (
      SELECT cv.o_custkey, gx.r2x, gy.r2y
      FROM cv JOIN gx USING (x) JOIN gy USING (y)
    ),
    mo AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(r2x) AS BIGINT) AS sx,
             CAST(sum(r2y) AS BIGINT) AS sy,
             CAST(sum(r2x * r2x) AS BIGINT) AS sxx,
             CAST(sum(r2y * r2y) AS BIGINT) AS syy,
             CAST(sum(r2x * r2y) AS BIGINT) AS sxy
      FROM j
    )
    SELECT n AS n_customers, sxy AS rank_cross_sum,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
             AS spearman_rho
    FROM mo
    """,
)
def spearman_customer_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Spearman rank correlation between a customer's order count
    and their total spend — the tie-correct definition (Pearson on
    midranks), computed entirely in integers by carrying 2*midrank =
    min_rank + max_rank per value group (the roc_auc_embedding_norm
    trick, generalized to two variables). Not in the reference (§2.3
    extension).

    Plan: one groupBy builds the per-customer (count, cents) frame;
    each variable gets exact global (value, id) ranks from
    layout.global_order_positions (range-sharded parallel windows — no
    global sort), rolled up per distinct value and equi-joined back.
    Moments are five BIGINT sums; rho is one final expression with two
    correctly-rounded IEEE sqrts, so the hash is engine-free. Products
    stay under 2^63 up to ~1e5 ranked keys per variable; past that the
    moment sums move to DECIMAL(38,0) like the ACF family."""
    orders = load_table(spark, "orders", sf_dir)
    cv = orders.groupBy("o_custkey").agg(
        F.count("*").cast("long").alias("x"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("y"),
    )
    # three consumers (rank passes + the join-back): materialize once
    cv = cv.localCheckpoint()
    # x = order count per customer: BOUNDED cardinality (max orders per
    # key, dozens of distinct values at any corpus size), so its
    # midranks come straight from the grouped (value, count) frame —
    # 2r = 2*(cum - cnt) + cnt + 1 over a distinct-value-sized window —
    # instead of a second full sharded rank pass (measured: the pass's
    # approxQuantile sketch + offsets collect were half the query)
    gx = cv.groupBy("x").agg(F.count("*").cast("long").alias("cnt"))
    wx = Window.orderBy("x").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r2x = gx.select(
        "x",
        (
            2 * (F.sum("cnt").over(wx) - F.col("cnt"))
            + F.col("cnt")
            + 1
        )
        .cast("long")
        .alias("r2x"),
    )
    # y = total spend cents: near-unique -> the sharded exact rank pass
    ranked = layout.global_order_positions(
        cv.select("o_custkey", "y"), "y", "o_custkey"
    )
    r2y = ranked.groupBy("y").agg(
        ((F.min("position") + 1) + (F.max("position") + 1))
        .cast("long")
        .alias("r2y")
    )
    j = cv.join(F.broadcast(r2x), "x").join(r2y, "y")
    mo = j.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("r2x").cast("long").alias("sx"),
        F.sum("r2y").cast("long").alias("sy"),
        F.sum(F.col("r2x") * F.col("r2x")).cast("long").alias("sxx"),
        F.sum(F.col("r2y") * F.col("r2y")).cast("long").alias("syy"),
        F.sum(F.col("r2x") * F.col("r2y")).cast("long").alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den_x = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    den_y = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    return mo.select(
        F.col("n").alias("n_customers"),
        F.col("sxy").alias("rank_cross_sum"),
        F.round(num / (F.sqrt(den_x) * F.sqrt(den_y)), 6).alias(
            "spearman_rho"
        ),
    )


def _scored_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared scored frame of the model-eval family (ROC-AUC /
    calibration / lift / isotonic): e6-scaled embedding-norm score,
    odd-label positive class. localCheckpoint'ed because every consumer
    drives multiple passes (rank + totals) and the 64-dim HOF norm fold
    is the whole cost otherwise (measured on roc_auc at 100x: 26.5 s ->
    1.78 s); memoized per (session, sf_dir) so the four consumers share
    ONE checkpoint instead of materializing identical bytes four times."""

    def build() -> DataFrame:
        emb = load_table(spark, "embeddings", sf_dir)
        from ssp_spark.functions import dot as _dot

        sc = emb.select(
            "vec_id",
            (F.col("label") % 2).cast("long").alias("y"),
            F.round(
                F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
                * 1000000
            )
            .cast("long")
            .alias("s"),
        )
        return sc.localCheckpoint()

    return _session_memo(
        spark, ("scored_emb", _os.path.abspath(sf_dir)), build
    )


def _ranked_scored_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scored frame stamped with its exact 0-based global
    (score, vec_id) ascending rank — the ONE sharded rank pass the whole
    model-eval family rides. Memoized + checkpointed per (session,
    sf_dir): unmemoized, each consumer re-paid the pass's approxQuantile
    boundary sketch and S-row offsets collect (layout.py) — BASELINE.md
    measured those two driver jobs as ~half of a rank-consuming query.
    Descending ranks derive from this same frame (see lift_gain_deciles)
    rather than running a second pass over negated scores."""
    return _session_memo(
        spark,
        ("ranked_emb", _os.path.abspath(sf_dir)),
        lambda: layout.global_order_positions(
            _scored_embeddings(spark, sf_dir), "s", "vec_id"
        ).localCheckpoint(),
    )


_SQL_SCORED_EMB = """
      SELECT vec_id, CAST(label % 2 AS BIGINT) AS y,
             CAST(round(sqrt(list_dot_product(embedding::DOUBLE[],
                                              embedding::DOUBLE[]))
                        * 1000000) AS BIGINT) AS s
      FROM embeddings
"""


@_q(
    "calibration_bins_embeddings",
    f"""
    WITH sc AS ({_SQL_SCORED_EMB}),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM sc),
    rk AS (
      SELECT y, s, row_number() OVER (ORDER BY s, vec_id) - 1 AS pos
      FROM sc
    ),
    b AS (SELECT (pos * 10) // tot.n AS bin, y, s FROM rk, tot)
    SELECT CAST(bin AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS n_bin,
           CAST(sum(y) AS BIGINT) AS n_pos,
           round(CAST(sum(s) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                 / 1000000.0, 6) AS mean_score,
           round(CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
             AS pos_rate
    FROM b GROUP BY 1
    """,
)
def calibration_bins_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins — the calibration half of the model-eval
    trio (with roc_auc_embedding_norm and lift_gain_deciles): exact
    rank-based score deciles, each reporting its mean score vs observed
    positive rate. Deciles come from the 0-based global (score, id)
    position — integer (pos*10) div n, so bin edges are exact and ties
    split deterministically by id, never by engine sort order. Not in
    the reference (§2.3 extension).

    Plan: one sharded rank pass (no global sort; the memoized family
    artifact), a broadcast 1-row total, one 10-key map-side-combined
    groupBy. Every float is a fixed per-bin op sequence on two exact
    BIGINTs."""
    sc = _scored_embeddings(spark, sf_dir)
    ranked = _ranked_scored_embeddings(spark, sf_dir)
    tot = sc.agg(F.count("*").cast("long").alias("n"))
    b = ranked.crossJoin(F.broadcast(tot)).withColumn(
        "bin", F.expr("(position * 10) div n")
    )
    return (
        b.groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n_bin"),
            F.sum("y").cast("long").alias("n_pos"),
            F.sum("s").cast("long").alias("sum_s"),
        )
        .select(
            F.col("bin").cast("long").alias("bin"),
            "n_bin",
            "n_pos",
            F.round(
                F.col("sum_s").cast("double")
                / F.col("n_bin").cast("double")
                / 1000000.0,
                6,
            ).alias("mean_score"),
            F.round(
                F.col("n_pos").cast("double") / F.col("n_bin").cast("double"),
                6,
            ).alias("pos_rate"),
        )
    )


@_q(
    "lift_gain_deciles",
    f"""
    WITH sc AS ({_SQL_SCORED_EMB}),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(y) AS BIGINT) AS np FROM sc),
    rk AS (
      SELECT y, row_number() OVER (ORDER BY -s, vec_id) - 1 AS pos
      FROM sc
    ),
    d AS (SELECT (pos * 10) // tot.n AS decile, y FROM rk, tot),
    g AS (
      SELECT CAST(decile AS BIGINT) AS decile,
             CAST(count(*) AS BIGINT) AS n_d,
             CAST(sum(y) AS BIGINT) AS pos_d
      FROM d GROUP BY 1
    ),
    c AS (
      SELECT decile, n_d, pos_d,
             CAST(sum(n_d) OVER w AS BIGINT) AS cum_n,
             CAST(sum(pos_d) OVER w AS BIGINT) AS cum_pos
      FROM g
      WINDOW w AS (ORDER BY decile
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT decile, n_d, pos_d, cum_n, cum_pos,
           round(CAST(cum_pos AS DOUBLE) / CAST(np AS DOUBLE), 6) AS gain,
           round(CAST(cum_pos * n AS DOUBLE) / CAST(cum_n * np AS DOUBLE), 6)
             AS lift
    FROM c, tot
    """,
)
def lift_gain_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-gains / lift table — the targeting half of the
    model-eval trio: rank the population by score descending, cut exact
    rank deciles, and report what share of all positives the top-k
    deciles capture (gain) and the rate ratio vs. base (lift). Ordering
    is (-score, id): derived EXACTLY from the memoized ascending rank
    pass (ties pin to id on both sides). Not in the reference (§2.3
    extension).

    Plan: the shared sharded rank pass, one score-keyed window to flip
    it descending, a 10-key groupBy, then cumulative sums over the
    BOUNDED 10-row decile frame (the unpartitioned window is over
    deciles, never data rows) against a broadcast totals row."""
    sc = _scored_embeddings(spark, sf_dir)
    ranked = _ranked_scored_embeddings(spark, sf_dir)
    tot = sc.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("np"),
    )
    # (s desc, vec_id asc) position from the ASC pass: an s-tie block
    # occupying ascending positions [a..b] keeps its internal vec_id-asc
    # order and lands at [n-1-b .. n-1-a] in the descending order, so
    # pos_desc = (n-1-b) + (pos-a). ONE s-keyed window (near-unique key,
    # tiny frames) replaces a whole second rank pass (its approxQuantile
    # sketch + offsets collect + shard window).
    wg = Window.partitionBy("s")
    d = (
        ranked.crossJoin(F.broadcast(tot))
        .withColumn(
            "pd",
            F.col("n")
            - 1
            - F.max("position").over(wg)
            + (F.col("position") - F.min("position").over(wg)),
        )
        .withColumn("decile", F.expr("(pd * 10) div n"))
    )
    g = d.groupBy("decile").agg(
        F.count("*").cast("long").alias("n_d"),
        F.sum("y").cast("long").alias("pos_d"),
    )
    # 10-row frame: the unpartitioned window is bounded by decile count
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = g.select(
        F.col("decile").cast("long").alias("decile"),
        "n_d",
        "pos_d",
        F.sum("n_d").over(w).cast("long").alias("cum_n"),
        F.sum("pos_d").over(w).cast("long").alias("cum_pos"),
    )
    return c.crossJoin(F.broadcast(tot)).select(
        "decile",
        "n_d",
        "pos_d",
        "cum_n",
        "cum_pos",
        F.round(
            F.col("cum_pos").cast("double") / F.col("np").cast("double"), 6
        ).alias("gain"),
        F.round(
            (F.col("cum_pos") * F.col("n")).cast("double")
            / (F.col("cum_n") * F.col("np")).cast("double"),
            6,
        ).alias("lift"),
    )


@_q(
    "streaks_user_activity",
    """
    WITH ud AS (
      SELECT DISTINCT user_id,
             CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS d
      FROM events
    ),
    isl AS (
      SELECT user_id, d,
             d - row_number() OVER (PARTITION BY user_id ORDER BY d) AS k
      FROM ud
    ),
    runs AS (
      SELECT user_id, k, CAST(count(*) AS BIGINT) AS len,
             CAST(min(d) AS BIGINT) AS d0
      FROM isl GROUP BY user_id, k
    ),
    best AS (
      SELECT user_id, len, d0,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY len DESC, d0) AS rn
      FROM runs
    ),
    days AS (
      SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days
      FROM runs GROUP BY user_id
    )
    SELECT b.user_id, b.len AS best_streak_days, b.d0 AS streak_start_d,
           d.n_active_days
    FROM best b JOIN days d ON b.user_id = d.user_id
    WHERE b.rn = 1
    """,
)
def streaks_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the
    gaps-and-islands engagement primitive (retention/streak features for
    ranking and churn models): distinct user-days, island key = day −
    per-user row_number, longest run wins with earliest-start tie-break.
    Not in the reference (§2.3 extension).

    Plan: one distinct shuffle on (user, day), then every window is
    PARTITIONED by user (bounded per-key state, scales with users ×
    days-per-user, no global sort anywhere); two map-side-combined
    groupBys and one keyed self-join close it out."""
    ev = load_table(spark, "events", sf_dir)
    ud = ev.select(
        "user_id",
        F.expr("unix_timestamp(date_trunc('day', ts)) div 86400").alias("d"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    isl = ud.withColumn(
        "k", F.col("d") - F.row_number().over(w).cast("long")
    )
    runs = isl.groupBy("user_id", "k").agg(
        F.count("*").cast("long").alias("len"),
        F.min("d").cast("long").alias("d0"),
    )
    w2 = Window.partitionBy("user_id").orderBy(
        F.col("len").desc(), F.col("d0")
    )
    best = (
        runs.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") == 1)
        .drop("rn", "k")
    )
    days = runs.groupBy("user_id").agg(
        F.sum("len").cast("long").alias("n_active_days")
    )
    return best.join(days, "user_id").select(
        "user_id",
        F.col("len").alias("best_streak_days"),
        F.col("d0").alias("streak_start_d"),
        "n_active_days",
    )


@_q(
    "isotonic_calibration_embeddings",
    f"""
    WITH sc AS ({_SQL_SCORED_EMB}),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM sc),
    rk AS (
      SELECT y, row_number() OVER (ORDER BY s, vec_id) - 1 AS pos
      FROM sc
    ),
    cells AS (
      SELECT CAST((pos * 100) // tot.n AS BIGINT) AS cell,
             CAST(count(*) AS BIGINT) AS n_c,
             CAST(sum(y) AS BIGINT) AS p_c
      FROM rk, tot GROUP BY 1
    ),
    cum AS (
      SELECT cell, n_c, p_c,
             CAST(sum(n_c) OVER w AS BIGINT) AS cum_n,
             CAST(sum(p_c) OVER w AS BIGINT) AS cum_pos
      FROM cells
      WINDOW w AS (ORDER BY cell
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    pairs AS (
      SELECT a.cell AS i, b.cell AS j,
             CAST(b.cum_pos - (a.cum_pos - a.p_c) AS DOUBLE)
               / CAST(b.cum_n - (a.cum_n - a.n_c) AS DOUBLE) AS m
      FROM cum a JOIN cum b ON a.cell <= b.cell
    ),
    t1 AS (
      SELECT k.cell AS cell, p.i, min(p.m) AS lo
      FROM pairs p JOIN cum k ON p.i <= k.cell AND k.cell <= p.j
      GROUP BY 1, 2
    ),
    iso AS (SELECT cell, max(lo) AS fit FROM t1 GROUP BY cell)
    SELECT c.cell, c.n_c, c.p_c,
           round(CAST(c.p_c AS DOUBLE) / CAST(c.n_c AS DOUBLE), 6)
             AS raw_rate,
           round(i.fit, 6) AS iso_rate
    FROM cells c JOIN iso i ON c.cell = i.cell
    """,
)
def isotonic_calibration_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Isotonic (PAV) calibration of the embedding-norm score against
    the odd-label class — the standard monotone-regression calibrator
    (Zadrozny & Elkan 2002), computed EXACTLY via the minimax identity
    fit[k] = max_{{i<=k}} min_{{j>=k}} mean(y[i..j]) (Barlow & Brunk
    1972) over 100 exact rank centile cells, which equals the weighted
    pool-adjacent-violators fit without any sequential pooling loop.
    Not in the reference (§2.3 extension).

    Plan: the data pays ONE sharded rank pass + a 100-key rollup; the
    minimax evaluation then runs entirely on the BOUNDED centile frame
    — 100 rows, 5,050 block pairs, ~500k (i,k,j) triples — joined via
    broadcast, so its cost is fixed by the cell count at any data
    scale. Block means are IEEE divisions of exact BIGINT cumulative
    sums; min/max over them are order-free; the only rounding is the
    final display round(…, 6)."""
    sc = _scored_embeddings(spark, sf_dir)
    ranked = _ranked_scored_embeddings(spark, sf_dir)
    tot = sc.agg(F.count("*").cast("long").alias("n"))
    cells = (
        ranked.crossJoin(F.broadcast(tot))
        .withColumn("cell", F.expr("(position * 100) div n"))
        .groupBy("cell")
        .agg(
            F.count("*").cast("long").alias("n_c"),
            F.sum("y").cast("long").alias("p_c"),
        )
    )
    # bounded 100-row frame from here on
    w = Window.orderBy("cell").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = cells.select(
        F.col("cell").cast("long").alias("cell"),
        "n_c",
        "p_c",
        F.sum("n_c").over(w).cast("long").alias("cum_n"),
        F.sum("p_c").over(w).cast("long").alias("cum_pos"),
    ).localCheckpoint()
    a = cum.select(
        F.col("cell").alias("i"),
        (F.col("cum_n") - F.col("n_c")).alias("excl_n"),
        (F.col("cum_pos") - F.col("p_c")).alias("excl_pos"),
    )
    b = cum.select(
        F.col("cell").alias("j"),
        F.col("cum_n").alias("cn_j"),
        F.col("cum_pos").alias("cp_j"),
    )
    pairs = a.join(F.broadcast(b), F.col("i") <= F.col("j")).select(
        "i",
        "j",
        (
            (F.col("cp_j") - F.col("excl_pos")).cast("double")
            / (F.col("cn_j") - F.col("excl_n")).cast("double")
        ).alias("m"),
    )
    k = cum.select(F.col("cell").alias("k"))
    t1 = (
        pairs.join(
            F.broadcast(k),
            (F.col("i") <= F.col("k")) & (F.col("k") <= F.col("j")),
        )
        .groupBy("k", "i")
        .agg(F.min("m").alias("lo"))
    )
    iso = t1.groupBy("k").agg(F.max("lo").alias("fit"))
    return (
        cum.join(iso, cum.cell == iso.k)
        .select(
            "cell",
            "n_c",
            "p_c",
            F.round(
                F.col("p_c").cast("double") / F.col("n_c").cast("double"), 6
            ).alias("raw_rate"),
            F.round(F.col("fit"), 6).alias("iso_rate"),
        )
    )


@_q(
    "quantile_normalize_quality",
    r"""
    WITH qt AS (SELECT doc_id, source,
                       list_filter(regexp_split_to_array(text, '\s+'),
                                   x -> x <> '') AS qtoks
                FROM documents),
    qm AS (
      SELECT doc_id, source,
             CAST(len(qtoks) AS INT) AS n_tokens,
             CAST(list_sum(list_transform(qtoks, x -> length(x))) AS INT)
               AS total_len,
             CAST(len(list_filter(qtoks,
                                  x -> x IN ('the', 'a', 'of', 'and')))
               AS INT) AS n_stop
      FROM qt
    ),
    q AS (
      SELECT doc_id, source,
             CASE WHEN n_tokens > 0 THEN
               ((50 * (CAST(n_tokens AS BIGINT) * least(n_tokens, 200)
                       + 120 * least(4 * CAST(n_stop AS BIGINT), n_tokens)
                       + 10 * least(CAST(total_len AS BIGINT),
                                    8 * CAST(n_tokens AS BIGINT)))
                 + n_tokens) // (2 * CAST(n_tokens AS BIGINT)))
             ELSE 0 END AS qv
      FROM qm
    ),
    r AS (
      SELECT doc_id, source, qv,
             row_number() OVER (PARTITION BY source ORDER BY qv, doc_id)
               AS rs,
             count(*) OVER (PARTITION BY source) AS ns,
             row_number() OVER (ORDER BY qv, doc_id) - 1 AS pos,
             count(*) OVER () AS n
      FROM q
    ),
    tgt AS (
      SELECT doc_id, source, qv,
             CASE WHEN ns > 1
                  THEN ((rs - 1) * (n - 1)) // (ns - 1)
                  ELSE (n - 1) // 2 END AS g
      FROM r
    )
    SELECT t.doc_id, t.source, t.qv / 10000.0 AS q_raw,
           r2.qv / 10000.0 AS q_norm
    FROM tgt t JOIN r r2 ON t.g = r2.pos
    """,
)
def quantile_normalize_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of the per-document quality score ACROSS
    sources — the batch-effect correction step of a multi-source
    curation pipeline (heterogeneous crawls score on different scales;
    rank-mapping each source's distribution onto the pooled one makes
    one global quality threshold meaningful). Every doc's source-rank
    quantile is re-expressed as the pooled value at the matching exact
    integer rank: g = ((r_s-1)(N-1)) div (n_s-1) — no interpolation, no
    floats until the final /10^4 display division of the exact
    e4-integer quality (text.quality_e4_expr). Not in the reference
    (§2.3 extension).

    Plan: source ranks ride ONE source-keyed exchange (row_number and
    count share it); pooled ranks come from the range-sharded pass (no
    global sort); the value lookup is an equi-join on the unique
    position key. Rank products stay under 2^63 to ~3e9 docs; past
    that the g expression moves to DECIMAL(38,0) like the ACF moments."""
    docs = load_table(spark, "documents", sf_dir)
    q = docs.select(
        "doc_id", "source", text.quality_e4_expr("text").alias("qv")
    ).localCheckpoint()
    ws = Window.partitionBy("source").orderBy("qv", "doc_id")
    r = q.withColumn("rs", F.row_number().over(ws).cast("long")).withColumn(
        "ns", F.count("*").over(Window.partitionBy("source")).cast("long")
    )
    pos = layout.global_order_positions(q, "qv", "doc_id").select(
        F.col("position").alias("pos"), F.col("qv").alias("qv_g")
    )
    tot = q.agg(F.count("*").cast("long").alias("n"))
    tgt = r.crossJoin(F.broadcast(tot)).withColumn(
        "g",
        F.when(
            F.col("ns") > 1,
            F.expr("((rs - 1) * (n - 1)) div (ns - 1)"),
        ).otherwise(F.expr("(n - 1) div 2")),
    )
    return tgt.join(pos, tgt.g == pos.pos).select(
        "doc_id",
        "source",
        (F.col("qv") / 10000.0).alias("q_raw"),
        (F.col("qv_g") / 10000.0).alias("q_norm"),
    )


@_q(
    "attribution_position_based",
    """
    WITH ev AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS t,
             CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END AS pt
      FROM events
    ),
    nxt AS (
      SELECT user_id, event_id, event_type, t,
             min(pt) OVER (PARTITION BY user_id
                           ORDER BY t DESC, event_id DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS np
      FROM ev
    ),
    touches AS (
      SELECT user_id, event_type, np,
             row_number() OVER (PARTITION BY user_id, np
                                ORDER BY t, event_id) AS p,
             count(*) OVER (PARTITION BY user_id, np) AS k
      FROM nxt
      WHERE event_type <> 'purchase' AND np IS NOT NULL
    ),
    credited AS (
      SELECT event_type,
             CASE
               WHEN k = 1 THEN 10000
               WHEN k = 2 THEN 5000
               WHEN p = 1 OR p = k THEN 4000
               ELSE 2000 // (k - 2)
                    + (CASE WHEN p - 1 <= 2000 % (k - 2) THEN 1 ELSE 0 END)
             END AS bp
      FROM touches
    ),
    conv AS (
      SELECT CAST(count(DISTINCT (user_id, np)) AS BIGINT) AS n_conv
      FROM touches
    )
    SELECT event_type AS channel, CAST(count(*) AS BIGINT) AS n_touches,
           CAST(sum(bp) AS BIGINT) AS credit_bp,
           round(CAST(sum(bp) AS DOUBLE) / CAST(10000 * n_conv AS DOUBLE), 6)
             AS credit_share
    FROM credited, conv GROUP BY event_type, n_conv
    """,
)
def attribution_position_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped (position-based) multi-touch attribution — 40/20/40 in
    exact integer basis points: each non-purchase touch joins the NEXT
    purchase in its user's timeline (conversion resets the window);
    first and last touch get 4000 bp each, the middle 2000 bp split by
    integer division with the remainder distributed to the EARLIEST
    middles (+1 each) so every conversion's credits sum to exactly
    10000; k=1 takes all 10000, k=2 splits 5000/5000. Complements the
    r4 as-of last-touch query with the multi-touch family. Not in the
    reference (§2.3 extension).

    Plan: the next-purchase stamp is one user-keyed DESC window (a
    reverse running min — no as-of join needed because the probe and
    build sides are the same stream); position/size ride one
    (user, conversion)-keyed exchange; credits are a pure projection
    and the rollup is a channel-keyed map-side-combined groupBy. The
    one DISTINCT is over (user, conversion) pairs — conversion-bounded,
    not touch-bounded."""
    ev = load_table(spark, "events", sf_dir).select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("t"),
    )
    ev = ev.withColumn(
        "pt", F.when(F.col("event_type") == "purchase", F.col("t"))
    )
    wd = (
        Window.partitionBy("user_id")
        .orderBy(F.col("t").desc(), F.col("event_id").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    nxt = ev.withColumn("np", F.min("pt").over(wd))
    touches = nxt.filter(
        (F.col("event_type") != "purchase") & F.col("np").isNotNull()
    )
    wp = Window.partitionBy("user_id", "np").orderBy("t", "event_id")
    wk = Window.partitionBy("user_id", "np")
    touches = touches.withColumn(
        "p", F.row_number().over(wp).cast("long")
    ).withColumn("k", F.count("*").over(wk).cast("long"))
    bp = (
        F.when(F.col("k") == 1, F.lit(10000))
        .when(F.col("k") == 2, F.lit(5000))
        .when((F.col("p") == 1) | (F.col("p") == F.col("k")), F.lit(4000))
        .otherwise(
            F.expr("2000 div (k - 2)")
            + F.when(
                F.col("p") - 1 <= F.expr("2000 % (k - 2)"), F.lit(1)
            ).otherwise(F.lit(0))
        )
    )
    credited = touches.select("user_id", "np", "event_type", bp.alias("bp"))
    conv = credited.agg(
        F.countDistinct("user_id", "np").cast("long").alias("n_conv")
    )
    return (
        credited.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_touches"),
            F.sum("bp").cast("long").alias("credit_bp"),
        )
        .crossJoin(F.broadcast(conv))
        .select(
            F.col("event_type").alias("channel"),
            "n_touches",
            "credit_bp",
            F.round(
                F.col("credit_bp").cast("double")
                / (10000 * F.col("n_conv")).cast("double"),
                6,
            ).alias("credit_share"),
        )
    )

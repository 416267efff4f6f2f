"""Iterative graph algorithms over edge-list DataFrames.

The reference has no graph surface (its dedup-adjacent capability is the
hand-rolled keyed fold, affo/ssp node.go:57-64); connected
components already lives in operators/dedup.py (hash-to-min label
propagation). This module adds fixed-iteration PageRank — the canonical
"iterative join + re-aggregate" Spark workload, and a useful curation
signal (authority scoring over citation / link / interaction graphs).

Scale design: per iteration, contributions = ranks ⋈ out-degreed edges
(shuffle on src) then a groupBy on dst (map-side combined, shuffle =
|nodes| × partitions). The edge frame is degree-joined ONCE and cached —
iterations never recompute it. The alternating src/dst keys mean two
exchanges per iteration; that is inherent to expressing PageRank
relationally (GraphX-style vertex-cut partitioning is the specialized
alternative), and both exchanges are key-partitioned with no skew beyond
the graph's own degree distribution (salt hot hubs upstream if needed).

Determinism: fixed iteration count, no RNG; float summation order across
partitions differs from a serial engine by ~1e-15 relative, far inside
the round-6 output contract. The DuckDB oracle replays every iteration
with the same literals and operations.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, rank) after ``iters`` rounds of r' = (1-d)/N + d·Σ r_u/deg_u.

    Contract: ``edges`` must be distinct and SYMMETRIC (every edge also
    reversed) — then every node has out- and in-edges, so no dangling-mass
    redistribution is needed and the source-node set IS the node set.
    """
    deg = edges.groupBy(src).agg(F.count("*").alias("__deg"))
    ed = edges.join(deg, src).persist()
    nodes = ed.select(F.col(src).alias("node")).distinct()
    n = nodes.count()  # one scalar to the driver, like any count()
    if n == 0:
        # empty graph: the empty rank frame, not 1.0/0 (round-6 sweep)
        return nodes.select("node", F.lit(None).cast("double").alias("rank"))
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    for _ in range(iters):
        contribs = ed.join(ranks, ed[src] == ranks["node"]).select(
            F.col(dst).alias("node"), (F.col("rank") / F.col("__deg")).alias("__c")
        )
        ranks = contribs.groupBy("node").agg(
            (F.lit((1 - damping) / n) + F.lit(damping) * F.sum("__c")).alias("rank")
        )
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def bfs_levels(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    checkpoint_every: int = 8,
) -> DataFrame:
    """(node, hops) — minimum hop count from the seed set, hops <= max_hops.

    Level-synchronous frontier BFS: per level, frontier ⋈ edges on the
    source key -> neighbor set -> ``distinct`` -> anti-join against the
    visited set. This is the 100 TB shape for reachability: state is
    bounded by |V| (visited) and |frontier| <= |V| per level, and each
    level costs one key-partitioned join on ``src`` plus two |V|-bounded
    exchanges on ``node`` — NEVER path enumeration. The contrast matters:
    Spark 4's native ``WITH RECURSIVE`` supports only ``UNION ALL``
    recursion ([UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE], verified on this
    build), so the native CTE multiplies out every distinct PATH of
    length <= max_hops — super-exponential on dense or cyclic graphs.
    tests/test_curation.py pins this operator against that native CTE on
    a small cyclic graph (identical min-hop output), and the DuckDB
    oracle replays it with ``WITH RECURSIVE ... UNION`` (DuckDB's
    distinct recursion, bounded like the frontier loop).

    Determinism: set semantics per level; no floats, no RNG. Lineage
    grows one join per level, so every ``checkpoint_every`` levels the
    visited/frontier frames are ``localCheckpoint``-ed (eager) to keep
    driver-side plan growth linear — same device as the iterated
    connected-components loop (operators/dedup.py).

    Reference parity note: the reference engine has no graph surface;
    this extends the §6 curation toolkit (reachability = "everything
    linked to a flagged item within k steps", e.g. contamination blast
    radius over near-dup clusters).
    """
    visited = (
        seeds.select(F.col(seeds.columns[0]).cast("long").alias("node"))
        .distinct()
        .withColumn("hops", F.lit(0).cast("int"))
    )
    frontier = visited.select("node")
    # The edge frame is walked once per level and is often itself a join
    # (e.g. the orders x lineitem co-purchase graph) — persist it, like
    # pagerank's degree-joined edges, or every level recomputes it.
    e = edges.select(
        F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
    ).persist()
    for h in range(1, max_hops + 1):
        nxt = (
            e.join(frontier.withColumnRenamed("node", "src"), "src")
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("hops", F.lit(h).cast("int"))
        )
        # Each level is re-read by every LATER level (the next join and
        # all downstream anti-joins) — persist keeps per-level cost one
        # pass; the periodic eager localCheckpoint additionally resets
        # lineage so long walks keep linear plans.
        nxt = nxt.localCheckpoint(eager=True) if h % checkpoint_every == 0 else nxt.persist()
        visited = visited.unionByName(nxt)
        frontier = nxt.select("node")
    return visited


def label_propagation(
    edges: DataFrame,
    iters: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, community) after ``iters`` rounds of SYNCHRONOUS label
    propagation (Raghavan et al. 2007, the near-linear community
    detector): every node starts labelled with its own id; each round
    every node simultaneously adopts the most frequent label among its
    neighbours, ties broken by the SMALLEST label. Synchronous update +
    deterministic tie-break make the algorithm an exact integer
    recurrence — no RNG, no visit order — so the DuckDB oracle replays
    each round verbatim (the kcore_prune/pagerank fixed-iteration
    contract).

    Scale: per round, one key-partitioned join of edges against the
    |V|-sized label frame (shuffle on the neighbour key) and one
    two-level aggregate — count per (node, label) with map-side
    combine, then ``max_by`` a (count, -label) struct per node, both
    |V|-bounded exchanges. Labels never leave the JVM; state is one
    (node, label) row per node. The edge frame is persisted once;
    per-round label frames are persisted and the previous round
    dropped, so lineage stays linear like bfs_levels.

    Contract: ``edges`` distinct and symmetric (both directions
    present) — then the source-key set IS the node set and every node
    has >= 1 neighbour, so no keep-own-label fallback row is needed.

    Curation use: communities over interaction / co-purchase / near-dup
    graphs ("which sources cluster together") — the coarse grouping
    signal contamination and mixture analyses consume; complements
    connected components (operators/dedup.py), which over-merges
    through single bridge edges.
    """
    e = edges.select(
        F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
    ).persist()
    labels = e.select(F.col("src").alias("node")).distinct().withColumn(
        "lab", F.col("node")
    ).persist()
    for _ in range(iters):
        counts = (
            e.join(labels.withColumnRenamed("node", "dst"), "dst")
            .groupBy("src", "lab")
            .agg(F.count("*").alias("__c"))
        )
        nxt = (
            counts.groupBy("src")
            # max over (count, -label): most frequent label, ties -> min
            # label — one exact integer struct-max, no window sort.
            .agg(F.max(F.struct(F.col("__c"), (-F.col("lab")).alias("__nl"))).alias("__m"))
            .select(F.col("src").alias("node"), (-F.col("__m.__nl")).alias("lab"))
            .persist()
        )
        labels.unpersist()
        labels = nxt
    comm = labels.select("node", F.col("lab").alias("community"))
    size = comm.groupBy("community").agg(F.count("*").cast("long").alias("community_size"))
    return comm.join(size, "community").select("node", "community", "community_size")


def kcore_prune(
    edges: DataFrame,
    k: int,
    iters: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, degree) after ``iters`` rounds of k-core peeling: each
    round drops every node with degree < ``k`` (and all its edges), then
    recounts. Fixed iteration count — after ``iters`` rounds the result
    is a SUPERSET of the true k-core that equals it once peeling
    cascades settle (for near-dup/interaction graphs that is typically
    2-3 rounds); fixed rounds keep the DuckDB oracle an exact replay,
    the same contract as pagerank's fixed iterations.

    The curation use: k-core pruning is the standard cheap filter for
    interaction graphs (drop users/items with too few RETAINED
    connections — degree alone over-keeps nodes propped up by other
    low-degree nodes; peeling removes those support chains).

    Scale: per round, one map-side-combined degree count (shuffle =
    |nodes|) and two semi-joins re-keyed on each endpoint — all
    key-partitioned, state bounded by the shrinking edge list; the edge
    frame is persisted per round (each round's output feeds two joins
    and the next round), lineage cut the same way bfs_levels does.
    Contract: ``edges`` distinct and symmetric (both directions
    present), like pagerank.
    """
    e = edges.select(
        F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
    ).persist()
    for _ in range(iters):
        keep = (
            e.groupBy("src")
            .agg(F.count("*").alias("__deg"))
            .filter(F.col("__deg") >= k)
            .select(F.col("src").alias("__keep"))
        )
        e = (
            e.join(keep.withColumnRenamed("__keep", "src"), "src", "left_semi")
            .join(keep.withColumnRenamed("__keep", "dst"), "dst", "left_semi")
            .select("src", "dst")
            .persist()
        )
    return (
        e.groupBy("src")
        .agg(F.count("*").cast("long").alias("degree"))
        .select(F.col("src").alias("node"), "degree")
    )

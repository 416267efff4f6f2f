"""Iterative k-means (Lloyd's) over embedding columns — semantic
clustering for training-data curation (topic bucketing, diversity
sampling, cluster-balanced mixes).

Not in the reference (its users would hand-roll a Go loop over O2 state,
affo/ssp node.go:57-64); this is a §6-extension operator built the
Spark-native way for iterative ML:

- **Assignment is a zero-shuffle projection.** The centroid set is tiny
  (k x d doubles) and lives driver-side — the broadcast-a-model pattern
  (same as the IVF codebook, operators/similarity.py). Each iteration
  compiles the centroids into ONE Catalyst expression: per row, an array
  of (squared-distance, cid) structs and ``array_min`` for the argmin
  (struct ordering = lexicographic, so ties break on the smaller cid,
  deterministically). No join, no shuffle, no Python at row level.
- **The update step is one partial-aggregated shuffle.** posexplode the
  vector to (cluster, pos, x) and avg per (cluster, pos): map-side
  combine reduces every partition to <= k x d cells before the exchange,
  so the shuffle volume is O(k x d x partitions) regardless of row count.
  The k x d result is collected back as the next model — the only
  driver-side data, constant in the corpus size.

At 100 TB: per iteration, one scan + one k x d-bounded exchange; the
cached input frame amortizes the scan across iterations. Rows = any
count; k and d stay model-sized.

Determinism: seeds are the k lowest-id vectors (no RNG), iteration count
is fixed, and the argmin tie-break is (distance, cid) — so a fixed-
iteration run is exactly reproducible in ANSI SQL (the DuckDB oracle
replays every iteration; float summation-order differences are ~1e-13
relative, far below inter-centroid distance gaps).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

Centroids = list[tuple[int, list[float]]]


def assign(
    df: DataFrame,
    centroids: Centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, vec, cluster, d2) — nearest centroid per row, pure projection.

    An EMPTY centroid model (empty input corpus -> no seeds) returns the
    empty assignment frame with the full output schema rather than
    compiling array_min over a zero-element array (a VOID-typed
    expression Catalyst rejects) — the empty-model guard pattern of
    linalg.standardize (round-6 empty-input sweep)."""
    if not centroids:
        return df.select(
            F.col(id_col),
            F.col(vec_col).alias(vec_col),
            F.lit(None).cast("int").alias("cluster"),
            F.lit(None).cast("double").alias("d2"),
        ).limit(0)
    v = F.col(vec_col)
    cands = []
    for cid, cv in centroids:
        lit_arr = F.array(*[F.lit(float(x)) for x in cv])
        diffs = F.zip_with(v, lit_arr, lambda a, b: (a.cast("double") - b) * (a.cast("double") - b))
        d2 = F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)
        cands.append(F.struct(d2.alias("d2"), F.lit(cid).alias("cid")))
    best = F.array_min(F.array(*cands))
    return df.select(
        F.col(id_col),
        v.alias(vec_col),
        best.getField("cid").alias("cluster"),
        best.getField("d2").alias("d2"),
    )


def _update(assigned: DataFrame, vec_col: str) -> Centroids:
    """Mean vector per cluster: k x d cells after map-side combine, then
    collected as the next driver-side model (empty clusters drop out, the
    standard Lloyd's behavior)."""
    rows = (
        assigned.select("cluster", F.posexplode(vec_col).alias("p", "x"))
        .groupBy("cluster", "p")
        .agg(F.avg("x").alias("m"))
        .collect()
    )
    by_cid: dict[int, dict[int, float]] = {}
    for r in rows:
        by_cid.setdefault(r["cluster"], {})[r["p"]] = r["m"]
    return [
        (cid, [dims[p] for p in sorted(dims)]) for cid, dims in sorted(by_cid.items())
    ]


def kmeans(
    df: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fixed-iteration Lloyd's: seeds = the k lowest-id vectors, ``iters``
    assignment rounds with a centroid update between consecutive rounds.
    Returns (id, cluster, dist2) for the final assignment; cluster labels
    are the seed vectors' ids."""
    # persist: the update collects are actions, so the scan+cast runs once,
    # not once per iteration; the returned (lazy) final assignment reads
    # the same cache. Cache lifetime is the session's (like the IVF
    # codebook frame) — k-means input frames are working sets by nature.
    pts = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    ).persist()
    seed_rows = pts.orderBy(id_col).limit(k).collect()
    cents: Centroids = [(r[id_col], list(r["__v"])) for r in seed_rows]
    for _ in range(iters - 1):
        cents = _update(assign(pts, cents, id_col, "__v"), "__v")
    final = assign(pts, cents, id_col, "__v")
    return final.select(id_col, "cluster", F.round("d2", 4).alias("dist2"))

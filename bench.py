#!/usr/bin/env python
"""Benchmark harness: runs the headline queries on the fixture in
$SPARK_GRAFT_SF_DIR (default: the sf0.1 test data) on
local[$SPARK_GRAFT_CPUS] and prints two JSON lines, the full record and
then a compact one (both carry ``metric``, ``value`` in seconds,
``queries``, ``sf`` and ``cores``).

Each query runs to completion into the ``noop`` sink (full compute, no
result transfer to the driver). Protocol, per section (``timed_sweeps``):
one cold pass (JVM, codegen and file listing; reported as
``cold_total_sec`` and never a candidate), then whole-list sweeps
INTERLEAVED rather than back-to-back, so that a burst of host noise
cannot land on every sample of a query; each query keeps its fastest
sample. The headline is the sum of those bests.

A best sample is suspect when hypervisor steal exceeds 5%, when CPU
burned by processes outside our own tree exceeds 10% (steal cannot see
same-VM contention), or when it exceeds 3x + 0.25 s the query's best time
in an earlier record at the same sf and core count (``load_bands``).
Suspect rows get up to three more draws; those still suspect are named in
``dirty``.

Every run also times the identical DuckDB oracle SQL over the same parquet
files in the same process (``duckdb_*`` keys), so each record is a pair.
Record a run as ``artifacts/BENCH_<tag>.json`` in the shape
``{"cpus": ..., "sf": ..., "parsed": <full line>}`` and later runs at the
same sf and core count use it as a band.
"""

from __future__ import annotations

import gc
import glob
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.probes import HZ, host_jiffies, tree  # noqa: E402
from ssp_spark.catalog import DEFAULT_SF_DIR  # noqa: E402
from ssp_spark.queries import QUERIES, release_session_artifacts  # noqa: E402
from ssp_spark.session import (  # noqa: E402
    adaptive_enabled_for,
    default_parallelism,
    get_spark,
    sized_shuffle_partitions,
)

# Rows that carry real compute on both engines. Rows whose DuckDB oracle
# runs on a tiny post-aggregation frame stay out: on Spark they would time
# the multi-stage scheduling floor, not throughput. Where a query has a
# shipped kernel and an ANSI-replayable twin, the kernel is the headline row.
HEADLINE = [
    "word_count",
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_nation_revenue",
    "sliding_window_counts",
    "session_windows",
    "running_user_spend",
    "user_activity_pivot",
    "top_customers_per_nation",
    "asof_join_purchase_signup",
    "dedup_jaccard_pairs",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "ann_topk_bruteforce",
    "lang_id",
    "quality_score",
    "doc_fingerprint",
    "q6_forecast_revenue",
    "q18_large_orders",
    "stats_numeric_exact",
    "ann_lsh_topk_gemm",
    "dedup_simhash64_pairs",
    "cluster_dedup_keeper",
    "bigram_lm_score",
    "fuzzy_name_pairs",
    "entity_resolution_parts",
    "range_shard_manifest",
    "interval_overlap_orders",
    "funnel_conversion",
    "attribution_last_touch",
    "embedding_standardize",
    "groupwise_regression",
    "triangle_count_users",
    "embedding_covariance_blas",
    "graph_reachability_bfs",
    "dedup_span_pairs",
    "bpe_token_stats",
    "mmr_diverse_topk_arrow",
    "ema_daily_user_spend",
    "cusum_user_activity",
    "skyline_pareto_parts",
    "containment_dedup_pairs",
    "holt_trend_user_spend",
    "bootstrap_ci_spend",
    "ann_ivf_topk_gemm",
]

# The oracle-shaped expression twins of headline kernels: same protocol and
# DuckDB-paired, but reported apart from the headline ratio.
EXPR_TWINS = [
    "embedding_covariance",
    "ann_ivf_topk",
    "ann_lsh_topk",
]

# Decode throughput of the media codec gates. No DuckDB ratio: the oracle
# side replays bytes analytically and is no codec.
CODEC_PROFILE = [
    "multimodal_decode_png",
    "multimodal_decode_webp",
    "multimodal_decode_jpeg",
    "multimodal_decode_jpeg420",
    "multimodal_decode_jpeg_progressive",
    "multimodal_decode_jpeg12",
    "multimodal_decode_gif",
    "multimodal_decode_tiff",
    "multimodal_decode_bmp_rle8",
    "multimodal_decode_audio_g711",
    "multimodal_decode_audio_adpcm",
    "multimodal_decode_audio_flac",
    "multimodal_video_y4m_index",
]

# Headline rows whose plans call portable_hash64. The md5 form exists only
# so DuckDB can replay the hashes; these are re-timed under the xxhash64
# deployment profile (SSP_PORTABLE_HASH=off) to record that parity cost.
HASH_BOUND = [
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_simhash64_pairs",
    "doc_fingerprint",
]

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
RECORDS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "artifacts")
STEAL_PCT = 5.0
FOREIGN_PCT = 10.0
BAND_FACTOR = 3.0
RETRIES = 3
COMPACT_MAX = 1900  # readers of the run log may keep only its last ~2 KB


def tree_jiffies() -> int:
    """CPU jiffies of this process and its descendants (the Spark JVM and
    the Python workers), reaped children included."""
    return sum(cpu for cpu, _ in tree().values())


def steal_pct(j0: tuple[int, int, int], j1: tuple[int, int, int]) -> float:
    return round(100.0 * (j1[1] - j0[1]) / max(j1[0] - j0[0], 1), 1)


def fixture_sf(sf_dir: str) -> float | None:
    """The scale factor of a fixture directory named sf<N> (sf0.1, sf10),
    else None: a run on any other directory has no bands."""
    m = re.fullmatch(r"sf(\d+(?:\.\d+)?)", os.path.basename(sf_dir.rstrip("/")))
    return float(m.group(1)) if m else None


def load_bands(sf: float, cores: int) -> dict[str, float]:
    """Per-query best time over the records in ``RECORDS`` taken at this
    sf on this many cores; empty (the band gate off) when there are none."""
    bands: dict[str, float] = {}
    for p in sorted(glob.glob(os.path.join(RECORDS, "BENCH_*.json"))):
        try:
            with open(p) as f:
                rec = json.load(f)
            parsed = rec.get("parsed") or {}
            if rec.get("cpus") != cores or not isinstance(parsed, dict) or parsed.get("sf") != sf:
                continue
            for k, v in (parsed.get("queries") or {}).items():
                if isinstance(v, (int, float)) and v > 0:
                    bands[k] = min(bands.get(k, float(v)), float(v))
        except Exception:
            continue
    return bands


def suspect(sample: tuple, band: float | None) -> bool:
    wall, steal, foreign = sample[:3]
    if steal > STEAL_PCT or foreign > FOREIGN_PCT:
        return True
    return band is not None and wall > BAND_FACTOR * band + 0.25


def run_once(spark, name: str, sf_dir: str) -> tuple[float, float, float, float]:
    """(wall s, steal %, foreign busy %, own-tree CPU s) over one query.
    Own-tree CPU separates excess work inside our process tree (JIT, GC)
    from contention by other processes, which the two % probes see."""
    # localCheckpoint blocks of earlier queries are freed by py4j
    # finalizers only after a Python GC
    gc.collect()
    h0, tr0 = host_jiffies(), tree_jiffies()
    t0 = time.perf_counter()
    QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    h1, tr1 = host_jiffies(), tree_jiffies()
    dt = max(h1[0] - h0[0], 1)
    foreign = round(100.0 * max((h1[2] - h0[2]) - (tr1 - tr0), 0) / dt, 1)
    return wall, steal_pct(h0, h1), foreign, round((tr1 - tr0) / HZ, 2)


def timed_sweeps(run, names: list[str], sweeps: int, *, cold: bool = True,
                 retry_bands: dict[str, float] | None = None):
    """Time ``names`` with ``run(name) -> (wall s, *probes)``.

    An optional cold pass, then ``sweeps`` interleaved sweeps keeping each
    name's fastest sample (wall rounded to ms), then, when ``retry_bands``
    is given, up to ``RETRIES`` more draws for each name whose best is
    still suspect. Returns ({name: cold wall}, {name: best sample})."""
    first = {n: round(run(n)[0], 3) for n in names} if cold else {}
    best: dict[str, tuple] = {}

    def draw(n: str) -> None:
        wall, *probes = run(n)
        sample = (round(wall, 3), *probes)
        if n not in best or sample[0] < best[n][0]:
            best[n] = sample

    for _ in range(sweeps):
        for n in names:
            draw(n)
    if retry_bands is not None:
        for n in names:
            for _ in range(RETRIES):
                if not suspect(best[n], retry_bands.get(n)):
                    break
                draw(n)
    return first, best


def column(best: dict[str, tuple], i: int = 0) -> dict[str, float]:
    """{name: item i of its best sample}; item 0 is the wall time."""
    return {n: s[i] for n, s in best.items()}


def duckdb_pass(sf_dir: str, names: list[str]) -> tuple[dict[str, float], float]:
    """The same oracle SQL on DuckDB over the same parquet files: a cold
    pass and three sweeps, as on the Spark side. Returns the best walls
    and the steal % over the pass."""
    import duckdb

    from ssp_spark.queries import ORACLE

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    def run(name: str) -> tuple[float]:
        t0 = time.perf_counter()
        con.execute(ORACLE[name]).fetchall()
        return (time.perf_counter() - t0,)

    h0 = host_jiffies()
    _, best = timed_sweeps(run, names, 3)
    return column(best), steal_pct(h0, host_jiffies())


def compact_line(record: dict) -> str:
    """The record's totals and dirty rows in one short JSON line, printed
    last so the stdout tail always parses; the per-query map goes when
    the line would not fit."""
    keys = ("metric", "value", "unit", "queries", "sf", "cores", "cold_total_sec",
            "duckdb_total_sec", "host_steal_pct", "duckdb_steal_pct")
    small = {k: record[k] for k in keys}
    small["n_dirty"] = len(record["dirty"])
    small["dirty"] = record["dirty"]
    line = json.dumps(small, separators=(",", ":"))
    if len(line) > COMPACT_MAX:
        small["n_queries"] = len(small.pop("queries"))
        small["dirty"] = small["dirty"][:8]
        line = json.dumps(small, separators=(",", ":"))
    return line


def main() -> None:
    sf_dir = DEFAULT_SF_DIR
    sf = fixture_sf(sf_dir)
    cores = default_parallelism()
    spark = get_spark(
        "ssp-spark-bench",
        shuffle_partitions=sized_shuffle_partitions(sf_dir),
        adaptive=adaptive_enabled_for(sf_dir),
    )
    spark.sparkContext.setLogLevel("ERROR")

    def run(name: str) -> tuple[float, float, float, float]:
        return run_once(spark, name, sf_dir)

    h0 = host_jiffies()
    run("word_count")  # warm-up before the cold pass
    bands = load_bands(sf, cores) if sf is not None else {}
    cold, head = timed_sweeps(run, HEADLINE, 3, retry_bands=bands)
    dirty = sorted(n for n in HEADLINE if suspect(head[n], bands.get(n)))
    # Between sections, drop the memoized artifacts and every pinned block:
    # within the headline, consumer rows time consumption of a warm memo,
    # but blocks kept across sections slow later samples under GC pressure.
    release_session_artifacts(spark)
    _, twin = timed_sweeps(run, EXPR_TWINS, 3, retry_bands=bands)
    release_session_artifacts(spark)
    _, codec = timed_sweeps(run, CODEC_PROFILE, 2)
    release_session_artifacts(spark)
    os.environ["SSP_PORTABLE_HASH"] = "off"
    try:
        _, prod = timed_sweeps(run, HASH_BOUND, 2, cold=False)
    finally:
        del os.environ["SSP_PORTABLE_HASH"]
    host_steal = steal_pct(h0, host_jiffies())
    release_session_artifacts(spark)
    duck, duck_steal = duckdb_pass(sf_dir, HEADLINE + EXPR_TWINS)

    timings = column(head)
    record = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cores": cores,
        "cold_total_sec": round(sum(cold.values()), 3),
        "production_hash_profile": column(prod),
        "expr_twin_profile": column(twin),
        "expr_twin_duckdb": {n: duck[n] for n in EXPR_TWINS},
        "codec_profile": column(codec),
        "host_steal_pct": host_steal,
        "query_steal_pct": column(head, 1),
        "query_foreign_pct": column(head, 2),
        "query_cpu_sec": column(head, 3),
        "dirty": dirty,
        "duckdb_total_sec": round(sum(duck[n] for n in HEADLINE), 3),
        "duckdb_queries": duck,
        "duckdb_steal_pct": duck_steal,
    }
    print(json.dumps(record))
    print(compact_line(record))
    spark.stop()


if __name__ == "__main__":
    main()

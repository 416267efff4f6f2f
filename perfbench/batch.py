"""Batch workload: registry queries run closed loop, one at a time, on a
warm session, each to a complete result through the noop sink."""

from __future__ import annotations

import gc
import math
import statistics
import time
from contextlib import nullcontext

import check
import datagen
import engine
from probes import Window, peak_rss_mb

SF = 0.01  # 60k lineitems: the queries run near the engine's per-stage floor

# query -> (operator family it exercises, tables it reads)
BATCH = {
    # plans with no Python evaluation node: driver plan build, scheduling
    # floor and JVM operators
    "q3_top_orders": ("relational", ["customer", "orders", "lineitem"]),
    "sliding_window_counts": ("windows", ["events"]),
    "dedup_jaccard_pairs": ("dedup", ["documents"]),
    "triangle_count_users": ("graph", ["events"]),
    "lang_id": ("text", ["documents"]),
    # a codec gate, a keyed recurrence and a BLAS kernel in Python workers
    "multimodal_decode_png": ("multimodal", ["documents"]),
    "ema_daily_user_spend": ("recurrence", ["events"]),
    "embedding_covariance_blas": ("linalg", ["embeddings"]),
}
FAMILIES = [
    "relational", "windows", "dedup", "graph", "similarity",
    "text", "recurrence", "linalg", "multimodal",
]
MIN_SAMPLES = 3
# Untimed passes after set-up: per-query times keep falling for the first
# few passes of a fresh JVM while its JIT compiles the hot paths.
SETTLE_PASSES = 2


def run(ctx, queries: dict[str, tuple[str, list[str]]], sf: float = SF) -> dict:
    tr = ctx.tracer
    data_dir = datagen.write_tables(ctx.run_path("data"), sf, ctx.seed)
    table_rows = datagen.table_rows(data_dir)

    # ---- set-up: engine import, session, catalog first touch, warm-up pass
    t_setup = time.perf_counter()
    with tr.span("setup"):
        from ssp_spark import catalog
        from ssp_spark.queries import ORACLE, QUERIES

        t0 = time.perf_counter()
        with tr.span("session.get_spark"):
            spark = engine.start_session(data_dir, "perfbench")
        session_start = time.perf_counter() - t0
        groups = engine.JobGroups(spark)
        t0 = time.perf_counter()
        for t in check.TABLES:
            with tr.span("catalog.load_table"):
                catalog.load_table(spark, t, data_dir)
        load_first = time.perf_counter() - t0
        t0 = time.perf_counter()
        for t in check.TABLES:
            catalog.load_table(spark, t, data_dir)
        load_cached = time.perf_counter() - t0
        # the untimed warm-up pass collects every result for the output check
        t0 = time.perf_counter()
        results = {}
        with tr.span("session.warmup"):
            for q in queries:
                groups.tag("warm")
                try:
                    df = QUERIES[q](spark, data_dir)
                    results[q] = (list(df.columns), [tuple(r) for r in df.collect()])
                except Exception as e:
                    results[q] = None
                    ctx.log(f"{q} warm-up failed: {e!r}"[:300])
        warmup = time.perf_counter() - t0
    setup_s = time.perf_counter() - t_setup
    t0 = time.perf_counter()
    with tr.span("settle"):
        for _ in range(SETTLE_PASSES):
            for q in queries:
                groups.tag("settle")
                try:
                    QUERIES[q](spark, data_dir).write.format("noop").mode("overwrite").save()
                except Exception as e:
                    ctx.log(f"{q} settle pass failed: {e!r}"[:300])
    settle_s = time.perf_counter() - t0

    # ---- timed window: round-robin until the deadline, >= MIN_SAMPLES each
    samples: dict[str, list[tuple[float, float, bool]]] = {q: [] for q in queries}
    group_of: list[tuple[str, str, str, bool]] = []
    failed_q: dict[str, int] = {q: 0 for q in queries}
    names = list(queries)
    window = Window()
    window.start()
    deadline = time.perf_counter() + ctx.seconds
    i = 0
    while True:
        q = names[i % len(names)]
        # traced runs alternate traced and plain passes to price the spans
        traced = ctx.trace and (i // len(names)) % 2 == 0
        span = tr.span if traced else (lambda _name: nullcontext())
        gc.collect()
        bg = groups.tag("build")
        t0 = time.perf_counter()
        try:
            with span("query"):
                with span("queries.build"):
                    df = QUERIES[q](spark, data_dir)
                t1 = time.perf_counter()
                xg = groups.tag("exec")
                with span("exec.execute"):
                    df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            samples[q].append((t1 - t0, t2 - t1, traced))
            group_of.append((q, bg, xg, traced))
        except Exception as e:  # a failed execution counts toward failed_frac
            failed_q[q] += 1
            ctx.log(f"{q} failed: {e!r}"[:300])
        i += 1
        if time.perf_counter() >= deadline and i >= MIN_SAMPLES * len(names):
            break
    noise = window.stop()
    rss = peak_rss_mb()

    # ---- outside the window: status counts, output check, metrics
    time.sleep(0.5)  # let the listener bus record the last task ends
    per_q_counts: dict[str, dict[str, list[int]]] = {q: {} for q in queries}
    if ctx.trace:
        for q, bg, xg, _ in group_of:
            c = per_q_counts[q]
            c.setdefault("build_jobs", []).append(groups.counts(bg)["jobs"])
            for k, v in groups.counts(xg).items():
                c.setdefault(k, []).append(v)
    engine.stop_session(spark)

    expected = check.oracle_digests(data_dir, list(queries), ORACLE, ctx.digest_salt)
    wrong = [q for q in queries
             if results[q] is None or check.digest(*results[q]) != expected[q]]
    attempted = sum(len(s) for s in samples.values()) + sum(failed_q.values())
    failed = sum(failed_q.values()) + sum(len(samples[q]) for q in wrong)

    def med(q: str, k: int, traced: bool | None = None) -> float:
        vals = [s[k] if k < 2 else s[0] + s[1] for s in samples[q]
                if traced is None or s[2] == traced]
        return statistics.median(vals) if vals else 0.0

    per_q = {q: med(q, 2) for q in queries if samples[q]}
    total = sum(per_q.values())
    rows_in = sum(sum(table_rows[t] for t in queries[q][1]) for q in per_q)
    e2e = {
        "setup_s": setup_s,
        "total_s": total,
        "geomean_ms": 1000.0 * math.exp(statistics.fmean(math.log(v) for v in per_q.values())),
        "rows_per_s": rows_in / total,
        "latency_p50_ms": 1000.0 * statistics.median(per_q.values()),
        "latency_p95_ms": 1000.0 * percentile(list(per_q.values()), 95),
    }
    layers = {
        "peak_rss_mb": rss,
        "session.start_s": session_start,
        "session.warmup_s": warmup,
        "catalog.load_s": load_first,
        "catalog.load_cached_s": load_cached,
        "queries.build_s": sum(med(q, 0) for q in per_q),
        "exec.execute_s": sum(med(q, 1) for q in per_q),
        "failed_frac": failed / max(attempted, 1),
    }
    for f in FAMILIES:
        layers[f"operators.{f}_s"] = sum(v for q, v in per_q.items() if queries[q][0] == f)
    if ctx.trace:
        for k, name in (("build_jobs", "queries.build_jobs"), ("jobs", "exec.jobs"),
                        ("stages", "exec.stages"), ("tasks", "exec.tasks"),
                        ("tasks_failed", "exec.tasks_failed")):
            layers[name] = sum(statistics.median(per_q_counts[q][k]) for q in per_q
                               if per_q_counts[q].get(k))
        traced_total = sum(med(q, 2, True) for q in per_q)
        plain_total = sum(med(q, 2, False) for q in per_q)
        layers["trace.overhead_frac"] = (
            traced_total / plain_total - 1.0 if plain_total and traced_total else 0.0
        )
    layers.update({k: v for k, v in noise.items() if k != "window_s"})
    return {
        "e2e": e2e,
        "layers": layers,
        "attempted": attempted,
        "failed": failed,
        "detail": {
            "queries_s": per_q,
            "samples_s": {q: [round(a + b, 4) for a, b, _ in s] for q, s in samples.items()},
            "wrong": wrong,
            "settle_s": settle_s,
            "window_s": noise["window_s"],
            "host.steal_pct": noise["host.steal_pct"],
            "host.foreign_pct": noise["host.foreign_pct"],
        },
    }


def percentile(vals: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    s = sorted(vals)
    k = (len(s) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)



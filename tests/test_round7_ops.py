"""Round-7 operator checks beyond the DuckDB parity gate: skyline
dominance against the naive definition on adversarial inputs, Holt
recurrence against hand-stepped values, containment direction semantics.
"""

from __future__ import annotations

import pytest

from ssp_spark.operators import dedup, recurrence, relational


# ---------------------------------------------------------------------------
# skyline_min_max
# ---------------------------------------------------------------------------


def _naive_skyline(pts):
    """Textbook NOT EXISTS dominance filter (minimize a, maximize b)."""
    out = []
    for i, (a, b) in pts:
        dominated = any(
            (a2 <= a and b2 >= b and (a2 < a or b2 > b))
            for _, (a2, b2) in pts
        )
        if not dominated:
            out.append(i)
    return sorted(out)


def test_skyline_matches_naive_on_dense_grid(spark):
    # deterministic pseudo-random points with many collisions on both
    # axes (mod-small-prime grid) — exercises ties, duplicate points,
    # and shard-boundary values
    pts = [(i, ((i * 37) % 23, (i * 53) % 19)) for i in range(300)]
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in pts], "id long, cost long, gain long"
    )
    got = sorted(
        r["id"]
        for r in relational.skyline_min_max(df, "cost", "gain").collect()
    )
    assert got == _naive_skyline(pts)


def test_skyline_keeps_exact_duplicates(spark):
    # identical (cost, gain) rows do not dominate each other — ALL kept
    df = spark.createDataFrame(
        [(1, 5, 5), (2, 5, 5), (3, 5, 5), (4, 9, 4)],
        "id long, cost long, gain long",
    )
    got = sorted(
        r["id"]
        for r in relational.skyline_min_max(df, "cost", "gain").collect()
    )
    assert got == [1, 2, 3]  # (9,4) dominated by (5,5); duplicates kept


def test_skyline_fewer_rows_than_shards(spark):
    # n < n_shards duplicates split points; shard stamping must still
    # partition correctly (the exact_range_boundaries k-keyed probes)
    df = spark.createDataFrame(
        [(1, 1, 1), (2, 2, 2), (3, 3, 0)], "id long, cost long, gain long"
    )
    got = sorted(
        r["id"]
        for r in relational.skyline_min_max(df, "cost", "gain").collect()
    )
    assert got == [1, 2]


def test_skyline_full_frontier_chain(spark):
    # gain strictly increases with cost: no point dominates any other,
    # the whole chain is the frontier
    df = spark.createDataFrame(
        [(i, i, i) for i in range(50)], "id long, cost long, gain long"
    )
    assert relational.skyline_min_max(df, "cost", "gain").count() == 50


def test_skyline_anti_chain_collapses_to_one(spark):
    # gain strictly decreases with cost: the cheapest/highest point
    # dominates everything else
    df = spark.createDataFrame(
        [(i, i, 100 - i) for i in range(50)], "id long, cost long, gain long"
    )
    rows = relational.skyline_min_max(df, "cost", "gain").collect()
    assert [(r["cost"], r["gain"]) for r in rows] == [(0, 100)]


# ---------------------------------------------------------------------------
# keyed_holt
# ---------------------------------------------------------------------------


def test_keyed_holt_hand_stepped(spark):
    # x = [4, 8, 6]:
    #   t1: l=4,     b=0,      f=4
    #   t2: l=(8+(4+0))/2=6,        b=((6-4)+0)/4=0.5,          f=6.5
    #   t3: l=(6+(6+0.5))/2=6.25,   b=((6.25-6)+3*0.5)/4=0.4375, f=6.6875
    df = spark.createDataFrame(
        [(7, 1, 4), (7, 2, 8), (7, 3, 6)], "user_id long, d long, cents long"
    )
    out = {
        r["step"]: (r["level"], r["trend"], r["forecast"])
        for r in recurrence.keyed_holt(
            df, key="user_id", order="d", value="cents"
        ).collect()
    }
    assert out[1] == (4.0, 0.0, 4.0)
    assert out[2] == (6.0, 0.5, 6.5)
    assert out[3] == (6.25, 0.4375, 6.6875)


def test_keyed_holt_constant_series_is_flat(spark):
    # constant input: level stays exactly x, trend exactly 0 (no float
    # drift — (x + (x+0))/2 == x and ((x-x)+0)/4 == 0 are exact)
    df = spark.createDataFrame(
        [(1, t, 42) for t in range(10)], "user_id long, d long, cents long"
    )
    rows = recurrence.keyed_holt(
        df, key="user_id", order="d", value="cents"
    ).collect()
    assert all(r["level"] == 42.0 and r["trend"] == 0.0 for r in rows)


def test_keyed_holt_keys_are_independent(spark):
    df = spark.createDataFrame(
        [(1, 1, 10), (2, 1, 99), (1, 2, 20)],
        "user_id long, d long, cents long",
    )
    out = recurrence.keyed_holt(df, key="user_id", order="d", value="cents")
    by_key = {(r["key"], r["step"]): r["level"] for r in out.collect()}
    assert by_key[(1, 1)] == 10.0 and by_key[(2, 1)] == 99.0
    assert by_key[(1, 2)] == (20 + (10 + 0)) / 2


# ---------------------------------------------------------------------------
# containment_pairs
# ---------------------------------------------------------------------------


def test_containment_detects_subsumed_snippet(spark):
    # doc 1 is a verbatim snippet inside the much longer doc 2:
    # containment(1 in 2) == 1.0 while Jaccard is far below any usual
    # dup threshold — the case this operator exists for
    snippet = "alpha beta gamma delta epsilon zeta eta theta"
    page = (
        "intro words before the quote "
        + snippet
        + " and a long tail of unrelated filler tokens "
        + " ".join(f"filler{i}" for i in range(40))
    )
    df = spark.createDataFrame(
        [(1, snippet), (2, page)], "doc_id long, text string"
    )
    rows = dedup.containment_pairs(
        df, n=3, threshold=0.9, max_doc_freq=50
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["id1"], r["id2"]) == (1, 2)
    assert r["containment_1_in_2"] == 1.0
    assert r["containment_2_in_1"] < 0.2
    # and jaccard at the same shingle width stays below 0.5
    j = dedup.jaccard_pairs(df, n=3, threshold=0.0, max_doc_freq=50).collect()
    assert j and j[0]["jaccard"] < 0.5


def test_containment_threshold_filters_either_direction(spark):
    # two unrelated docs share nothing -> no candidate pair at all
    df = spark.createDataFrame(
        [(1, "aa bb cc dd ee"), (2, "vv ww xx yy zz")],
        "doc_id long, text string",
    )
    assert dedup.containment_pairs(df, n=3).count() == 0


def test_containment_rejects_non_integral_ids(spark):
    df = spark.createDataFrame([("a", "x y z")], "doc_id string, text string")
    with pytest.raises(ValueError, match="containment_pairs requires"):
        dedup.containment_pairs(df)


def test_simhash_pairs_rejects_non_integral_ids(spark):
    # ADVICE r12: the packed-long pair dedup would cast a string id to
    # NULL, collapsing every candidate pair into one (NULL, NULL) row —
    # enforce the same ingest contract as _pair_shared_counts before
    # any work happens
    df = spark.createDataFrame(
        [("a", "x y z"), ("b", "x y z")], "doc_id string, text string"
    )
    with pytest.raises(ValueError, match="simhash_pairs requires"):
        dedup.simhash_pairs(df)


def test_simhash_pairs_still_accepts_integral_ids(spark):
    # the guard must be never-true on the gate's shape (BIGINT ids)
    df = spark.createDataFrame(
        [(1, "aa bb cc dd ee ff"), (2, "aa bb cc dd ee ff")],
        "doc_id long, text string",
    )
    got = dedup.simhash_pairs(df).collect()
    assert [(r.id1, r.id2) for r in got] == [(1, 2)]


def test_simhash_pairs_lowest_band_emission_matches_distinct(spark):
    """Round 14 (guide §2.4): simhash_pairs emits each candidate pair
    from its LOWEST surviving shared band instead of DISTINCT-ing the
    per-band join output — removing the pair-count-sized exchange +
    hash aggregate. The emitted set must equal the naive
    DISTINCT(join) reference for every band_cap, INCLUDING caps small
    enough to trim docs out of hot buckets (the survivor-lane logic:
    a pair trimmed apart at its lowest raw-agreeing band must still be
    emitted at its lowest shared band where BOTH survived)."""
    import pyspark.sql.functions as F

    # duplicate clusters: 8 clusters of 4 exact copies of text A plus 3
    # exact copies of a one-token variant B. Exact copies share the
    # whole fingerprint, so intra-group pairs collide on ALL 4 bands —
    # guaranteeing multi-band duplicates (what the dedup removes) and,
    # under small caps, hot buckets that really get trimmed (what the
    # survivor lanes must encode).
    rows = []
    words = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    for c in range(8):
        base_text = " ".join(f"{w}{c}" for w in words.split())
        for d in range(4):
            rows.append((c * 10 + d, base_text))
        for d in range(4, 7):
            rows.append((c * 10 + d, base_text + " extra"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    for cap in (2, 3, 1024):
        banded = dedup.banded_fingerprints(
            df, bits=60, bands=4, band_cap=cap
        ).persist()
        a = banded.select(F.col("doc_id").alias("id1"), "band", "band_val")
        b = banded.select(F.col("doc_id").alias("id2"), "band", "band_val")
        raw = (
            a.join(b, ["band", "band_val"])
            .filter(F.col("id1") < F.col("id2"))
            .select("id1", "id2")
        )
        n_raw = raw.count()
        expect = sorted((r.id1, r.id2) for r in raw.distinct().collect())
        got = sorted(
            (r.id1, r.id2)
            for r in dedup.simhash_pairs(
                df, bits=60, bands=4, band_cap=cap
            ).collect()
        )
        banded.unpersist()
        assert got == expect, f"band_cap={cap}"
        # sanity: the corpus really produces multi-band duplicates —
        # otherwise the lowest-band emission exercises nothing
        assert n_raw > len(expect) > 0, f"band_cap={cap}"


def test_simhash_pairs_rejects_over_4_bands(spark):
    # the 16-bit survivor lanes pack at most 4 bands into one long, and
    # band_val + 1 fits a lane only while band values are <= 15 bits
    # (bits=32, bands=2 gives 16-bit values that would overflow it)
    df = spark.createDataFrame([(1, "aa bb")], "doc_id long, text string")
    for kwargs, msg in (
        ({"bands": 5}, "at most 4 bands"),
        ({"bits": 32, "bands": 2}, "at most 15 bits"),
    ):
        with pytest.raises(ValueError, match=msg):
            dedup.simhash_pairs(df, **kwargs)


# ---------------------------------------------------------------------------
# batch-4 closed forms (oracle parity is the gate; these pin the math)
# ---------------------------------------------------------------------------


def test_entropy_integer_term_closed_forms():
    # the e9 integer-term pipeline reproduces ln(k) for uniform
    # distributions and 0 for single-type users
    import math

    def h_e9(counts):
        n = sum(counts)
        return sum(
            int(round(-(c / n) * math.log(c / n) * 1e9)) for c in counts
        )

    assert h_e9([7]) == 0  # single type: p=1, term = -1*ln(1) = 0
    for k in (2, 4, 5):
        assert abs(h_e9([3] * k) / 1e9 - math.log(k)) < 1e-8


def test_burstiness_closed_forms():
    # perfectly periodic gaps: sigma=0 -> B = -1; the Goh-Barabási ends
    def burst(gaps):
        n = len(gaps)
        s1, s2 = sum(gaps), sum(g * g for g in gaps)
        mean = s1 / n
        var = max((s2 - s1 * s1 / n) / (n - 1), 0.0)
        std = var ** 0.5
        return (std - mean) / (std + mean)

    assert burst([60, 60, 60, 60]) == -1.0
    # one huge gap among many small ones -> positive (bursty) side;
    # sample std with n-1 keeps B well under 1 at small n
    assert burst([1, 1, 1, 997]) > 0.3
    assert burst([1] * 20 + [10000]) > 0.6


def test_chisq_independent_table_is_zero():
    # a perfectly independent contingency table has chi2 == 0 exactly
    # (every o == e, every integer-scaled term rounds to 0)
    rows = {("a", 0): 10, ("a", 1): 20, ("b", 0): 30, ("b", 1): 60}
    rt = {"a": 30, "b": 90}
    ct = {0: 40, 1: 80}
    n = 120
    chi2_e6 = sum(
        int(round((o - rt[r] * ct[c] / n) ** 2 / (rt[r] * ct[c] / n) * 1e6))
        for (r, c), o in rows.items()
    )
    assert chi2_e6 == 0


# ---------------------------------------------------------------------------
# batch 6: time-series / experimentation statistics
# ---------------------------------------------------------------------------


def test_keyed_km_survival_hand_example(spark):
    # classic product-limit table: 4 at risk, one death at t=1
    # (S=3/4), one death at t=2 among 3 (S=3/4*2/3=1/2), one
    # censor-only row at t=3 (factor 1-0/1=1.0 — survival unchanged)
    risk = spark.createDataFrame(
        [("a", 1, 1, 4), ("a", 2, 1, 3), ("a", 3, 0, 1)],
        "cohort string, t long, d long, n_risk long",
    )
    got = {
        r["t"]: (r["n_risk"], r["d"], r["survival"])
        for r in recurrence.keyed_km_survival(
            risk, "cohort", "t", "d", "n_risk"
        ).collect()
    }
    assert got == {1: (4, 1, 0.75), 2: (3, 1, 0.5), 3: (1, 0, 0.5)}


def test_keyed_km_survival_keys_fold_independently(spark):
    risk = spark.createDataFrame(
        [("a", 1, 2, 4), ("b", 1, 1, 2)],
        "cohort string, t long, d long, n_risk long",
    )
    got = {
        r["key"]: r["survival"]
        for r in recurrence.keyed_km_survival(
            risk, "cohort", "t", "d", "n_risk"
        ).collect()
    }
    assert got == {"a": 0.5, "b": 0.5}


def test_km_query_survival_is_monotone_and_bounded(spark):
    from ssp_spark.queries import QUERIES
    from tests.conftest import SF_SMOKE

    rows = QUERIES["km_user_conversion"](spark, SF_SMOKE).collect()
    by_cohort = {}
    for r in rows:
        by_cohort.setdefault(r["cohort"], []).append((r["t_days"], r["survival"]))
    assert by_cohort  # at least one cohort
    for series in by_cohort.values():
        series.sort()
        vals = [s for _, s in series]
        assert all(0.0 <= v <= 1.0 for v in vals)
        assert all(a >= b for a, b in zip(vals, vals[1:]))  # non-increasing


def test_mann_kendall_bounds_and_theil_sen_consistency(spark):
    # on the same daily series, a strongly positive Mann-Kendall z must
    # come with a positive Theil-Sen slope (and vice versa) — and S is
    # bounded by the pair count
    from ssp_spark.queries import QUERIES
    from tests.conftest import SF_SMOKE

    mk = QUERIES["mann_kendall_trend_orders"](spark, SF_SMOKE).collect()[0]
    ts = QUERIES["theil_sen_trend_orders"](spark, SF_SMOKE).collect()[0]
    n = mk["n_days"]
    assert abs(mk["s_stat"]) <= n * (n - 1) // 2
    assert mk["var_s18"] > 0
    assert ts["n_days"] == n
    assert ts["n_pairs"] == n * (n - 1) // 2
    if abs(mk["z"]) > 2.0:
        assert (mk["z"] > 0) == (ts["slope_per_day"] > 0)


def test_acf_values_are_correlations(spark):
    from ssp_spark.queries import QUERIES
    from tests.conftest import SF_SMOKE

    rows = QUERIES["acf_daily_orders"](spark, SF_SMOKE).collect()
    assert {r["lag_days"] for r in rows} == set(range(1, 15))
    for r in rows:
        assert r["n_pairs"] > 0
        # gap-tolerant ACF with full-series normalization stays inside
        # [-1, 1] up to the 6dp rounding
        assert abs(r["acf"]) <= 1.000001


def test_benford_digit_rows_partition_the_orders(spark):
    from ssp_spark.queries import QUERIES
    from ssp_spark.catalog import load_table
    from tests.conftest import SF_SMOKE

    rows = QUERIES["benford_order_totals"](spark, SF_SMOKE).collect()
    assert sorted(r["digit"] for r in rows) == list(range(1, 10))
    total = sum(r["n_obs"] for r in rows)
    assert total == load_table(spark, "orders", SF_SMOKE).count()
    for r in rows:
        assert r["n_expected"] > 0 and r["chisq_term"] >= 0


def test_cuped_theta_zero_when_covariate_is_constant(spark):
    # the degenerate-covariate guard: every user identical pre-period
    # spend -> var(x) = 0 -> theta must be 0.0, never NaN/inf.
    # Replicated directly on the query's moment algebra: n*sxx = sx^2.
    n, x = 7, 123
    assert n * (n * x * x) - (n * x) ** 2 == 0


def test_cuped_query_variants_partition_users(spark):
    from ssp_spark.queries import QUERIES
    from ssp_spark.catalog import load_table
    from tests.conftest import SF_SMOKE
    import pyspark.sql.functions as F

    rows = QUERIES["cuped_adjusted_spend"](spark, SF_SMOKE).collect()
    assert sorted(r["variant"] for r in rows) == ["control", "treatment"]
    n_users = (
        load_table(spark, "events", SF_SMOKE)
        .select(F.countDistinct("user_id"))
        .collect()[0][0]
    )
    assert sum(r["n_users"] for r in rows) == n_users
    for r in rows:
        assert r["theta"] == rows[0]["theta"]  # same global fit
        assert r["mean_spend"] >= 0


# ---------------------------------------------------------------------------
# batch 7: model-evaluation & resampling statistics
# ---------------------------------------------------------------------------


def test_poisson_weight_thresholds_closed_form():
    # the declared quantized-Poisson(1) map on the 2^20 draw domain:
    # w = #{thresholds <= u}, t_k = round(F(k) * 2^20)
    import math

    from ssp_spark.queries import _POIS1_CUM_2P20

    def w(u):
        return sum(1 for t in _POIS1_CUM_2P20 if u >= t)

    assert w(0) == 0
    assert w(385749) == 0 and w(385750) == 1
    assert w(771498) == 1 and w(771499) == 2
    assert w(1048574) == 8 and w(1048575) == 9
    # thresholds ARE the rounded scaled CDF
    c = 0.0
    for k, t in enumerate(_POIS1_CUM_2P20):
        c += math.exp(-1) / math.factorial(k)
        assert t == round(c * (1 << 20))
    # expected weight under uniform u is ~1 (it IS a Poisson(1) pmf)
    mean_w = sum(w(u) for u in range(0, 1 << 20, 997)) / len(
        range(0, 1 << 20, 997)
    )
    assert 0.95 < mean_w < 1.05


def test_bootstrap_ci_brackets_point_estimate(spark):
    from ssp_spark.queries import QUERIES
    from tests.conftest import SF_SMOKE

    row = QUERIES["bootstrap_ci_spend"](spark, SF_SMOKE).collect()[0]
    assert row["n_resamples"] == 64
    assert row["ci_lo"] < row["ci_hi"]
    # the bootstrap distribution centers on the sample mean; with 64
    # Poisson resamples the point estimate sits inside the 95% band
    assert row["ci_lo"] <= row["point_mean"] <= row["ci_hi"]


def test_spearman_matches_pure_python_oracle(spark):
    # engine-independent re-derivation: midranks + Pearson in pure
    # Python on the same parquet, no SQL engine involved
    import duckdb

    from ssp_spark.queries import QUERIES
    from tests.conftest import SF_SMOKE

    rows = duckdb.sql(
        f"SELECT o_custkey, count(*) AS x, "
        f"CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS y "
        f"FROM '{SF_SMOKE}/orders.parquet' GROUP BY 1"
    ).fetchall()

    def midranks(vals):
        order = sorted(range(len(vals)), key=lambda i: vals[i])
        r = [0.0] * len(vals)
        i = 0
        while i < len(order):
            j = i
            while j + 1 < len(order) and vals[order[j + 1]] == vals[order[i]]:
                j += 1
            mr = (i + 1 + j + 1) / 2
            for k in range(i, j + 1):
                r[order[k]] = mr
            i = j + 1
        return r

    rx = midranks([r[1] for r in rows])
    ry = midranks([r[2] for r in rows])
    n = len(rows)
    mx = sum(rx) / n
    my = sum(ry) / n
    num = sum((a - mx) * (b - my) for a, b in zip(rx, ry))
    den = (
        sum((a - mx) ** 2 for a in rx) * sum((b - my) ** 2 for b in ry)
    ) ** 0.5
    expected = num / den

    got = QUERIES["spearman_customer_value"](spark, SF_SMOKE).collect()[0]
    assert got["n_customers"] == n
    assert abs(got["spearman_rho"] - expected) < 1e-4


def test_calibration_bins_partition_and_order(spark):
    from ssp_spark.catalog import load_table
    from ssp_spark.queries import QUERIES
    from tests.conftest import SF_SMOKE

    rows = sorted(
        QUERIES["calibration_bins_embeddings"](spark, SF_SMOKE).collect(),
        key=lambda r: r["bin"],
    )
    assert [r["bin"] for r in rows] == list(range(10))
    total = load_table(spark, "embeddings", SF_SMOKE).count()
    assert sum(r["n_bin"] for r in rows) == total
    # bins are ascending exact score ranks -> mean score non-decreasing
    means = [r["mean_score"] for r in rows]
    assert means == sorted(means)
    assert all(0.0 <= r["pos_rate"] <= 1.0 for r in rows)


def test_lift_deciles_gain_monotone_to_one(spark):
    from ssp_spark.catalog import load_table
    from ssp_spark.queries import QUERIES
    from tests.conftest import SF_SMOKE

    rows = sorted(
        QUERIES["lift_gain_deciles"](spark, SF_SMOKE).collect(),
        key=lambda r: r["decile"],
    )
    assert [r["decile"] for r in rows] == list(range(10))
    gains = [r["gain"] for r in rows]
    assert gains == sorted(gains)
    assert gains[-1] == 1.0
    assert rows[-1]["cum_n"] == load_table(
        spark, "embeddings", SF_SMOKE
    ).count()
    assert all(r["lift"] > 0 for r in rows)


def test_streaks_match_pure_python_oracle(spark):
    # independent gaps-and-islands re-derivation in pure Python
    import duckdb

    from ssp_spark.queries import QUERIES
    from tests.conftest import SF_SMOKE

    rows = duckdb.sql(
        f"SELECT DISTINCT user_id, "
        f"CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS d "
        f"FROM '{SF_SMOKE}/events.parquet'"
    ).fetchall()
    by_user: dict = {}
    for u, d in rows:
        by_user.setdefault(u, set()).add(d)
    expected = {}
    for u, days in by_user.items():
        ds = sorted(days)
        best_len, best_start = 0, None
        run_len, run_start = 0, None
        prev = None
        for d in ds:
            if prev is not None and d == prev + 1:
                run_len += 1
            else:
                run_len, run_start = 1, d
            # strict > keeps the EARLIEST start on ties
            if run_len > best_len:
                best_len, best_start = run_len, run_start
            prev = d
        expected[u] = (best_len, best_start, len(ds))

    got = {
        r["user_id"]: (
            r["best_streak_days"],
            r["streak_start_d"],
            r["n_active_days"],
        )
        for r in QUERIES["streaks_user_activity"](spark, SF_SMOKE).collect()
    }
    assert got == expected


def test_isotonic_fit_matches_pure_python_pav(spark):
    # the minimax identity must equal the sequential PAV pooling loop —
    # verified against an independent pure-Python PAV on the same cells
    from ssp_spark.queries import QUERIES
    from tests.conftest import SF_SMOKE

    rows = sorted(
        QUERIES["isotonic_calibration_embeddings"](spark, SF_SMOKE).collect(),
        key=lambda r: r["cell"],
    )
    # sequential weighted PAV over the (n_c, p_c) cells
    blocks = []  # [sum_w, sum_y]
    for r in rows:
        blocks.append([r["n_c"], r["p_c"]])
        while len(blocks) > 1 and (
            blocks[-2][1] * blocks[-1][0] >= blocks[-1][1] * blocks[-2][0]
        ):  # prev_mean >= cur_mean -> pool (exact integer cross-compare)
            w, y = blocks.pop()
            blocks[-1][0] += w
            blocks[-1][1] += y
    # expand block means back to cells by walking cell weights
    expanded = []
    bi, used = 0, 0
    for r in rows:
        expanded.append(blocks[bi][1] / blocks[bi][0])
        used += r["n_c"]
        if used >= blocks[bi][0]:
            used = 0
            bi += 1
    for r, e in zip(rows, expanded):
        assert abs(r["iso_rate"] - round(e, 6)) <= 1e-6
    # monotone non-decreasing by construction
    iso = [r["iso_rate"] for r in rows]
    assert iso == sorted(iso)


def test_quantile_normalize_preserves_source_order(spark):
    # within a source, normalization is rank-monotone: q_raw order
    # (with doc_id tie-break) implies q_norm order; and the pooled
    # multiset of q_norm values is drawn from the raw value set
    from ssp_spark.queries import QUERIES
    from tests.conftest import SF_SMOKE

    rows = QUERIES["quantile_normalize_quality"](spark, SF_SMOKE).collect()
    raw_values = {round(r["q_raw"], 4) for r in rows}
    assert all(round(r["q_norm"], 4) in raw_values for r in rows)
    by_source: dict = {}
    for r in rows:
        by_source.setdefault(r["source"], []).append(r)
    for src, rs in by_source.items():
        rs.sort(key=lambda r: (r["q_raw"], r["doc_id"]))
        norms = [r["q_norm"] for r in rs]
        assert norms == sorted(norms), src


def test_attribution_credits_sum_to_conversions(spark):
    # exact integer invariant: total credit across channels is exactly
    # 10000 bp per attributed conversion
    from ssp_spark.queries import QUERIES
    from tests.conftest import SF_SMOKE

    rows = QUERIES["attribution_position_based"](spark, SF_SMOKE).collect()
    total_bp = sum(r["credit_bp"] for r in rows)
    assert total_bp % 10000 == 0
    assert abs(sum(r["credit_share"] for r in rows) - 1.0) < 1e-4
    # n_conv cross-check: conversions with at least one prior touch
    n_conv = total_bp // 10000
    assert n_conv > 0


def test_session_memo_artifacts_key_on_sf_dir(spark):
    """The per-session artifact caches (scored embeddings + rank pass,
    minhash pair table) key on abspath(sf_dir): the same session
    serving two fixtures must NOT hand one fixture's checkpoint to the
    other — a mis-keyed memo would poison every downstream consumer
    silently (results would still LOOK plausible)."""
    from ssp_spark.queries import (
        _minhash_pairs_artifact,
        _ranked_scored_embeddings,
        _scored_embeddings,
    )
    from tests.conftest import SF_SMOKE

    # sf0.001 and sf0.01 share an embeddings row count (500); sf0.1
    # (2000 rows) is the fixture pair that makes cross-poisoning visible
    SF_BIG = "/root/testdata/sf0.1"
    small = _scored_embeddings(spark, SF_SMOKE)
    big = _scored_embeddings(spark, SF_BIG)
    assert small is not big
    assert small.count() < big.count()
    rs = _ranked_scored_embeddings(spark, SF_SMOKE)
    rb = _ranked_scored_embeddings(spark, SF_BIG)
    assert rs is not rb
    assert rs.count() == small.count() and rb.count() == big.count()
    # positions are a permutation 0..n-1 of THEIR OWN fixture
    assert rs.agg({"position": "max"}).collect()[0][0] == small.count() - 1
    ps = _minhash_pairs_artifact(spark, SF_SMOKE)
    pb = _minhash_pairs_artifact(spark, SF_BIG)
    assert ps is not pb
    # memo hit: same object back on a second call
    assert _minhash_pairs_artifact(spark, SF_SMOKE) is ps
    assert _scored_embeddings(spark, SF_SMOKE) is small

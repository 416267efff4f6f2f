"""Unit tests for bench.py's protocol: the band gate, the timing loop,
the compact output line and the host probes it reads."""

from __future__ import annotations

import glob
import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import bench  # noqa: E402


def _record(path, cpus, sf, queries):
    with open(path, "w") as f:
        json.dump({"cpus": cpus, "sf": sf, "parsed": {"sf": sf, "queries": queries}}, f)


def test_fixture_sf_reads_any_directory_name():
    """sf<N> directories carry their scale factor; any other fixture
    directory (e.g. a locally built 10x copy) runs with no bands instead
    of failing before the session starts."""
    assert bench.fixture_sf("/data/testdata/sf0.1") == 0.1
    assert bench.fixture_sf("/data/.scalefix/sf10/") == 10.0
    assert bench.fixture_sf("/tmp/fixture10x") is None
    assert bench.fixture_sf("/tmp/sf") is None


def test_load_bands_is_min_over_prior_artifacts_at_matching_sf():
    bands = bench.load_bands(0.1, 32)
    # the 32-core records are in-repo; every headline staple has a band
    for name in ("word_count", "q1_pricing_summary", "ema_daily_user_spend"):
        assert name in bands and bands[name] > 0
    # min semantics: no 32-core record at this sf may read below the band
    for p in glob.glob(os.path.join(bench.RECORDS, "BENCH_*.json")):
        rec = json.load(open(p))
        parsed = rec.get("parsed") or {}
        if rec.get("cpus") != 32 or not isinstance(parsed, dict) or parsed.get("sf") != 0.1:
            continue
        for k, v in (parsed.get("queries") or {}).items():
            if isinstance(v, (int, float)) and v > 0:
                assert bands[k] <= v + 1e-9
    # other sf: no records -> empty (band gate self-disables)
    assert bench.load_bands(123.0, 32) == {}


def test_load_bands_reads_only_records_at_this_core_count(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "RECORDS", str(tmp_path))
    _record(tmp_path / "BENCH_a.json", 32, 0.1, {"word_count": 0.2, "q3_top_orders": 0.4})
    _record(tmp_path / "BENCH_b.json", 32, 0.1, {"word_count": 0.1})
    assert bench.load_bands(0.1, 4) == {}  # no 4-core record: gate off
    _record(tmp_path / "BENCH_c4.json", 4, 0.1, {"word_count": 0.9, "q3_top_orders": 1.5})
    _record(tmp_path / "BENCH_d4.json", 4, 0.1, {"word_count": 0.7})
    _record(tmp_path / "BENCH_e4.json", 4, 1.0, {"word_count": 0.01})  # other sf
    assert bench.load_bands(0.1, 4) == {"word_count": 0.7, "q3_top_orders": 1.5}
    assert bench.load_bands(0.1, 32) == {"word_count": 0.1, "q3_top_orders": 0.4}


def test_bands_would_have_caught_the_r10_contamination():
    """The eight rows found 5-30x inflated in BENCH_r10 (a 32-core record)
    all exceed 3x their band + 0.25 s, so the gate retries (and, failing
    that, names) every one of them."""
    bands = bench.load_bands(0.1, 32)
    r10 = json.load(open(os.path.join(bench.RECORDS, "BENCH_r10.json")))["parsed"]["queries"]
    inflated = [
        "ema_daily_user_spend", "containment_dedup_pairs",
        "bigram_lm_score", "cusum_user_activity", "holt_trend_user_spend",
        "dedup_embedding_cosine", "bootstrap_ci_spend",
        "mmr_diverse_topk_arrow",
    ]
    for name in inflated:
        assert r10[name] > 3 * bands[name] + 0.25, name
    # ...and a sanity floor: in-band rows must NOT trip the gate
    # (band values come from minima, so equality is in-band)
    for name in ("word_count", "q1_pricing_summary"):
        assert bands[name] <= 3 * bands[name] + 0.25


def test_timed_sweeps_call_order():
    """Cold pass, then interleaved sweeps, then at most RETRIES draws per
    row that stays suspect; a row that turns clean stops retrying."""
    calls = []
    draws = {"a": iter([(1.0, 0, 0)] * 3 + [(0.9, 9, 0)] * 10),
             "b": iter([(2.0, 0, 0), (1.5, 50, 0), (1.8, 50, 0), (1.6, 50, 0),
                        (1.4, 0, 0)]),
             "c": iter([(1.0, 0, 0)] * 4)}

    def run(name):
        calls.append(name)
        return next(draws[name])

    cold, best = bench.timed_sweeps(run, ["a", "b", "c"], 2, retry_bands={"a": 0.1})
    # a: band 0.1 -> every sample above 3x + 0.25 s, three retries;
    # b: best 1.5 has 50% steal, the retry at 1.6 is slower (the best
    # stays suspect), the one at 1.4 is clean and ends the retries
    assert calls == ["a", "b", "c", "a", "b", "c", "a", "b", "c",
                     "a", "a", "a", "b", "b"]
    assert cold == {"a": 1.0, "b": 2.0, "c": 1.0}
    assert best == {"a": (0.9, 9, 0), "b": (1.4, 0, 0), "c": (1.0, 0, 0)}

    calls.clear()
    draws = {"x": iter([(1.0, 90, 90)] * 2), "y": iter([(1.0, 90, 90)] * 2)}
    cold, best = bench.timed_sweeps(run, ["x", "y"], 2, cold=False)
    assert calls == ["x", "y", "x", "y"] and cold == {}


def test_compact_line_drops_queries_over_budget():
    record = {"metric": "headline_queries_total", "value": 1.0, "unit": "sec",
              "queries": {"word_count": 0.2}, "sf": 0.1, "cores": 4,
              "cold_total_sec": 2.0, "duckdb_total_sec": 0.5,
              "host_steal_pct": 0.0, "duckdb_steal_pct": 0.0,
              "dirty": ["word_count"], "codec_profile": {}}
    small = json.loads(bench.compact_line(record))
    assert small["queries"] == {"word_count": 0.2} and small["cores"] == 4
    assert small["n_dirty"] == 1 and "codec_profile" not in small
    record["queries"] = {f"query_{i:03d}": 1.234 for i in range(200)}
    record["dirty"] = sorted(record["queries"])
    line = bench.compact_line(record)
    assert len(line) < bench.COMPACT_MAX
    small = json.loads(line)
    assert "queries" not in small and small["n_queries"] == 200
    assert small["n_dirty"] == 200 and len(small["dirty"]) == 8


def test_tree_jiffies_counts_self_and_is_fast():
    import time

    t0 = time.monotonic()
    a = bench.tree_jiffies()
    dt = time.monotonic() - t0
    assert a >= 0
    assert dt < 0.5  # per-sample probe: must be negligible vs queries
    # burning CPU in THIS process must advance the subtree counter
    x = 0
    target = time.process_time() + 0.3
    while time.process_time() < target:
        x += 1
    b = bench.tree_jiffies()
    assert b > a


def test_tree_jiffies_keeps_reaped_children():
    """A child that burns CPU and EXITS mid-window must not vanish from
    the tree sum: its jiffies roll into our cutime/cstime
    on reap, so the t1-t0 delta still attributes them to our tree
    instead of misreporting them as foreign busy CPU."""
    import subprocess
    import time

    a = bench.tree_jiffies()
    subprocess.run(
        ["python", "-c",
         "import time\n"
         "t = time.process_time() + 0.5\n"
         "x = 0\n"
         "while time.process_time() < t:\n"
         "    x += 1\n"],
        check=True,
    )
    # subprocess.run has reaped the child: its ~0.5 s of CPU now lives
    # ONLY in our cutime/cstime (USER_HZ=100 -> ~50 jiffies; allow wide
    # margin for scheduler noise but demand clearly more than our own
    # bookkeeping cost)
    b = bench.tree_jiffies()
    assert b - a >= 20, f"reaped child CPU lost from tree sum: {b - a}"


def test_cpu_jiffies_shape_and_monotonicity():
    t1, s1, b1 = bench.host_jiffies()
    assert t1 >= b1 >= 0 and t1 >= s1 >= 0
    t2, s2, b2 = bench.host_jiffies()
    assert t2 >= t1 and s2 >= s1 and b2 >= b1


def test_release_session_artifacts_drops_blocks_and_rebuilds(spark):
    """The section-boundary release: after
    release_session_artifacts, (1) the session memo is empty, (2) zero
    RDDs stay pinned in the block manager, and (3) an artifact consumer
    still runs — the memo rebuild path, i.e. dropping a
    lineage-truncated checkpoint can never strand a later section."""
    from ssp_spark.queries import (
        _ARTIFACTS,
        _minhash_pairs_artifact,
        release_session_artifacts,
    )
    from tests.conftest import SF_SMOKE

    pairs = _minhash_pairs_artifact(spark, SF_SMOKE)
    n_before = pairs.count()
    assert _ARTIFACTS.get(spark), "artifact memo should be populated"
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    assert len(list(jmap.values())) >= 1, "checkpoint should pin blocks"

    released = release_session_artifacts(spark)
    assert released >= 1
    assert not _ARTIFACTS.get(spark)
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    assert len(list(jmap.values())) == 0, "blocks must all be dropped"

    # consumer rebuilds transparently and agrees with the pre-release run
    rebuilt = _minhash_pairs_artifact(spark, SF_SMOKE)
    assert rebuilt.count() == n_before
    release_session_artifacts(spark)  # leave the shared session clean

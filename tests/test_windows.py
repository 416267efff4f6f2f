"""Event-time window goldens ported from the reference.

The flagship scenario is ssp's TestParallelEngine_Windows
(affo/ssp engine_test.go:616-744): 23 timestamped records, 3 keys,
sliding windows size=5 slide=2, out-of-order arrivals. Our engine applies
the SURVEY.md §4.3 decided semantics:

- late records merge into their windows (no duplicate partial firings —
  ssp's per-late-record re-firings are the nondeterminism its README
  flags at README.md:79-81), so each expected count below equals the SUM
  of ssp's firings for that (window, key);
- windows that never fired before the stream closed (watermark never
  passed their end: max wm = 100-5 = 95) are not emitted;
- window starts are non-negative, matching ssp's window manager.
"""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F

from ssp_spark.operators import windows

# (ts_seconds, key) — verbatim from engine_test.go:631-655 incl. the
# out-of-order and the ts=100 "trigger the rest" records.
RECORDS = [
    (1, "foo"), (1, "foo"), (2, "foo"), (8, "foo"), (5, "foo"),
    (5, "buz"), (5, "buz"), (7, "buz"), (6, "buz"), (10, "foo"),
    (10, "bar"), (10, "buz"), (2, "foo"), (13, "bar"), (15, "buz"),
    (3, "buz"), (31, "foo"), (31, "bar"), (30, "foo"), (20, "bar"),
    (100, "foo"), (100, "bar"), (100, "buz"),
]

# ssp's golden (engine_test.go:700-734) with duplicate firings per
# (window, key) summed — e.g. "[0,5): foo - 3" + late "[0,5): foo - 1"
# => ((0,5),'foo',4).
GOLDEN = sorted(
    [
        (0, 5, "foo", 4), (2, 7, "foo", 3), (4, 9, "foo", 2), (6, 11, "foo", 2),
        (8, 13, "foo", 2), (10, 15, "foo", 1), (26, 31, "foo", 1), (28, 33, "foo", 2),
        (30, 35, "foo", 2),
        (6, 11, "bar", 1), (8, 13, "bar", 1), (10, 15, "bar", 2), (12, 17, "bar", 1),
        (16, 21, "bar", 1), (18, 23, "bar", 1), (20, 25, "bar", 1), (28, 33, "bar", 1),
        (30, 35, "bar", 1),
        (0, 5, "buz", 1), (2, 7, "buz", 4), (4, 9, "buz", 4), (6, 11, "buz", 3),
        (8, 13, "buz", 1), (10, 15, "buz", 1), (12, 17, "buz", 1), (14, 19, "buz", 1),
    ]
)


def _records_df(spark):
    epoch = dt.datetime(1970, 1, 1)
    data = [(epoch + dt.timedelta(seconds=ts), k) for ts, k in RECORDS]
    return spark.createDataFrame(data, ["ts", "key"])


def test_windowed_wordcount_golden(spark):
    df = _records_df(spark)
    out = windows.sliding(df, "ts", "5 seconds", "2 seconds", {"cnt": F.count("*")}, ["key"])
    max_wm = 100 - 5
    rows = out.filter((F.col("ws") >= 0) & (F.col("we") <= max_wm)).collect()
    got = sorted((r.ws, r.we, r.key, r.cnt) for r in rows)
    assert got == GOLDEN


def test_window_assignment_count(spark):
    """window_test.go:40-78 property: a ts far from the epoch boundary is
    assigned to exactly ceil(size/slide) windows."""
    df = _records_df(spark).filter(F.col("key") == "foo")
    out = windows.sliding(df, "ts", "6 seconds", "2 seconds", {"cnt": F.count("*")})
    # ts=30 and 31 (2 records) -> ceil(6/2)=3 windows each
    rows = out.filter((F.col("ws") >= 26) & (F.col("ws") <= 30)).collect()
    assert sum(r.cnt for r in rows) == 2 * 3


def test_slide_larger_than_size_gaps(spark):
    """window_test.go slide>size case: some timestamps fall in NO window
    (gaps between [k*slide, k*slide+size))."""
    epoch = dt.datetime(1970, 1, 1)
    df = spark.createDataFrame(
        [(epoch + dt.timedelta(seconds=s),) for s in [0, 1, 2, 3, 4, 5, 6, 7, 8, 9]], ["ts"]
    )
    out = windows.sliding(df, "ts", "2 seconds", "5 seconds", {"cnt": F.count("*")})
    rows = {(r.ws, r.cnt) for r in out.collect()}
    # windows [0,2) and [5,7): ts 2,3,4,7,8,9 are in the gaps
    assert rows == {(0, 2), (5, 2)}


def test_tumbling_sum_golden(spark):
    """window_test.go:154-230 analogue: tumbling size=3, per-window sum."""
    epoch = dt.datetime(1970, 1, 1)
    df = spark.createDataFrame(
        [(epoch + dt.timedelta(seconds=s), s) for s in range(10)], ["ts", "v"]
    )
    out = windows.tumbling(df, "ts", "3 seconds", {"s": F.sum("v")})
    got = sorted((r.ws, r.s) for r in out.collect())
    assert got == [(0, 3), (3, 12), (6, 21), (9, 9)]


def test_session_window_islands(spark):
    """Session windows merge events closer than the gap; a >=gap pause
    starts a new session."""
    epoch = dt.datetime(1970, 1, 1)
    ts = [0, 10, 20, 100, 105, 300]
    df = spark.createDataFrame(
        [(epoch + dt.timedelta(seconds=s), "u") for s in ts], ["ts", "uid"]
    )
    out = windows.session(df, "ts", "30 seconds", {"n": F.count("*")}, ["uid"])
    got = sorted((r.session_start_us // 1_000_000, r.n) for r in out.collect())
    assert got == [(0, 3), (100, 2), (300, 1)]

"""Event-time window operators (tumbling / sliding / session).

Reference semantics: ssp assigns each record to every ``[k*slide,
k*slide+size)`` window containing its timestamp and fires a per-window
fold when the watermark passes window end
(affo/ssp window.go:83-130,162-177). That is exactly Spark's
``F.window(ts, size, slide)`` group-window; the per-window user state is
the aggregate, and "fire on close" is append-mode output in streaming.

These helpers produce BATCH window aggregations (the replay form used by
the correctness oracle); the streaming forms live in ssp_spark.streaming.
All are single-shuffle plans: window assignment is a projection (explode
of the window struct), so the only exchange is the final groupBy.
"""

from __future__ import annotations

from collections.abc import Mapping

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def tumbling(
    df: DataFrame,
    ts_col: str,
    size: str,
    aggs: Mapping[str, Column],
    keys: list[str] | None = None,
) -> DataFrame:
    """Tumbling event-time window; ``aggs`` maps output name -> agg column.

    Mirrors ssp's FixedWindowManager with slide == size
    (affo/ssp window_test.go:154-230).
    """
    return sliding(df, ts_col, size, size, aggs, keys)


_UNIT_US = {
    "microsecond": 1,
    "millisecond": 1_000,
    "second": 1_000_000,
    "minute": 60_000_000,
    "hour": 3_600_000_000,
    "day": 86_400_000_000,
}


def _interval_us(s: str) -> int:
    n, unit = s.strip().split()
    return int(n) * _UNIT_US[unit.rstrip("s")]


def sliding(
    df: DataFrame,
    ts_col: str,
    size: str,
    slide: str,
    aggs: Mapping[str, Column],
    keys: list[str] | None = None,
) -> DataFrame:
    """Sliding event-time window (affo/ssp window.go:83-111).

    Output carries ``ws``/``we`` as epoch seconds (bigint) rather than raw
    timestamps so results are timezone-stable and oracle-comparable.

    slide > size (gap windows, allowed by ssp — window_test.go:40-78
    covers the gaps) is rejected by Spark's window(); that case is
    planned manually: ws = floor(ts/slide)*slide with a containment
    filter, which is the same single-shuffle plan shape.
    """
    keys = keys or []
    size_us, slide_us = _interval_us(size), _interval_us(slide)
    if slide_us <= size_us:
        win = F.window(F.col(ts_col), size, slide)
        grouped = df.groupBy(win.alias("w"), *[F.col(k) for k in keys]).agg(
            *[c.alias(name) for name, c in aggs.items()]
        )
        return grouped.select(
            F.unix_timestamp("w.start").alias("ws"),
            F.unix_timestamp("w.end").alias("we"),
            *keys,
            *aggs.keys(),
        )
    eus = F.unix_micros(F.col(ts_col))
    ws_us = F.floor(eus / slide_us).cast("long") * slide_us
    windowed = df.withColumn("__ws_us", ws_us).filter(eus < F.col("__ws_us") + size_us)
    grouped = windowed.groupBy(F.col("__ws_us"), *[F.col(k) for k in keys]).agg(
        *[c.alias(name) for name, c in aggs.items()]
    )
    return grouped.select(
        (F.col("__ws_us") / 1_000_000).cast("long").alias("ws"),
        ((F.col("__ws_us") + size_us) / 1_000_000).cast("long").alias("we"),
        *keys,
        *aggs.keys(),
    )


def session(
    df: DataFrame,
    ts_col: str,
    gap: str,
    aggs: Mapping[str, Column],
    keys: list[str] | None = None,
) -> DataFrame:
    """Session window: events within ``gap`` of each other merge.

    Not in the reference (SURVEY.md §2.3 "no session windows") — provided
    because Spark has it natively and the capability checklist includes it.
    Emits session start as epoch microseconds (exact first-event time).
    """
    keys = keys or []
    win = F.session_window(F.col(ts_col), gap)
    grouped = df.groupBy(win.alias("w"), *[F.col(k) for k in keys]).agg(
        *[c.alias(name) for name, c in aggs.items()]
    )
    return grouped.select(
        F.unix_micros("w.start").alias("session_start_us"),
        *keys,
        *aggs.keys(),
    )

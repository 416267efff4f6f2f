"""Shuffle-health diagnostics: key-skew profiling with a salt advisor.

At 100 TB the difference between a 40-minute and a 14-hour job is
usually ONE skewed shuffle key. AQE's skew-join handling splits
oversized partitions at runtime, but (a) it only covers sort-merge
joins, not aggregations, and (b) it tells you nothing ahead of time.
This operator is the planning-side complement: profile a prospective
shuffle key, name the heavy hitters, and compute the salt factor that
would level each one — the number the salted-join operator
(operators/relational.py) takes as ``n_salts``.

Reference parity note: the reference engine hash-partitions on the key
with no skew mitigation at all (affo/ssp key.go — a plain hash
partitioner); this is a §6 beyond-reference extension.

Scale design: ONE map-side-combined groupBy on the profiled key (the
same shuffle the real job would do, but carrying only a count), then a
top-k over keys that compiles to WindowGroupLimit (per-partition heap,
no global sort) and a broadcast of the single total row. Driver never
sees more than ``top`` rows. Determinism: counts and integer arithmetic
only — share in ppm (parts-per-million) via integer division, salt
factor as an exact integer ceiling.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def key_skew_report(
    df: DataFrame,
    keys: list[str],
    top: int = 10,
    target_partitions: int = 32,
) -> DataFrame:
    """Top-``top`` heaviest values of ``keys`` with skew metrics.

    Output columns:
      key_value     — the key rendered as a '|'-joined string
      cnt           — rows carrying that key
      share_ppm     — cnt * 1_000_000 / total (integer division)
      skew_x        — cnt / ceil(total / target_partitions): how many
                      ideal-partition quotas this single key fills
                      (integer; >= 2 means the key alone overflows a
                      perfectly balanced partition)
      salt_factor   — ceil(cnt * target_partitions / total): the
                      ``n_salts`` that levels this key to ~one quota
                      per salt (1 = no salting needed)

    Ties in cnt break on key_value ascending, so the cut is
    engine-deterministic. All metrics are pure INTEGER arithmetic
    (``div``), because Spark's double->long cast truncates where
    DuckDB's rounds — float division here would flake the oracle at
    some scale factor.
    """
    key_val = F.concat_ws("|", *[F.col(k).cast("string") for k in keys])
    counts = df.select(key_val.alias("key_value")).groupBy("key_value").agg(
        F.count("*").alias("cnt")
    )
    # global top-k: orderBy+limit compiles to TakeOrderedAndProject
    # (per-partition heap + k-row reduce), never a full sort
    topk = counts.orderBy(F.col("cnt").desc(), F.col("key_value")).limit(top)
    total = counts.agg(F.sum("cnt").alias("__total"))
    return (
        topk.crossJoin(F.broadcast(total))
        .select(
            "key_value",
            "cnt",
            F.expr("(cnt * 1000000) div __total").alias("share_ppm"),
            F.expr(
                f"cnt div ((__total + {target_partitions} - 1) div {target_partitions})"
            ).alias("skew_x"),
            F.expr(
                f"cast((cnt * {target_partitions} + __total - 1) div __total as int)"
            ).alias("salt_factor"),
        )
    )

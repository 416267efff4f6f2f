"""Driver contract for the spark-graft builder (PySpark target).

Backed by the ssp_spark package: a PySpark-native engine with the
capabilities of affo/ssp (see SURVEY.md). ``queries()`` /
``oracle_sql()`` are declared in ssp_spark.queries — every operator
claimed in SURVEY.md §2 has an entry there, and EVERY registered query
carries an exact ANSI-SQL DuckDB oracle. Both maps iterate in the
registry's declaration order. Streaming-only behaviors (watermark
drops, state eviction, checkpoint resume, sink atomicity) cannot be
expressed as a batch oracle and are pinned instead by reference-derived
golden tests in tests/test_streaming.py.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ssp_spark.queries import ORACLE, QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (ssp's word count, README.md:93-138) on sf0.001."""
    return QUERIES["word_count"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLE)

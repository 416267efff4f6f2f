"""Source/sink connector coverage (SURVEY §2.3 scans/sources/sinks): the
reference has only in-memory sources and a log sink; our contract adds
csv/json/parquet batch readers, file/rate streaming sources, and
memory/noop sinks. Round-trip each format against the parquet fixtures.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from ssp_spark import sources
from ssp_spark.catalog import load_table
from ssp_spark.streaming import _await_bounded
from tests.conftest import SF_SMOKE


def _checksum(df):
    """Order-insensitive content checksum over a customer-shaped frame."""
    return (
        df.select(
            F.sum(F.crc32(F.concat_ws("|", "c_custkey", "c_name", "c_nationkey", "c_mktsegment")))
        ).collect()[0][0],
        df.count(),
    )


def test_csv_roundtrip(spark, tmp_path):
    cust = load_table(spark, "customer", SF_SMOKE).select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment"
    )
    path = str(tmp_path / "cust_csv")
    cust.write.option("header", True).csv(path)
    back = sources.read_batch(spark, "csv", path, header=True, inferSchema=True)
    assert _checksum(back) == _checksum(cust)


def test_json_roundtrip(spark, tmp_path):
    cust = load_table(spark, "customer", SF_SMOKE).select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment"
    )
    path = str(tmp_path / "cust_json")
    cust.write.json(path)
    back = sources.read_batch(spark, "json", path, schema=None)
    assert _checksum(back) == _checksum(cust)


def test_json_file_stream_bounded_replay(spark, tmp_path):
    """File source -> availableNow -> memory sink sees every record once
    (the ssp Close-protocol equivalent for a bounded file stream)."""
    cust = load_table(spark, "customer", SF_SMOKE).select("c_custkey", "c_nationkey")
    path = str(tmp_path / "stream_json")
    cust.write.json(path)
    sdf = sources.read_stream(spark, "json", path, schema=cust.schema)
    assert sdf.isStreaming
    q = (
        sdf.groupBy("c_nationkey")
        .agg(F.count("*").alias("n"))
        .writeStream.format("memory")
        .queryName("src_replay")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _await_bounded(q, 120)
    got = {r["c_nationkey"]: r["n"] for r in spark.table("src_replay").collect()}
    want = {
        r["c_nationkey"]: r["n"]
        for r in cust.groupBy("c_nationkey").agg(F.count("*").alias("n")).collect()
    }
    assert got == want


def test_rate_source_schema(spark):
    df = sources.rate_source(spark, rows_per_second=5)
    assert df.isStreaming
    assert set(df.columns) == {"timestamp", "value"}


def test_partitioned_sink_prunes_partitions(spark, tmp_path):
    """Hive-partitioned parquet sink + partition-pruned scan: filtering on
    the partition column must reach the scan as a PartitionFilter (no
    full-table listing/read at scale), and results must match the
    unpartitioned data."""
    from ssp_spark.catalog import load_table
    from ssp_spark.stream import Stream

    out = str(tmp_path / "by_type")
    ev = load_table(spark, "events", SF_SMOKE).select("event_id", "event_type", "value")
    Stream(ev).to_parquet(out, partition_by=["event_type"])

    back = spark.read.parquet(out).filter(F.col("event_type") == "purchase")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "event_type" in plan.split("PartitionFilters:")[1][:200]

    want = ev.filter(F.col("event_type") == "purchase").count()
    assert back.count() == want
    # and the physical layout really is one directory per type
    import os as _os

    dirs = [d for d in _os.listdir(out) if d.startswith("event_type=")]
    assert len(dirs) == ev.select("event_type").distinct().count()

"""SparkSession factory tuned for this engine.

The reference engine (affo/ssp) hand-builds its runtime: one goroutine per
operator instance, bounded channels, FNV-64a hash partitioning. We instead
configure Spark once and let Catalyst/Tungsten own execution:

- AQE on: runtime shuffle-partition coalescing, skew-join splitting and
  dynamic broadcast conversion replace ssp's static ``par`` clone count.
- Arrow on: every Python-side operator (pandas UDFs, applyInPandas) moves
  data in columnar batches, never row-at-a-time.
- Session timezone pinned to UTC so event-time semantics are stable and
  oracle-comparable.
- ``nanosAsLong``: the driver fixtures store ``events.ts`` as parquet
  TIMESTAMP(NANOS), which Spark 4 refuses to read natively; we read the
  raw int64 and convert to a microsecond timestamp in the catalog layer
  (same ns->us truncation DuckDB applies).
- Streaming checkpoints are written through Hadoop's ``FileSystem`` API
  rather than ``FileContext`` (see the comment in ``get_spark``).

At 100 TB these remain the right knobs; only sizing differs, so every
scale-sensitive value is env-overridable instead of hard-coded.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = [
    "get_spark",
    "default_parallelism",
    "sized_shuffle_partitions",
    "adaptive_enabled_for",
]


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def sized_shuffle_partitions(data_dir: str, cpus: int | None = None) -> int:
    """Input-sized shuffle partition count: ceil(bytes/16 MiB) clamped to
    [8, 3x cores].

    One shuffle partition per core (the old default) schedules
    cores-x-stages reduce tasks regardless of data volume; at small
    inputs that scheduling IS the wall clock (measured at sf0.1:
    32 -> 8 partitions cut the headline suite ~15% with no query
    regressing, jaccard -35%). Sizing from input bytes is the same rule
    a cluster deployment applies — grow toward the 2-3x-total-cores cap
    as data grows, never schedule hundreds of near-empty reducers for
    megabytes. AQE coalescing still owns the post-filter tail within a
    query; this sets the pre-AQE ceiling.
    """
    cpus = cpus or default_parallelism()
    total = _dir_bytes(data_dir)
    return max(8, min(3 * cpus, -(-total // (16 << 20))))


def _dir_bytes(data_dir: str) -> int:
    total = 0
    try:
        for root, _dirs, files in os.walk(data_dir):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
    except OSError:
        pass
    return total


def adaptive_enabled_for(data_dir: str) -> bool:
    """Input-gated AQE: on for inputs >= SPARK_GRAFT_AQE_MIN_BYTES
    (default 1 GiB), off below.

    AQE is a runtime re-planner: every exchange becomes a stage
    materialization + re-optimization barrier. Its wins (skew splitting,
    partition coalescing, dynamic broadcast) are proportional to data;
    its cost is per stage and constant. Measured at sf0.1 (17 MB input)
    the tax is ~25-30% of the whole suite with nothing for it to adapt —
    at 100 TB it is obviously on, and this gate is how the session picks
    the right side of that trade from the input instead of hard-coding
    either."""
    min_bytes = int(os.environ.get("SPARK_GRAFT_AQE_MIN_BYTES", str(1 << 30)))
    return _dir_bytes(data_dir) >= min_bytes


def get_spark(
    app_name: str = "ssp-spark",
    *,
    shuffle_partitions: int | None = None,
    adaptive: bool = True,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    ``shuffle_partitions`` defaults to the local core count: on local[n]
    one shuffle partition per core avoids tiny-task overhead, while AQE
    coalescing keeps post-filter stages from running 32 near-empty tasks.
    On a real cluster this would be ~2-3x total executor cores; callers
    pass it explicitly, set SPARK_GRAFT_SHUFFLE_PARTITIONS, or size it
    from the input with ``sized_shuffle_partitions``. ``adaptive``
    defaults on (the at-scale posture); ``adaptive_enabled_for`` gives
    the input-gated policy.
    """
    cpus = default_parallelism()
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cpus)))
    aqe = "true" if adaptive else "false"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", aqe)
        .config("spark.sql.adaptive.coalescePartitions.enabled", aqe)
        .config("spark.sql.adaptive.skewJoin.enabled", aqe)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # InferWindowGroupLimit only rewrites rank-limit filters whose k is
        # below this threshold (default 1000) into map-side top-k heaps.
        # Our largest rank cap is the 2048-user hot-day sample in
        # triangle_count_users; a 4096-entry per-task heap is trivial, and
        # without the rewrite a hot partition's FULL group is sorted on one
        # task — the exact failure the cap exists to prevent.
        .config("spark.sql.optimizer.windowGroupLimitThreshold", "4096")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Local-mode sizing: in local[n] the driver JVM IS the executor —
        # all n task threads share this one heap. An 8g heap died of GC
        # thrash on the sf10 suite (GCLocker retries, dropped
        # localCheckpoint blocks) with most of the host's RAM idle. 48g is
        # the local analogue of a cluster's per-executor memory and leaves
        # headroom for the paired DuckDB process. Still env-overridable.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
        # PySpark 4 wraps EVERY DataFrame/Column API call with call-site
        # capture for error enrichment (pyspark/errors/utils.py
        # _with_origin) — per call that is a getActiveSession lookup, a
        # conf read, a Python stack walk and a JVM PySparkCurrentOrigin
        # set/clear: 3-4 extra py4j round trips. Plan construction runs
        # inside every timed query, and measured builds halve with it off
        # (e.g. embedding_standardize 1.22 -> 0.55 s, bootstrap_ci_spend
        # 0.55 -> 0.27 s). Purely driver-side Python overhead — plans,
        # results and execution are bit-identical; only error messages
        # lose the "was called from queries.py:123" context line, and
        # SPARK_GRAFT_DF_DEBUG=1 restores that for debugging sessions.
        # (PySpark caches the flag at first API call, so it must be set
        # at session build — which this factory guarantees.)
        .config(
            "spark.python.sql.dataFrameDebugging.enabled",
            "true" if os.environ.get("SPARK_GRAFT_DF_DEBUG") == "1" else "false",
        )
        # Every streaming trigger durably writes an offset-log entry, a
        # commit-log entry, a source-log entry and one state-store delta
        # per state partition, each with its Hadoop .crc and checksum
        # sidecar, as a temp file renamed into place. Spark's default
        # FileContext-based manager renames through FileContext, which
        # resolves symlinks via RawLocalFileSystem.getFileLinkStatus;
        # without Hadoop's native library that forks a `readlink` child,
        # and every permission set forks a `chmod` child. One 20 s
        # stream_window benchmark run (perfbench, seed 5, 4-vCPU Linux VM)
        # forked 9,269 processes over 47 triggers: 7,389 readlink and
        # 1,880 chmod, ~200 per trigger, 85% under the state store's
        # directory. The FileSystem-based manager keeps the same
        # temp-file-then-rename protocol and, for overwriteIfPossible=false,
        # the same refusal to overwrite an existing file (exists check,
        # rename, re-check on failure); the same run then forked 2,835
        # processes over 72 triggers, ~40 per trigger, all but 5 of them
        # chmod. Checksums and the state-store provider are unchanged.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    )
    return builder.getOrCreate()

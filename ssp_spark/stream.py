"""ssp-equivalent fluent Stream API over DataFrames.

The reference's user surface is: build a DAG of nodes with
``NewNode`` (stateless 0..n-out transform, affo/ssp node.go:57-64),
``NewStatefulNode`` (per-key fold, node.go:66-73), ``KeyBy``
(arch.go:3-6), ``AssignTimestamp`` (time.go:7-19), ``NewWindowedNode``
(window.go:132-160), sources (engine.go:246-250) and sinks
(node.go:107-114). This module exposes the same verbs over a lazy
DataFrame: building a Stream builds a Catalyst logical plan, and Catalyst
replaces ssp's verbatim graph execution (engine.go:22-47 — no optimizer)
with real optimization.

Batch and streaming DataFrames share this API; `is_streaming` decides
which sinks are legal, exactly as Spark itself does.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Mapping
from typing import Any

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from ssp_spark.operators import windows as _windows


class Stream:
    """Lazy wrapper: every verb returns a new Stream over a new plan."""

    def __init__(self, df: DataFrame, key_cols: tuple[str, ...] = ()):  # key set by key_by
        self.df = df
        self.key_cols = key_cols

    # ---- sources -------------------------------------------------------
    @staticmethod
    def from_elements(spark: SparkSession, elems: Iterable[Any], schema=None) -> "Stream":
        """Literal in-memory source (ssp NewStreamFromElements,
        affo/ssp datastream.go:15-41)."""
        data = [(e,) if not isinstance(e, (tuple, dict)) else e for e in elems]
        return Stream(spark.createDataFrame(data, schema or ["value"]))

    @staticmethod
    def read_parquet(spark: SparkSession, path: str) -> "Stream":
        return Stream(spark.read.parquet(path))

    # ---- stateless transforms (ssp NewNode, node.go:57-64) -------------
    def select(self, *cols: Column | str) -> "Stream":
        return Stream(self.df.select(*cols), self.key_cols)

    def map(self, *cols: Column | str) -> "Stream":
        """1->1 transform expressed as Catalyst projections (fast path)."""
        return self.select(*cols)

    def map_in_pandas(self, fn, schema) -> "Stream":
        """Arbitrary 0..n-out Python transform — the Arrow-batched escape
        hatch for logic expressions can't say (ssp's general closure)."""
        return Stream(self.df.mapInPandas(fn, schema), self.key_cols)

    def flat_map(self, col: Column, alias: str = "value") -> "Stream":
        """1->n via explode (ssp collector emitting n values)."""
        return Stream(self.df.select(F.explode(col).alias(alias)))

    def filter(self, pred: Column) -> "Stream":
        return Stream(self.df.filter(pred), self.key_cols)

    # ---- keying (ssp KeyBy, arch.go:3-6) -------------------------------
    def key_by(self, *cols: str) -> "Stream":
        """Logical keying: downstream stateful/window ops group by these.

        ssp physically routes key mod par (engine.go:374-386); Spark's
        shuffle does the same under groupBy, so key_by is metadata here —
        the shuffle materializes only when a stateful verb follows.
        """
        return Stream(self.df, tuple(cols))

    def repartition_by_key(self, n: int | None = None) -> "Stream":
        cols = [F.col(c) for c in self.key_cols]
        df = self.df.repartition(n, *cols) if n else self.df.repartition(*cols)
        return Stream(df, self.key_cols)

    # ---- stateful (ssp NewStatefulNode, node.go:66-73) -----------------
    def agg(self, **named_aggs: Column) -> "Stream":
        """Algebraic per-key fold -> hash aggregate (partial+final).

        The 'final state' half of ssp's stateful node; for the
        emit-every-prefix behavior use running() or the streaming path.
        """
        gb = self.df.groupBy(*[F.col(c) for c in self.key_cols])
        return Stream(gb.agg(*[c.alias(n) for n, c in named_aggs.items()]))

    def running(self, order_by: list[Column | str], **named_aggs: Column) -> "Stream":
        """Batch replay of ssp's update-mode emission: one output row per
        input row carrying the per-key running aggregate
        (ssp emits every prefix state — engine_test.go:123-155)."""
        w = (
            Window.partitionBy(*[F.col(c) for c in self.key_cols])
            .orderBy(*[F.col(c) if isinstance(c, str) else c for c in order_by])
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        df = self.df
        for name, col in named_aggs.items():
            df = df.withColumn(name, col.over(w))
        return Stream(df, self.key_cols)

    def stateful_apply(self, fn, out_schema, state_schema, mode: str = "append", timeout: str = "NoTimeout") -> "Stream":
        """General per-key stateful transform with per-element emission —
        streaming applyInPandasWithState (ssp node.go:75-82 semantics:
        state lives per key, user fn may emit 0..n rows per input)."""
        grouped = self.df.groupBy(*[F.col(c) for c in self.key_cols])
        return Stream(grouped.applyInPandasWithState(fn, out_schema, state_schema, mode, timeout))

    def apply_in_pandas(self, fn, schema) -> "Stream":
        return Stream(self.df.groupBy(*[F.col(c) for c in self.key_cols]).applyInPandas(fn, schema))

    # ---- event time (ssp AssignTimestamp, time.go:7-19) ----------------
    def assign_timestamps(self, ts_col: str, delay: str | None = None) -> "Stream":
        """Declare the event-time column; on a streaming DF also set the
        fixed-delay watermark (ssp's wm = ts - delay pattern,
        engine_test.go:663-667 — exactly Spark's withWatermark model)."""
        df = self.df
        if delay is not None and df.isStreaming:
            df = df.withWatermark(ts_col, delay)
        s = Stream(df, self.key_cols)
        s._ts_col = ts_col
        return s

    def window_by(self, size: str, slide: str | None = None, **named_aggs: Column) -> "Stream":
        """Sliding/tumbling event-time window fold
        (ssp NewWindowedNode, window.go:132-160)."""
        ts = getattr(self, "_ts_col", "ts")
        return Stream(
            _windows.sliding(self.df, ts, size, slide or size, dict(named_aggs), list(self.key_cols))
        )

    # ---- multi-input (ssp dataStreams merge, engine.go:85-121) ---------
    def merge(self, *others: "Stream", tagged: bool = False) -> "Stream":
        """Fan-in union; tagged=True adds the ssp Source decorator as a
        'src' column (values/source.go:36-43)."""
        dfs = [self.df, *[o.df for o in others]]
        if tagged:
            dfs = [d.withColumn("src", F.lit(i)) for i, d in enumerate(dfs)]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return Stream(out)

    @staticmethod
    def _with_position(df: DataFrame, order_col: str) -> DataFrame:
        """Attach a 1-based global position WITHOUT a global sort.

        The naive ``Window.orderBy(monotonically_increasing_id())`` moves
        the whole dataset to one partition for the global row_number — fine
        for a 5-element golden, a scale-killer at 100 TB. This is the
        standard zipWithIndex construction instead:

        1. row_number partitioned by ``spark_partition_id()`` — each
           partition sorts only its own rows (parallel, spill-safe);
        2. per-partition counts -> prefix-sum offsets. The offset table has
           ONE row per partition, so its global window is O(#partitions);
        3. broadcast-join offsets back; position = offset + local index.

        Global order matches the old plan exactly: monotonically
        increasing ids are (partition_id << 33) + local offset, so
        ordering by (partition, id) == ordering by id.
        """
        # monotonically_increasing_id() = partition_id << 33 | row offset
        # within the partition (documented bit layout), so partition and
        # local index derive map-side with pure bit ops — the big dataset
        # is never shuffled or sorted here at all.
        tagged = df.withColumn("__mid", F.monotonically_increasing_id())
        indexed = tagged.withColumn(
            "__part", F.shiftright(F.col("__mid"), 33)
        ).withColumn("__idx", F.col("__mid").bitwiseAND(F.lit((1 << 33) - 1)))
        counts = indexed.groupBy("__part").agg(F.count(F.lit(1)).alias("__cnt"))
        # One row per partition: a global window here is deliberate and tiny.
        off_w = Window.orderBy("__part").rowsBetween(Window.unboundedPreceding, -1)
        offsets = counts.withColumn(
            "__off", F.coalesce(F.sum("__cnt").over(off_w), F.lit(0))
        ).select("__part", "__off")
        return (
            indexed.join(F.broadcast(offsets), "__part")
            .withColumn(order_col, (F.col("__off") + F.col("__idx") + F.lit(1)).cast("long"))
            .drop("__part", "__mid", "__idx", "__off")
        )

    def align(self, other: "Stream", order_col: str = "__pos") -> "Stream":
        """ssp's Align pattern (engine_test.go:558-590): pair two streams
        1-to-1 in order. Batch form: join on per-stream position index,
        built scale-safely (see _with_position)."""
        a = self._with_position(self.df, order_col)
        b = self._with_position(other.df, order_col)
        bc = [c for c in b.columns if c != order_col]
        b = b.select(order_col, *[F.col(c).alias(f"r_{c}") for c in bc])
        return Stream(a.join(b, order_col, "inner").drop(order_col))

    # ---- sinks (ssp NewLogSink node.go:107-114 / discard sink) ---------
    def collect(self) -> list:
        return self.df.collect()

    def to_memory_sink(self, name: str, trigger_available_now: bool = True):
        """Streaming log-sink: memory table named ``name``."""
        writer = self.df.writeStream.format("memory").queryName(name).outputMode("append")
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def to_noop(self):
        if self.df.isStreaming:
            return self.df.writeStream.format("noop").trigger(availableNow=True).start()
        self.df.write.format("noop").mode("overwrite").save()

    def to_parquet(self, path: str, mode: str = "overwrite", partition_by: list[str] | None = None):
        w = self.df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)

"""Ports of the reference's end-to-end golden tests onto the Stream API.

Each test cites the ssp test it reproduces; comparisons are
order-insensitive (sorted), exactly as the reference's own tests do
(affo/ssp engine_test.go:218,610,739-740).
"""

from __future__ import annotations

import pyspark.sql.functions as F

from ssp_spark.stream import Stream


def test_prefix_sums_golden(spark):
    """ssp TestEngine (affo/ssp engine_test.go:123-155): source
    0..4 -> stateful running sum emitting every prefix -> [0,1,3,6,10]."""
    s = Stream(spark.createDataFrame([(i, i) for i in range(5)], ["pos", "v"]))
    out = (
        s.key_by()  # global state: ssp uses the default single key here
        .running([F.col("pos")], run_sum=F.sum("v"))
        .df.orderBy("pos")
        .select("run_sum")
        .collect()
    )
    assert [r.run_sum for r in out] == [0, 1, 3, 6, 10]


WORDS = ["hello", "this", "is", "ssp", "hello", "this", "is", "sparta", "sparta", "is", "leonida"]


def test_wordcount_update_emission_golden(spark):
    """ssp TestParallelEngine (engine_test.go:157-222): keyed stateful
    count emitting on EVERY input -> every prefix count per word."""
    s = Stream(spark.createDataFrame(list(enumerate(WORDS)), ["pos", "word"]))
    out = (
        s.key_by("word")
        .running([F.col("pos")], cnt=F.count("*"))
        .df.select(F.concat_ws(": ", "word", F.col("cnt").cast("string")).alias("s"))
        .collect()
    )
    got = sorted(r.s for r in out)
    want = sorted(
        [
            "hello: 1",
            "hello: 2",
            "is: 1",
            "is: 2",
            "is: 3",
            "leonida: 1",
            "sparta: 1",
            "sparta: 2",
            "ssp: 1",
            "this: 1",
            "this: 2",
        ]
    )
    assert got == want


def test_map_upper(spark):
    """engine_test.go:548-551 upper-case map."""
    s = Stream(spark.createDataFrame([(w,) for w in ["hello", "this"]], ["value"]))
    got = sorted(r.v for r in s.map(F.upper("value").alias("v")).collect())
    assert got == ["HELLO", "THIS"]


def test_flat_map_one_to_four(spark):
    """node_test.go:20-27: collector emitting 4 values per input."""
    s = Stream(spark.createDataFrame([(1,), (2,)], ["value"]))
    out = s.flat_map(F.array(*[F.col("value") + i for i in range(4)]), "v").collect()
    assert sorted(r.v for r in out) == [1, 2, 2, 3, 3, 4, 4, 5]


def test_filter_may_emit_nothing(spark):
    """node.go:57-64: the collector contract allows 0 outputs per input."""
    s = Stream(spark.createDataFrame([(i,) for i in range(10)], ["value"]))
    assert s.filter(F.col("value") > 100).collect() == []


def test_merge_tagged_sources(spark):
    """O16 dataStreams merge + Source decorator (engine.go:85-121,
    values/source.go:36-43): each record carries its input-edge index."""
    a = Stream(spark.createDataFrame([("a1",), ("a2",)], ["value"]))
    b = Stream(spark.createDataFrame([("b1",)], ["value"]))
    rows = a.merge(b, tagged=True).collect()
    got = sorted((r.src, r.value) for r in rows)
    assert got == [(0, "a1"), (0, "a2"), (1, "b1")]


def test_align_golden(spark):
    """ssp TestParallelEngine_MultipleInputs (engine_test.go:530-614):
    fan one source into upper + len branches, align 1-to-1, zip-format."""
    src = Stream(
        spark.createDataFrame(
            list(enumerate(["hello", "this", "is", "ssp"])), ["pos", "value"]
        )
    )
    upper = src.map(F.col("pos"), F.upper("value").alias("value"))
    count = src.map(F.col("pos"), F.length("value").alias("value"))
    aligned = upper.align(count)
    out = aligned.df.select(
        F.concat_ws(": ", "value", F.col("r_value").cast("string")).alias("s")
    ).collect()
    got = sorted(r.s for r in out)
    assert got == sorted(["HELLO: 5", "THIS: 4", "IS: 2", "SSP: 3"])


def test_align_position_scale_safe(spark):
    """align must not globally sort the data (round-1 scale-killer:
    Window.orderBy(monotonically_increasing_id()) with no partitionBy
    collapsed both streams to ONE partition). The zip-with-index
    construction derives positions map-side from the monotonic id's bit
    layout; the only single-partition step is the per-partition count
    prefix-sum (O(#partitions) rows)."""
    from ssp_spark import plans

    df = spark.range(0, 100_000).repartition(16)
    pos = Stream._with_position(df, "__pos")
    # 1) contiguous 1..N positions across many partitions
    got = [r["__pos"] for r in pos.orderBy("__pos").collect()]
    assert got == list(range(1, 100_001))
    # 2) plan: no row_number window at all, no sort on the monotonic id —
    #    the full dataset is never globally (or even locally) sorted
    a = Stream(df)
    s = plans.plan_string(a.align(Stream(df)).df, "simple")
    assert "row_number()" not in s
    assert not [ln for ln in s.splitlines() if "Sort" in ln and "__mid" in ln]


def test_same_key_same_partition(spark):
    """O7/O8 invariant (key.go:57-74, key_test.go:9-24): deterministic
    keying — every occurrence of a word lands in the same partition."""
    s = Stream(spark.createDataFrame([(w,) for w in WORDS * 10], ["word"]))
    parts = (
        s.key_by("word")
        .repartition_by_key(4)
        .df.select("word", F.spark_partition_id().alias("pid"))
        .groupBy("word")
        .agg(F.count_distinct("pid").alias("n"))
        .collect()
    )
    assert all(r.n == 1 for r in parts)


def test_fan_out_reuse(spark):
    """O19 broadcast fan-out (engine.go:196-211): one stream consumed by
    two downstream plans."""
    src = Stream(spark.createDataFrame([(i,) for i in range(100)], ["value"]))
    evens = src.filter(F.col("value") % 2 == 0)
    total = src.df.agg(F.sum("value").alias("s")).collect()[0].s
    assert len(evens.collect()) == 50
    assert total == 4950


def test_node_error_propagates_map_in_pandas(spark):
    """ssp Test_Node_Error (node_test.go:41-49): a user fn returning an
    error aborts execution with that error. Spark form: an exception
    raised inside a map_in_pandas user fn must surface to the caller at
    action time (not be swallowed), carrying the original message."""
    import pytest
    from pyspark.errors.exceptions.captured import PythonException

    s = Stream(spark.createDataFrame([(1,), (2,)], ["v"]))

    def boom(batches):
        for pdf in batches:
            raise ValueError("an error")
            yield pdf  # pragma: no cover

    with pytest.raises(PythonException, match="an error"):
        s.map_in_pandas(boom, "v long").collect()


def test_node_error_propagates_stateful_apply(spark):
    """Same contract on the keyed stateful path (apply_in_pandas): the
    per-key user fn's exception must reach the caller."""
    import pytest
    from pyspark.errors.exceptions.captured import PythonException

    s = Stream(spark.createDataFrame([("k", 1), ("k", 2)], ["k", "v"]))

    def boom(pdf):
        raise RuntimeError("stateful user fn failed")

    with pytest.raises(PythonException, match="stateful user fn failed"):
        s.key_by("k").apply_in_pandas(boom, "k string, v long").collect()

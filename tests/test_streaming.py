"""Structured Streaming behavior tests: ssp's streaming semantics under
the SURVEY.md §4.3 decisions, on bounded replays (availableNow == ssp's
Close protocol, /root/reference/collect.go:11-18).
"""

from __future__ import annotations

import datetime as dt
import os
import tempfile
import uuid

import pyspark.sql.functions as F
import pyspark.sql.types as T
import pytest
from py4j.protocol import Py4JJavaError
from pyspark.errors import StreamingQueryException

from ssp_spark import streaming as ss


_mtime_seq = [1_700_000_000]


def _write_parquet(spark, rows, schema, path):
    """Append one file and give it a strictly increasing mtime: the file
    stream source orders batches by modification time, and sub-second
    back-to-back writes would otherwise tie (or merge into one batch)."""
    import glob

    before = set(glob.glob(os.path.join(path, "*.parquet")))
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(path)
    _mtime_seq[0] += 10
    for f in set(glob.glob(os.path.join(path, "*.parquet"))) - before:
        os.utime(f, (_mtime_seq[0], _mtime_seq[0]))


@pytest.fixture
def tmpdir():
    with tempfile.TemporaryDirectory() as d:
        yield d


WORDS = ["hello", "this", "is", "ssp", "hello", "this", "is", "sparta", "sparta", "is", "leonida"]


def test_running_count_stream_update_emission(spark, tmpdir):
    """ssp TestParallelEngine golden (engine_test.go:157-222) on the REAL
    streaming path: applyInPandasWithState emits 'word: k' for every
    arrival, exactly ssp's update-on-every-record contract."""
    src = os.path.join(tmpdir, "words")
    _write_parquet(spark, [(i, w) for i, w in enumerate(WORDS)], "pos long, word string", src)
    sdf = spark.readStream.schema("pos long, word string").parquet(src)
    counted = ss.running_count_stream(sdf, "word")
    name = f"rc_{uuid.uuid4().hex[:8]}"
    q = counted.writeStream.format("memory").queryName(name).outputMode("append").trigger(
        availableNow=True
    ).start()
    ss._await_bounded(q, 120)
    got = sorted(f"{r.word}: {r.cnt}" for r in spark.table(name).collect())
    want = sorted(
        ["hello: 1", "hello: 2", "is: 1", "is: 2", "is: 3", "leonida: 1",
         "sparta: 1", "sparta: 2", "ssp: 1", "this: 1", "this: 2"]
    )
    assert got == want


def test_running_count_state_carries_across_batches(spark, tmpdir):
    """Per-key state persists across micro-batches (ssp: state lives in
    the per-key node clone for the stream's lifetime, engine.go:239-244)."""
    src = os.path.join(tmpdir, "w2")
    _write_parquet(spark, [(0, "a"), (1, "a")], "pos long, word string", src)
    _write_parquet(spark, [(2, "a"), (3, "b")], "pos long, word string", src)
    sdf = (
        spark.readStream.schema("pos long, word string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    counted = ss.running_count_stream(sdf, "word")
    name = f"rc2_{uuid.uuid4().hex[:8]}"
    q = counted.writeStream.format("memory").queryName(name).outputMode("append").trigger(
        availableNow=True
    ).start()
    ss._await_bounded(q, 120)
    got = sorted((r.word, r.cnt) for r in spark.table(name).collect())
    # 'a' reaches 3 across two batches -> counts 1,2,3; 'b' -> 1
    assert got == [("a", 1), ("a", 2), ("a", 3), ("b", 1)]


def _ts(s: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)


def test_windowed_stream_append_drops_late(spark, tmpdir):
    """§4.3 decision 2: append mode drops records later than the
    watermark (ssp would re-open an 'ad-hoc' window — window.go:84-85 —
    nondeterministically; we drop, deterministically).

    Batch 0: ts 10..40. Batch 1: ts 45 (the watermark lags one trigger:
    it becomes 40-10=30 for batch 2). Batch 2: ts 5 — now later than the
    active watermark, all its windows closed -> dropped.
    Tumbling 10s windows, append: window [0,10) must NOT appear.
    """
    src = os.path.join(tmpdir, "ev")
    schema = "ts timestamp, k string"
    _write_parquet(spark, [(_ts(s), "x") for s in [10, 15, 22, 40]], schema, src)
    _write_parquet(spark, [(_ts(45), "x")], schema, src)
    _write_parquet(spark, [(_ts(5), "x"), (_ts(50), "x")], schema, src)
    sdf = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    win = ss.windowed_count_stream(sdf, "ts", "k", "10 seconds", "10 seconds", "10 seconds")
    name = f"wl_{uuid.uuid4().hex[:8]}"
    q = win.writeStream.format("memory").queryName(name).outputMode("append").trigger(
        availableNow=True
    ).start()
    ss._await_bounded(q, 120)
    base = 1704067200  # 2024-01-01 epoch
    got = {(r.ws - base, r.cnt) for r in spark.table(name).collect()}
    # [10,20): ts 10,15 -> 2; [20,30): ts 22 -> 1; [40,50) and [50,60)
    # may or may not emit depending on final watermark; [0,10) (the late
    # ts=5) must be absent.
    assert (0, 1) not in got
    assert (10, 2) in got and (20, 1) in got


def test_late_side_output(spark, tmpdir):
    """§4.3 late_policy='side_output': late rows are split to a side sink
    instead of silently dropped — preserves ssp's 'late data remains
    visible' capability without its nondeterminism."""
    src = os.path.join(tmpdir, "ev2")
    schema = "ts timestamp, k string"
    _write_parquet(spark, [(_ts(s), "x") for s in [100, 200]], schema, src)
    _write_parquet(spark, [(_ts(5), "late1"), (_ts(195), "ok")], schema, src)
    sdf = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)

    captured = {"on_time": [], "late": []}

    def on_batch(on_time, late, batch_id):
        captured["on_time"] += [r.k for r in on_time.collect()]
        captured["late"] += [r.k for r in late.collect()]

    q = ss.with_late_side_output(sdf, "ts", "10 seconds", on_batch)
    ss._await_bounded(q, 120)
    assert "late1" in captured["late"]
    assert "ok" in captured["on_time"]
    assert "late1" not in captured["on_time"]


def test_union_watermark_alignment(spark, tmpdir):
    """O17 watermarker (engine.go:123-171): with multiple inputs the
    effective watermark is the MIN across sources — Spark's default
    multipleWatermarkPolicy=min reproduces it. A window closed on the
    fast source alone must not fire while the slow source could still
    supply rows."""
    fast = os.path.join(tmpdir, "fast")
    slow = os.path.join(tmpdir, "slow")
    schema = "ts timestamp, k string"
    _write_parquet(spark, [(_ts(s), "f") for s in [100, 200]], schema, fast)
    _write_parquet(spark, [(_ts(s), "s") for s in [15]], schema, slow)
    # ssp assigns the watermark per source and aligns on the MIN
    # (engine.go:141-156); the Spark equivalent is withWatermark on EACH
    # input before the union — the downstream window op then takes
    # min(wm_a, wm_b) under multipleWatermarkPolicy=min (the default).
    a = spark.readStream.schema(schema).parquet(fast).withWatermark("ts", "5 seconds")
    b = spark.readStream.schema(schema).parquet(slow).withWatermark("ts", "5 seconds")
    merged = a.unionByName(b)
    win = (
        merged.groupBy(F.window("ts", "10 seconds").alias("w"), "k")
        .agg(F.count("*").alias("cnt"))
        .select(F.unix_timestamp("w.start").alias("ws"), "k", "cnt")
    )
    name = f"uw_{uuid.uuid4().hex[:8]}"
    q = win.writeStream.format("memory").queryName(name).outputMode("append").trigger(
        availableNow=True
    ).start()
    ss._await_bounded(q, 120)
    base = 1704067200
    got = {(r.ws - base, r.k, r.cnt) for r in spark.table(name).collect()}
    # min watermark = min(200, 15) - 5 = 10 -> only windows ending <= 10
    # fire: [0,10) is empty here, so nothing from the fast source's
    # [100,110)/[200,210) may appear.
    assert not {(100, "f", 1), (200, "f", 1)} & got


def test_stream_stream_join_with_watermarks(spark, tmpdir):
    """General stream-stream equi-join with watermark bounds (SURVEY §2.3
    joins / O18 generalization): impressions join clicks within a 30 s
    event-time range. Both sides watermarked; the range condition lets
    Spark bound join state on both sides."""
    imp_p = os.path.join(tmpdir, "imp")
    clk_p = os.path.join(tmpdir, "clk")
    schema = "ts timestamp, ad long"
    _write_parquet(spark, [(_ts(0), 1), (_ts(10), 2), (_ts(20), 3)], schema, imp_p)
    _write_parquet(spark, [(_ts(5), 1), (_ts(60), 3), (_ts(100), 9)], schema, clk_p)
    imp = (
        spark.readStream.schema(schema).parquet(imp_p)
        .withWatermark("ts", "10 seconds")
        .select(F.col("ts").alias("imp_ts"), F.col("ad").alias("imp_ad"))
    )
    clk = (
        spark.readStream.schema(schema).parquet(clk_p)
        .withWatermark("ts", "10 seconds")
        .select(F.col("ts").alias("clk_ts"), F.col("ad").alias("clk_ad"))
    )
    joined = imp.join(
        clk,
        F.expr(
            "imp_ad = clk_ad AND clk_ts >= imp_ts AND clk_ts <= imp_ts + interval 30 seconds"
        ),
    ).select("imp_ad", F.unix_timestamp("imp_ts").alias("i"), F.unix_timestamp("clk_ts").alias("c"))
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    q = joined.writeStream.format("memory").queryName(name).outputMode("append").trigger(
        availableNow=True
    ).start()
    ss._await_bounded(q, 120)
    base = 1704067200
    got = sorted((r.imp_ad, r.i - base, r.c - base) for r in spark.table(name).collect())
    # ad 1: click 5s after impression (within 30s) -> joins.
    # ad 3: click 40s after -> outside the range. ad 9: no impression.
    assert got == [(1, 0, 5)]


def test_streaming_drop_duplicates_within_watermark(spark, tmpdir):
    """Streaming dedup (SURVEY §2.3 streaming-only): dropDuplicates on an
    id keeps the first arrival and suppresses re-deliveries; with a
    watermarked event-time column the dedup state is evictable (the
    at-scale requirement — unbounded dedup state is the ssp leak we
    explicitly do not reproduce, engine.go:239-244)."""
    src = os.path.join(tmpdir, "dd")
    schema = "ts timestamp, id long"
    _write_parquet(spark, [(_ts(0), 1), (_ts(1), 2), (_ts(2), 1)], schema, src)
    _write_parquet(spark, [(_ts(3), 2), (_ts(4), 3)], schema, src)
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "10 seconds")
        .dropDuplicates(["id"])
    )
    name = f"dd_{uuid.uuid4().hex[:8]}"
    q = sdf.writeStream.format("memory").queryName(name).outputMode("append").trigger(
        availableNow=True
    ).start()
    ss._await_bounded(q, 120)
    got = sorted(r.id for r in spark.table(name).collect())
    assert got == [1, 2, 3]


def test_streaming_session_window(spark, tmpdir):
    """session_window on a stream: activity gaps > 10 s split sessions
    (capability absent from the reference — SURVEY §2.3 'no session
    windows' — provided as the idiomatic Spark upgrade)."""
    src = os.path.join(tmpdir, "sw")
    schema = "ts timestamp, user string"
    # user u: events at 0,5,8 (one session), then 30,32 (second session);
    # a late straggler at 100 closes everything earlier.
    _write_parquet(spark, [(_ts(s), "u") for s in [0, 5, 8, 30, 32]], schema, src)
    _write_parquet(spark, [(_ts(100), "u")], schema, src)
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "5 seconds")
    )
    agg = (
        sdf.groupBy(F.session_window("ts", "10 seconds").alias("w"), "user")
        .agg(F.count("*").alias("n"))
        .select(F.unix_timestamp("w.start").alias("ws"), F.unix_timestamp("w.end").alias("we"), "user", "n")
    )
    name = f"sw_{uuid.uuid4().hex[:8]}"
    q = agg.writeStream.format("memory").queryName(name).outputMode("append").trigger(
        availableNow=True
    ).start()
    ss._await_bounded(q, 120)
    base = 1704067200
    got = sorted((r.ws - base, r.we - base, r.n) for r in spark.table(name).collect())
    assert (0, 18, 3) in got  # 0,5,8 merge: session extends to last+gap
    assert (30, 42, 2) in got


def test_checkpoint_recovery_resumes_state(spark, tmpdir):
    """Close/restart contract: a keyed stateful stream stopped after batch
    1 and RESTARTED from its checkpoint must (a) not reprocess batch-1
    rows and (b) resume counting from the persisted state — the streaming
    analogue of the reference engine's deterministic replay guarantee.
    """
    import pyspark.sql.types as T

    src = os.path.join(tmpdir, "ckpt_src")
    ckpt = os.path.join(tmpdir, "ckpt_dir")
    out = os.path.join(tmpdir, "ckpt_out")
    schema = T.StructType([T.StructField("word", T.StringType())])

    spark.createDataFrame([("a",), ("b",), ("a",)], schema).coalesce(1).write.mode(
        "append"
    ).json(src)

    def run():
        # file sink: the memory sink is not fault-tolerant and refuses to
        # recover from a checkpoint — recovery is exactly what's under test
        sdf = spark.readStream.schema(schema).json(src)
        counts = ss.running_count_stream(sdf, "word")
        q = (
            counts.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        ss._await_bounded(q, 120)
        return sorted((r.word, r.cnt) for r in spark.read.parquet(out).collect())

    # phase 1: counts over the first file only
    assert run() == [("a", 1), ("a", 2), ("b", 1)]

    # phase 2: new file arrives; restart from the SAME checkpoint. The
    # sink now holds phase-1 rows plus ONLY the new rows (no reprocessing)
    # and 'a' continues from its persisted state 2 -> 3.
    spark.createDataFrame([("a",), ("c",)], schema).coalesce(1).write.mode(
        "append"
    ).json(src)
    assert run() == [("a", 1), ("a", 2), ("a", 3), ("b", 1), ("c", 1)]


FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def test_checkpoint_file_manager_refuses_overwrite(spark, tmp_path):
    """Exactly-once rests on the checkpoint manager never overwriting a
    committed log entry: a second writer of the same batch file must fail
    at close() and leave the first writer's bytes in place."""
    jvm = spark._jvm
    hconf = spark._jsparkSession.sessionState().newHadoopConf()
    cfm = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path)), hconf
    )
    assert cfm.getClass().getName() == FS_CHECKPOINT_MANAGER

    entry = tmp_path / "0"
    path = jvm.org.apache.hadoop.fs.Path(str(entry))
    first = cfm.createAtomic(path, False)
    first.write(bytearray(b"first"))
    first.close()
    second = cfm.createAtomic(path, False)
    second.write(bytearray(b"second"))
    with pytest.raises(Py4JJavaError, match="FileAlreadyExists|already exists"):
        second.close()
    assert entry.read_bytes() == b"first"


def _windowed_foreach_batch_run(spark, src, ckpt, out, fail_in_batch=None):
    """One availableNow run of a watermarked window count over ``src``
    into ``out/batch=N`` (one overwrite per batch id: the idempotent
    foreachBatch sink contract). With ``fail_in_batch=N`` the writer
    writes one row of batch N and then raises, which ends the run."""

    def write(batch_df, batch_id):
        target = os.path.join(out, f"batch={batch_id}")
        if batch_id == fail_in_batch:
            batch_df.limit(1).write.mode("overwrite").parquet(target)
            raise RuntimeError(f"injected sink failure in batch {batch_id}")
        batch_df.write.mode("overwrite").parquet(target)

    sdf = spark.readStream.schema("ts timestamp, k string").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    win = ss.windowed_count_stream(
        sdf, "ts", "k", "10 seconds", "10 seconds", "10 seconds"
    )
    q = (
        win.writeStream.foreachBatch(write)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    ss._await_bounded(q, 120)


def _windows_by_batch(spark, out):
    rows = spark.read.parquet(out).collect()
    return sorted((r.batch, r.ws, r.k, r.cnt) for r in rows)


def test_windowed_stream_recovers_from_sink_failure_exactly_once(spark, tmpdir):
    """A sink that fails inside a micro-batch, after a partial write, and
    a restart from the same checkpoint: the output equals a failure-free
    run, every window exactly once. The offset log pins the failed
    batch's input and the state store replays from the last committed
    version, so the re-delivered batch carries the same windows."""
    src = os.path.join(tmpdir, "ev")
    schema = "ts timestamp, k string"
    # batch 0 moves the watermark to 25 s, so batch 1 emits the four
    # [0,10) and [10,20) windows of keys x and y
    first = [(_ts(s), k) for s in [1, 4, 12] for k in "xy"] + [(_ts(35), "x")]
    _write_parquet(spark, first, schema, src)
    _write_parquet(spark, [(_ts(s), k) for s in [23, 27, 31] for k in "xyz"], schema, src)
    _write_parquet(spark, [(_ts(s), "x") for s in [45, 52, 68]], schema, src)

    clean_out = os.path.join(tmpdir, "clean_out")
    _windowed_foreach_batch_run(spark, src, os.path.join(tmpdir, "clean_ck"), clean_out)
    want = _windows_by_batch(spark, clean_out)
    batch1 = [r for r in want if r[0] == 1]
    assert len(batch1) == 4, want  # the injected failure lands mid-output

    ckpt, out = os.path.join(tmpdir, "ck"), os.path.join(tmpdir, "out")
    with pytest.raises(StreamingQueryException, match="injected sink failure in batch 1"):
        _windowed_foreach_batch_run(spark, src, ckpt, out, fail_in_batch=1)
    partial = spark.read.parquet(os.path.join(out, "batch=1")).count()
    assert partial == 1

    _windowed_foreach_batch_run(spark, src, ckpt, out)
    got = _windows_by_batch(spark, out)
    assert got == want
    windows = [(ws, k) for _, ws, k, _ in got]
    assert len(windows) == len(set(windows))


def test_stream_static_enrichment_join(spark, tmpdir):
    """Stream-static join: a streaming fact enriched against a STATIC
    dimension DataFrame needs no watermark and no state — Spark re-plans
    the static side per micro-batch (broadcast at this size). The
    pattern behind every streaming fact -> dimension lookup."""
    src = os.path.join(tmpdir, "facts")
    schema = "user_id long, amount long"
    _write_parquet(spark, [(1, 10), (2, 20), (1, 30)], schema, src)
    dim = spark.createDataFrame(
        [(1, "gold"), (2, "silver")], "user_id long, tier string"
    )
    sdf = spark.readStream.schema(schema).parquet(src)
    joined = sdf.join(dim, "user_id").select("user_id", "tier", "amount")
    name = f"sse_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    ss._await_bounded(q, 120)
    got = sorted((r.user_id, r.tier, r.amount) for r in spark.table(name).collect())
    assert got == [(1, "gold", 10), (1, "gold", 30), (2, "silver", 20)]


def test_windowed_update_mode_reemits(spark, tmpdir):
    """Update-mode windowed aggregation is the ssp-faithful emission for
    windows (emit the new state on EVERY change — window.go fires per
    input in the reference), vs append's single emit-on-close. A window
    receiving rows in two micro-batches must appear twice in the update
    stream, with the count growing."""
    src = os.path.join(tmpdir, "upd")
    schema = "ts timestamp, k string"
    _write_parquet(spark, [(_ts(s), "x") for s in [11, 15]], schema, src)
    _write_parquet(spark, [(_ts(17), "x")], schema, src)
    sdf = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    win = (
        sdf.groupBy(F.window("ts", "10 seconds").alias("w"), "k")
        .agg(F.count("*").alias("cnt"))
        .select(F.unix_timestamp("w.start").alias("ws"), "k", "cnt")
    )
    out = ss.replay_update_to_memory(win, f"upd_{uuid.uuid4().hex[:8]}")
    base = 1704067200
    got = sorted((r.ws - base, r.cnt) for r in out.collect())
    # [10,20): cnt=2 after batch 0, re-emitted as cnt=3 after batch 1
    assert got == [(10, 2), (10, 3)]


def test_watermark_evicts_state_under_volume(spark, tmpdir):
    """Scale soak for the streaming layer's one untested dimension: state
    EVICTION under volume. Replays the full sf0.1 events table (100k rows,
    ~30 days) through a watermarked hourly tumbling count in 6 chronological
    micro-batches and asserts, from the state-store metrics, that state is
    bounded by the OPEN windows (watermark eviction), not by the ~3.6k
    (window x key) groups the stream touches — the reference leaks that
    state forever (engine.go:239-244 never evicts; SURVEY §4.2 calls our
    eviction an upgrade, this proves it holds under volume)."""
    from ssp_spark.catalog import load_table

    ev = load_table(spark, "events", "/root/testdata/sf0.1").select(
        "ts", "event_type"
    )
    src = os.path.join(tmpdir, "soak")
    # 6 chronological chunks -> 6 micro-batches with advancing watermark
    chunks = ev.withColumn(
        "__c", F.ntile(6).over(__import__("pyspark").sql.Window.orderBy("ts"))
    )
    for i in range(1, 7):
        chunks.filter(F.col("__c") == i).drop("__c").coalesce(1).write.mode(
            "append"
        ).parquet(src)
        _mtime_seq[0] += 10
        for f in __import__("glob").glob(os.path.join(src, "*.parquet")):
            if os.path.getmtime(f) > _mtime_seq[0] - 10:
                os.utime(f, (_mtime_seq[0], _mtime_seq[0]))

    sdf = (
        spark.readStream.schema("ts timestamp, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    win = (
        sdf.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(F.unix_timestamp("w.start").alias("ws"), "event_type", "cnt")
    )
    name = f"soak_{uuid.uuid4().hex[:8]}"
    q = (
        win.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    ss._await_bounded(q, 300)
    emitted = spark.table(name).count()

    progresses = [p for p in q.recentProgress if p["stateOperators"]]
    assert len(progresses) >= 6  # one per chunk (file) at least
    final_state_rows = progresses[-1]["stateOperators"][0]["numRowsTotal"]
    removed_total = sum(
        p["stateOperators"][0].get("numRowsRemoved", 0) for p in progresses
    )
    distinct_groups = (
        spark.table(name).select("ws", "event_type").distinct().count()
    )
    # the stream closed thousands of (window x key) groups...
    assert emitted > 3000 and distinct_groups > 600
    # ...but live state stayed bounded by the handful of still-open windows
    assert final_state_rows <= 50, final_state_rows
    # ...because eviction actually ran (closed groups left the store)
    assert removed_total >= emitted * 0.9, (removed_total, emitted)


def test_fanout_sinks_single_read_multi_sink(spark, tmpdir):
    """O19 broadcast fan-out (engine.go:196-211): one micro-batch stream
    feeds two parquet sinks through foreachBatch, each batch computed once
    and delivered to both — both sinks must hold the complete stream."""
    src = os.path.join(tmpdir, "src")
    schema = "k string, v long"
    _write_parquet(spark, [("a", 1), ("b", 2)], schema, src)
    _write_parquet(spark, [("a", 3)], schema, src)
    sdf = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    out1, out2 = os.path.join(tmpdir, "s1"), os.path.join(tmpdir, "s2")

    ss.fanout_sinks(
        sdf,
        [
            lambda df, bid: df.write.mode("append").parquet(out1),
            lambda df, bid: df.withColumn("v2", F.col("v") * 2)
            .write.mode("append")
            .parquet(out2),
        ],
    )
    got1 = sorted((r.k, r.v) for r in spark.read.parquet(out1).collect())
    got2 = sorted((r.k, r.v2) for r in spark.read.parquet(out2).collect())
    assert got1 == [("a", 1), ("a", 3), ("b", 2)]
    assert got2 == [("a", 2), ("a", 6), ("b", 4)]


def test_stream_stream_left_outer_join_emits_null_padded(spark, tmpdir):
    """Stream-stream LEFT OUTER join under watermarks: unmatched left rows
    are emitted null-padded only once the watermark proves no right match
    can still arrive — the outer-join analogue of append-mode emit-on-close
    (Spark completes the reference's inner-only align surface,
    engine_test.go:558-590)."""
    lsrc, rsrc = os.path.join(tmpdir, "l"), os.path.join(tmpdir, "r")
    schema = "ts timestamp, k string"
    # batch 0: left a@10, b@12; right a@11. batch 1: watermark pusher @100
    _write_parquet(spark, [(_ts(10), "a"), (_ts(12), "b")], schema, lsrc)
    _write_parquet(spark, [(_ts(11), "a")], schema, rsrc)
    _write_parquet(spark, [(_ts(100), "zz")], schema, lsrc)
    _write_parquet(spark, [(_ts(100), "zz2")], schema, rsrc)

    left = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(lsrc)
        .withWatermark("ts", "5 seconds")
        .select(F.col("ts").alias("lts"), F.col("k"))
    )
    right = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(rsrc)
        .withWatermark("ts", "5 seconds")
        .select(F.col("ts").alias("rts"), F.col("k").alias("rk"))
    )
    joined = left.join(
        right,
        F.expr("k = rk AND rts BETWEEN lts - INTERVAL 2 SECONDS AND lts + INTERVAL 2 SECONDS"),
        "leftOuter",
    ).select("k", F.unix_timestamp("lts").alias("lep"), F.unix_timestamp("rts").alias("rep"))
    name = f"ssljoin_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    ss._await_bounded(q, 180)
    base = 1704067200
    got = sorted(
        (r.k, r.lep - base, None if r.rep is None else r.rep - base)
        for r in spark.table(name).collect()
        if r.k not in ("zz", "zz2")
    )
    # a matched within tolerance; b unmatched -> null-padded after watermark
    assert got == [("a", 10, 11), ("b", 12, None)]


def test_chained_stateful_dedup_then_windowed_count(spark, tmpdir):
    """Two stateful operators in ONE streaming query (dedup state feeding
    window state — Spark's multiple-stateful-operator support, the
    composition the reference cannot express at all): re-deliveries are
    suppressed by dropDuplicates BEFORE the tumbling count, and both
    operators' state evicts by the same watermark."""
    src = os.path.join(tmpdir, "chain")
    schema = "ts timestamp, id long, user string"
    _write_parquet(
        spark,
        [(_ts(0), 1, "u"), (_ts(1), 1, "u"), (_ts(5), 2, "u")],
        schema,
        src,
    )
    # id 1 re-delivered across batches: still a duplicate
    _write_parquet(spark, [(_ts(12), 3, "u"), (_ts(2), 1, "u")], schema, src)
    # watermark closer: advances past both earlier windows
    _write_parquet(spark, [(_ts(100), 9, "v")], schema, src)
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "10 seconds")
        .dropDuplicates(["id"])
        .groupBy(F.window("ts", "10 seconds"), "user")
        .agg(F.count("*").alias("n"))
    )
    name = f"chain_{uuid.uuid4().hex[:8]}"
    q = sdf.writeStream.format("memory").queryName(name).outputMode("append").trigger(
        availableNow=True
    ).start()
    ss._await_bounded(q, 120)
    got = sorted(
        (r["window"].start.second + 60 * r["window"].start.minute, r.user, r.n)
        for r in spark.table(name).collect()
    )
    # [0,10): ids 1,2 once each (both re-deliveries dropped); [10,20): id 3.
    # [100,110) is still open at the final watermark (90 s) -> not emitted.
    assert got == [(0, "u", 2), (10, "u", 1)]


def test_dedup_stream_within_watermark(spark, tmpdir):
    """Streaming exact dedup with horizon-bounded state
    (dropDuplicatesWithinWatermark): duplicates inside the watermark are
    suppressed across micro-batches; state for expired keys is evicted
    so a duplicate arriving after the horizon is re-emitted (the
    documented at-least-once-beyond-horizon contract)."""
    src = os.path.join(tmpdir, "dd")
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    schema = "event_id long, ts timestamp"

    # batch 1: ids 1,2 at t0; batch 2: dup id 1 at t0+1min (inside the
    # 10-min horizon) plus id 3 at t0+2min
    _write_parquet(spark, [(1, base), (2, base)], schema, src)
    _write_parquet(
        spark,
        [(1, base + dt.timedelta(minutes=1)), (3, base + dt.timedelta(minutes=2))],
        schema,
        src,
    )
    # batch 3: watermark advances far past the horizon (t0+60min). The
    # watermark lags one batch and state cleanup runs at batch END, so
    # batch 4 (another late-advancing row) is the one that actually
    # evicts key 1's expired state; batch 5 then re-sends id 1 — state
    # gone, so it re-emits.
    _write_parquet(spark, [(90, base + dt.timedelta(minutes=60))], schema, src)
    _write_parquet(spark, [(91, base + dt.timedelta(minutes=62))], schema, src)
    _write_parquet(spark, [(1, base + dt.timedelta(minutes=63))], schema, src)

    sdf = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    dd = ss.dedup_stream(sdf, ["event_id"], ts_col="ts", watermark="10 minutes")
    name = f"dd_{uuid.uuid4().hex[:8]}"
    q = (
        dd.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    ss._await_bounded(q, 120)
    got = sorted(r.event_id for r in spark.table(name).collect())
    # 1 (first), 2, 3, 90, 91, and 1 AGAIN after horizon eviction
    assert got == [1, 1, 2, 3, 90, 91]


def test_keyed_rate_limit_admits_first_n_per_key(spark, tmpdir):
    """Per-key quota: across an ordered two-batch replay, exactly the
    first max_per_key records per key (by (ts, id) within the stream
    order) survive; later arrivals for a saturated key drop; state is
    one counter per key. Ground truth = the batch row_number keeper
    over the same records."""
    src = os.path.join(tmpdir, "rl_src")
    rows1 = [("u1", 10, 1), ("u1", 11, 2), ("u2", 10, 3), ("u1", 12, 4)]
    rows2 = [("u1", 13, 5), ("u2", 14, 6), ("u2", 15, 7), ("u2", 16, 8), ("u3", 9, 9)]
    schema = "user string, ts long, event_id long"
    _write_parquet(spark, rows1, schema, src)
    _write_parquet(spark, rows2, schema, src)

    sdf = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    out = ss.keyed_rate_limit(sdf, "user", "ts", "event_id", max_per_key=2)
    name = f"rl_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", os.path.join(tmpdir, "rl_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    ss._await_bounded(q, 120)
    got = {r.event_id for r in spark.table(name).collect()}
    # batch ground truth over the full log: first 2 per user by (ts, id)
    from pyspark.sql import Window

    allrows = spark.createDataFrame(rows1 + rows2, schema)
    w = Window.partitionBy("user").orderBy("ts", "event_id")
    want = {
        r.event_id
        for r in allrows.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .collect()
    }
    assert got == want
    # saturated keys really dropped the tail
    assert {4, 7, 8} & got == set()


def test_keyed_rate_limit_chunked_batch_determinism(spark, tmpdir):
    """ADVICE r5 (streaming/__init__.py:328): a key's micro-batch rows
    span multiple Arrow chunks once they exceed arrow.maxRecordsPerBatch;
    admission must concatenate the chunks and take the quota over the
    WHOLE batch. Rows arrive ts-DESCENDING so the true (ts, id) winners
    sit in the LAST chunk — per-chunk admission would admit the wrong
    rows."""
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
    try:
        src = os.path.join(tmpdir, "rlc_src")
        # one micro-batch, one key, 20 rows, descending ts: winners are
        # ts 100,101 (event_ids 19,18) — in the final Arrow chunk
        rows = [("u1", 119 - i, i) for i in range(20)]
        schema = "user string, ts long, event_id long"
        _write_parquet(spark, rows, schema, src)
        sdf = spark.readStream.schema(schema).parquet(src)
        out = ss.keyed_rate_limit(sdf, "user", "ts", "event_id", max_per_key=2)
        name = f"rlc_{uuid.uuid4().hex[:8]}"
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", os.path.join(tmpdir, "rlc_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        ss._await_bounded(q, 120)
        got = {(r.ts, r.event_id) for r in spark.table(name).collect()}
        assert got == {(100, 19), (101, 18)}
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_upsert_sink_materializes_running_counts(spark, tmpdir):
    """Streaming materialized view: replay the word list in two
    micro-batches through an update-mode count into the upsert sink; the
    final parquet table must equal the one-shot batch aggregation (per
    key latest-wins across batches)."""
    src = os.path.join(tmpdir, "upsert_src")
    half = len(WORDS) // 2
    _write_parquet(spark, [(w,) for w in WORDS[:half]], "word string", src)
    _write_parquet(spark, [(w,) for w in WORDS[half:]], "word string", src)

    sdf = spark.readStream.schema("word string").option("maxFilesPerTrigger", 1).parquet(src)
    counts = sdf.groupBy("word").count()
    out = os.path.join(tmpdir, "wc_view")
    ss.upsert_parquet_sink(counts, out, ["word"])

    got = sorted((r["word"], r["count"]) for r in spark.read.parquet(out).collect())
    from collections import Counter

    want = sorted(Counter(WORDS).items())
    assert got == [(w, c) for w, c in want]
    # the table pointer is a symlink to a complete version dir: the swap
    # is one atomic os.replace, so a reader NEVER resolves a missing path
    assert os.path.islink(out)
    assert os.path.exists(os.path.join(os.path.realpath(out), "_SUCCESS"))


def _run_upsert(spark, tmpdir, out, rows, tag):
    """One availableNow upsert pass over a fresh single-file source."""
    src = os.path.join(tmpdir, f"upsert_src_{tag}")
    _write_parquet(spark, rows, "word string", src)
    sdf = spark.readStream.schema("word string").parquet(src)
    ss.upsert_parquet_sink(sdf.groupBy("word").count(), out, ["word"])


def _table(spark, out):
    return sorted((r["word"], r["count"]) for r in spark.read.parquet(out).collect())


def _bucket_inodes(out):
    live = os.path.realpath(out)
    return {
        d: sorted(
            (f, os.stat(os.path.join(live, d, f)).st_ino)
            for f in os.listdir(os.path.join(live, d))
            if os.path.isfile(os.path.join(live, d, f))
        )
        for d in os.listdir(live)
        if d.startswith("__bucket=")
    }


def test_upsert_sink_default_is_bucketed_with_pruned_merge(spark, tmpdir):
    """VERDICT r5 #6: O(touched buckets) is the DEFAULT now. A sink
    created with no bucket_by argument must (a) write the bucketed
    layout with the _bucket_by marker, (b) hard-link every untouched
    bucket on the next batch (inode identity — nothing rewritten), and
    (c) keep per-key merge semantics exact."""
    out = os.path.join(tmpdir, "dview")

    def run(rows, tag):
        src = os.path.join(tmpdir, f"dsrc_{tag}")
        _write_parquet(spark, rows, "word string", src)
        sdf = spark.readStream.schema("word string").parquet(src)
        ss.upsert_parquet_sink(
            sdf.groupBy("word").count(), out, ["word"], keep_versions=2
        )

    seed = [(w,) for w in ("alpha", "bravo", "carol", "delta", "echo", "fox", "golf", "hotel")]
    run(seed, "r1")
    marker = os.path.join(os.path.realpath(out), "_bucket_by")
    assert os.path.isfile(marker)
    assert int(open(marker).read()) == ss.DEFAULT_UPSERT_BUCKETS
    before = _bucket_inodes(out)
    assert len(before) >= 3

    run([("alpha",), ("alpha",)], "r2")
    after = _bucket_inodes(out)
    touched_dir = "__bucket=%d" % (
        spark.range(1)
        .select(
            F.pmod(
                F.xxhash64(F.lit("alpha")), F.lit(ss.DEFAULT_UPSERT_BUCKETS)
            ).cast("int")
        )
        .first()[0]
    )
    for d, files in before.items():
        if d == touched_dir:
            continue
        assert after[d] == files, d  # untouched: same files, same inodes
    if touched_dir in before:
        assert not (
            {i for _, i in before[touched_dir]} & {i for _, i in after[touched_dir]}
        )
    got = sorted(
        (r["word"], r["count"])
        for r in spark.read.parquet(out).drop("__bucket").collect()
    )
    assert got == sorted([(w, 1) for (w,) in seed if w != "alpha"] + [("alpha", 2)])


def test_upsert_sink_auto_migrates_legacy_unbucketed_table(spark, tmpdir):
    """A marker-less legacy table (created with bucket_by=None) opened by
    the new default must migrate: one full merge into the marked
    bucketed layout, exact values, and the batch AFTER migration prunes
    (hard-linked untouched buckets)."""
    out = os.path.join(tmpdir, "mview")

    def run(rows, tag, **kw):
        src = os.path.join(tmpdir, f"msrc_{tag}")
        _write_parquet(spark, rows, "word string", src)
        sdf = spark.readStream.schema("word string").parquet(src)
        ss.upsert_parquet_sink(sdf.groupBy("word").count(), out, ["word"], **kw)

    seed = [(w,) for w in ("alpha", "bravo", "carol", "delta", "echo", "fox")]
    run(seed, "r1", bucket_by=None)
    live = os.path.realpath(out)
    assert not any(d.startswith("__bucket=") for d in os.listdir(live))

    # default "auto" opens the legacy table: migrate + mark. The batch
    # is its own update-mode aggregate, so last-writer-wins sets
    # alpha -> 1 (the batch's count), same as every other key.
    run([("alpha",), ("alpha",)], "r2")
    marker = os.path.join(os.path.realpath(out), "_bucket_by")
    assert os.path.isfile(marker)
    mids = _bucket_inodes(out)
    assert len(mids) >= 3
    got = sorted(
        (r["word"], r["count"])
        for r in spark.read.parquet(out).drop("__bucket").collect()
    )
    assert got == sorted([(w, 1) for (w,) in seed if w != "alpha"] + [("alpha", 2)])

    # post-migration batch prunes: untouched buckets keep their inodes
    run([("bravo",)], "r3")
    after = _bucket_inodes(out)
    touched_dir = "__bucket=%d" % (
        spark.range(1)
        .select(
            F.pmod(
                F.xxhash64(F.lit("bravo")), F.lit(ss.DEFAULT_UPSERT_BUCKETS)
            ).cast("int")
        )
        .first()[0]
    )
    for d, files in mids.items():
        if d != touched_dir:
            assert after[d] == files, d


def test_upsert_sink_recovers_stranded_old_backup(spark, tmpdir):
    """The pre-round-4 crash window: a run that died between its two
    renames leaves the ONLY copy of the table in `path.__old` and no
    `path`. The next batch must restore the backup and merge into it —
    not rebuild from the batch alone and delete the backup."""
    import shutil

    out = os.path.join(tmpdir, "view")
    _run_upsert(spark, tmpdir, out, [("a",), ("a",), ("b",)], "r1")
    assert _table(spark, out) == [("a", 2), ("b", 1)]
    # simulate the legacy crash: table exists only as a real-dir backup
    backup = out + ".__old"
    shutil.copytree(os.path.realpath(out), backup)
    real = os.path.realpath(out)
    os.remove(out)
    shutil.rmtree(real)
    # leave a stale temp dir from the crashed run too; it must be swept
    os.makedirs(out + ".__tmp_7")
    _run_upsert(spark, tmpdir, out, [("b",), ("c",)], "r2")
    # 'a' survives ONLY if the backup was recovered; 'b' is overwritten
    assert _table(spark, out) == [("a", 2), ("b", 1), ("c", 1)]
    assert not os.path.exists(out + ".__old")
    assert not os.path.exists(out + ".__tmp_7")


def test_upsert_sink_recovers_lost_pointer_and_converges(spark, tmpdir):
    """Crash after writing a version but before (or while) repointing:
    the symlink is gone but a complete version dir survives. Recovery
    must repoint to the newest complete version; re-delivering the same
    input converges (idempotent per-key merge)."""
    out = os.path.join(tmpdir, "view")
    _run_upsert(spark, tmpdir, out, [("x",), ("y",)], "r1")
    os.remove(out)  # pointer lost, version dir intact
    _run_upsert(spark, tmpdir, out, [("x",), ("y",)], "r2")  # same batch again
    assert _table(spark, out) == [("x", 1), ("y", 1)]
    # exactly one live version remains; no strays accumulate
    parent, base = os.path.split(out)
    strays = [d for d in os.listdir(parent) if d.startswith(base + ".__")]
    assert strays == [os.path.basename(os.path.realpath(out))]


def test_upsert_sink_recovers_from_failed_pointer_flip(spark, tmpdir, monkeypatch):
    """The table-pointer flip of batch 1 fails once, after the new version
    directory is complete: the live table must still be batch 0's, and a
    restart from the checkpoint re-delivers batch 1 and converges to the
    failure-free table."""
    from collections import Counter

    src = os.path.join(tmpdir, "upsert_src")
    half = len(WORDS) // 2
    _write_parquet(spark, [(w,) for w in WORDS[:half]], "word string", src)
    _write_parquet(spark, [(w,) for w in WORDS[half:]], "word string", src)
    out, ckpt = os.path.join(tmpdir, "view"), os.path.join(tmpdir, "ck")

    real_replace = os.replace
    flips = []

    def flaky_replace(src_path, dst_path, *a, **kw):
        if os.path.abspath(dst_path) == os.path.abspath(out):
            flips.append(dst_path)
            if len(flips) == 2:
                raise OSError("injected failure flipping the table pointer")
        return real_replace(src_path, dst_path, *a, **kw)

    def run():
        sdf = (
            spark.readStream.schema("word string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        ss.upsert_parquet_sink(sdf.groupBy("word").count(), out, ["word"], checkpoint=ckpt)

    monkeypatch.setattr(os, "replace", flaky_replace)
    with pytest.raises(
        StreamingQueryException, match="injected failure flipping the table pointer"
    ):
        run()
    assert _table(spark, out) == sorted(Counter(WORDS[:half]).items())

    run()
    assert len(flips) == 3  # batch 1 was re-delivered once, nothing replayed twice
    assert _table(spark, out) == sorted(Counter(WORDS).items())
    parent, base = os.path.split(out)
    strays = [d for d in os.listdir(parent) if d.startswith(base + ".__")]
    assert strays == [os.path.basename(os.path.realpath(out))]


def test_bucketed_upsert_rewrites_only_touched_buckets(spark, tmpdir):
    """bucket_by=N partition-pruned upsert: a batch that touches one
    bucket must leave every other bucket's parquet files PHYSICALLY
    intact in the new version (same inodes — hard-linked, not
    rewritten), rewrite only the touched bucket, keep the merged table
    correct, and converge on re-delivery. This is the golden for the
    round-4 VERDICT's named upgrade (O(table)-per-batch -> O(touched
    buckets))."""
    out = os.path.join(tmpdir, "bview")
    n_buckets = 8

    def run(rows, tag):
        src = os.path.join(tmpdir, f"bsrc_{tag}")
        _write_parquet(spark, rows, "word string", src)
        sdf = spark.readStream.schema("word string").parquet(src)
        ss.upsert_parquet_sink(
            sdf.groupBy("word").count(), out, ["word"], bucket_by=n_buckets,
            keep_versions=2,
        )

    def bucket_inodes():
        live = os.path.realpath(out)
        return {
            d: sorted(
                (f, os.stat(os.path.join(live, d, f)).st_ino)
                for f in os.listdir(os.path.join(live, d))
                if os.path.isfile(os.path.join(live, d, f))
            )
            for d in os.listdir(live)
            if d.startswith("__bucket=")
        }

    # seed: many keys spread across several buckets
    seed = [(w,) for w in ("alpha", "bravo", "carol", "delta", "echo", "fox", "golf", "hotel")]
    run(seed, "r1")
    before = bucket_inodes()
    assert len(before) >= 3  # keys actually spread over buckets

    # one-key batch: exactly one bucket is touched
    run([("alpha",), ("alpha",)], "r2")
    after = bucket_inodes()
    from pyspark.sql import functions as F

    touched_dir = "__bucket=%d" % (
        spark.range(1)
        .select(F.pmod(F.xxhash64(F.lit("alpha")), F.lit(n_buckets)).cast("int"))
        .first()[0]
    )
    assert touched_dir in after
    for d, files in before.items():
        if d == touched_dir:
            continue
        # untouched bucket: identical file list AND identical inodes
        assert after[d] == files, d
    # the touched bucket was rewritten (no inode survives)
    if touched_dir in before:
        assert not (
            {i for _, i in before[touched_dir]} & {i for _, i in after[touched_dir]}
        )
    # table semantics: per-key latest-wins merge, __bucket projected away
    got = sorted(
        (r["word"], r["count"])
        for r in spark.read.parquet(out).drop("__bucket").collect()
    )
    want = sorted([(w, 1) for (w,) in seed if w != "alpha"] + [("alpha", 2)])
    assert got == want
    # time travel still works on the bucketed layout, and the RETAINED
    # previous version still reads completely (hard links keep shared
    # inodes alive across version deletion)
    vs = ss.table_versions(out)
    assert len(vs) == 2
    prev = sorted(
        (r["word"], r["count"])
        for r in ss.read_table_version(spark, out, vs[0]).drop("__bucket").collect()
    )
    assert prev == sorted((w, 1) for (w,) in seed)
    # convergence: re-delivering the same one-key batch changes nothing
    run([("alpha",), ("alpha",)], "r3")
    got2 = sorted(
        (r["word"], r["count"])
        for r in spark.read.parquet(out).drop("__bucket").collect()
    )
    assert got2 == want
    # the merge's table read is partition-PRUNED: a __bucket filter must
    # resolve as PartitionFilters on the scan (untouched buckets' files
    # are never opened), not a post-scan row filter
    from ssp_spark import plans

    pruned = spark.read.parquet(out).filter(F.col("__bucket").isin(1, 2))
    s = plans.plan_string(pruned)
    assert "PartitionFilters" in s and "__bucket" in s.split("PartitionFilters", 1)[1][:200]


def test_incremental_dedup_sink_flags_against_history(spark, tmpdir):
    """Streaming ingest dedup against all history: a doc whose text
    duplicates a PRIOR batch's doc is flagged; fresh docs are not; the
    first batch (empty index) flags nothing; and a re-run of the same
    source converges to the same flags (idempotent per-batch overwrite)."""
    src = os.path.join(tmpdir, "inc_src")
    text_a = "the fast data row value merges across the batch stream"
    text_b = "completely different tokens live in this second document body"
    text_c = "yet another unique piece of text with enough tokens here"
    _write_parquet(spark, [(1, text_a), (2, text_b)], "doc_id long, text string", src)
    _write_parquet(spark, [(3, text_a), (4, text_c)], "doc_id long, text string", src)

    def run(tag):
        index = os.path.join(tmpdir, f"inc_index_{tag}")
        flags = os.path.join(tmpdir, f"inc_flags_{tag}")
        sdf = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        ss.incremental_dedup_sink(sdf, index, flags)
        return {
            r["doc_id"]: r["is_dup"] for r in spark.read.parquet(flags).collect()
        }

    got = run("a")
    # doc 3 repeats doc 1's text from the earlier batch -> flagged;
    # everything else is first-of-its-content
    assert got == {1: 0, 2: 0, 3: 1, 4: 0}
    # the accumulated index is plain parquet the BATCH operator can read:
    # cross-checking with the batch cross-corpus join gives the same hit
    from ssp_spark.operators import dedup

    batch_docs = spark.createDataFrame([(3, text_a), (4, text_c)], "doc_id long, text string")
    hist_docs = spark.createDataFrame([(1, text_a), (2, text_b)], "doc_id long, text string")
    batch_pairs = {
        (r.id1, r.id2)
        for r in dedup.minhash_lsh_pairs_between(batch_docs, hist_docs).collect()
    }
    assert {p[0] for p in batch_pairs} == {3}
    # convergence: a fresh replay of the same bounded source agrees
    assert run("b") == got


def test_upsert_sink_time_travel_versions(spark, tmpdir):
    """keep_versions retains snapshot history: after a two-batch replay
    with keep_versions=2, the PREVIOUS version reads as the state after
    batch 1 alone, the live pointer as the final merged state, and
    version listing reflects exactly the retained history."""
    src = os.path.join(tmpdir, "tt_src")
    _write_parquet(spark, [("a",), ("b",), ("a",)], "word string", src)
    _write_parquet(spark, [("b",), ("c",)], "word string", src)

    sdf = spark.readStream.schema("word string").option("maxFilesPerTrigger", 1).parquet(src)
    counts = sdf.groupBy("word").count()
    out = os.path.join(tmpdir, "tt_view")
    ss.upsert_parquet_sink(counts, out, ["word"], keep_versions=2)

    vs = ss.table_versions(out)
    assert len(vs) == 2
    prev = {
        (r["word"], r["count"])
        for r in ss.read_table_version(spark, out, vs[0]).collect()
    }
    assert prev == {("a", 2), ("b", 1)}
    live = {
        (r["word"], r["count"])
        for r in ss.read_table_version(spark, out).collect()
    }
    assert live == {("a", 2), ("b", 2), ("c", 1)}
    with pytest.raises(ValueError):
        ss.read_table_version(spark, out, 999)


# ---------------------------------------------------------------------------
# Kafka-shaped file-backed log source (sources/log.py)
# ---------------------------------------------------------------------------


def test_log_source_replays_all_batches_in_order(spark, tmpdir):
    """The broker contract over files: contiguous per-partition offsets,
    one micro-batch per appended file, every record delivered once."""
    from ssp_spark.sources import log

    d = os.path.join(tmpdir, "log")
    log.log_append(d, [(0, "a", "v1"), (1, "b", "v2")])
    log.log_append(d, [(0, "c", "v3")])
    log.log_append(d, [(1, "d", "v4"), (0, "e", "v5")])

    sink = f"log_sink_{uuid.uuid4().hex[:8]}"
    q = (
        log.read_log_stream(spark, d)
        .writeStream.format("memory")
        .queryName(sink)
        .option("checkpointLocation", os.path.join(tmpdir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    ss._await_bounded(q, 120)
    rows = spark.sql(f"select * from {sink}").collect()
    assert len(rows) == 5
    per_part = {}
    for r in sorted(rows, key=lambda r: (r.partition, r.offset)):
        per_part.setdefault(r.partition, []).append((r.offset, r.key))
    # offsets contiguous from 0 within each partition
    assert per_part[0] == [(0, "a"), (1, "c"), (2, "e")]
    assert per_part[1] == [(0, "b"), (1, "d")]


def test_log_append_adopts_orphan_batch_after_meta_crash(spark, tmpdir):
    """ADVICE r4 (log.py:64): producer dies AFTER batch-<seq>.json is
    visible but BEFORE the meta advances. The next append must not
    overwrite the (possibly already consumed) filename: the orphan is
    adopted — its offsets roll into the meta, its seq is skipped — so
    every record survives under unique contiguous offsets."""
    import json as _json

    from ssp_spark.sources import log

    d = os.path.join(tmpdir, "orphanlog")
    log.log_append(d, [(0, "a", "v1"), (1, "b", "v2")])  # batch 0
    log.log_append(d, [(0, "c", "v3")])  # batch 1
    # simulate the crash: rewind the meta to the pre-batch-1 state, so
    # batch-000000001.json exists but meta believes seq=1/offsets={0:1,1:1}
    with open(os.path.join(d, "_meta.json"), "w") as f:
        _json.dump({"seq": 1, "offsets": {"0": 1, "1": 1}}, f)
    before = open(os.path.join(d, "batch-000000001.json")).read()
    seq = log.log_append(d, [(0, "x", "v4"), (1, "y", "v5")])
    # the orphan's filename was skipped, not reused, and its bytes intact
    assert seq == 2
    assert open(os.path.join(d, "batch-000000001.json")).read() == before
    rows = [tuple(r) for r in log.read_log_batch(spark, d).collect()]
    # offsets unique and contiguous per partition across ALL files
    per = {}
    for part, off, key, _v in sorted(rows, key=lambda r: (r[0], r[1])):
        per.setdefault(part, []).append((off, key))
    assert per[0] == [(0, "a"), (1, "c"), (2, "x")]
    assert per[1] == [(0, "b"), (1, "y")]


def test_log_orphan_adoption_restamps_mtime(tmpdir):
    """ADVICE r5 (log.py:67): a crash between os.replace(batch) and
    os.utime leaves the orphan with a wall-clock mtime far above the
    synthetic 1.7e9+seq*10 stamps; Spark's mtime-ordered file source
    would then replay it AFTER every later batch. Adoption must restamp
    the orphan so replay position == sequence position."""
    import json as _json
    import time as _time

    from ssp_spark.sources import log

    d = os.path.join(tmpdir, "utimelog")
    log.log_append(d, [(0, "a", "v1")])  # batch 0
    log.log_append(d, [(0, "b", "v2")])  # batch 1
    # crash simulation: meta rewound AND the orphan wearing wall-clock
    # mtime (the utime step never ran)
    orphan = os.path.join(d, "batch-000000001.json")
    now = _time.time()
    os.utime(orphan, (now, now))
    with open(os.path.join(d, "_meta.json"), "w") as f:
        _json.dump({"seq": 1, "offsets": {"0": 1}}, f)
    log.log_append(d, [(0, "c", "v3")])  # adopts batch 1, writes batch 2
    assert os.path.getmtime(orphan) == 1_700_000_000 + 1 * 10
    # full mtime order across the log equals sequence order
    files = sorted(
        f for f in os.listdir(d) if f.startswith("batch-") and f.endswith(".json")
    )
    mtimes = [os.path.getmtime(os.path.join(d, f)) for f in files]
    assert mtimes == sorted(mtimes) == [1_700_000_000 + s * 10 for s in range(3)]


def test_log_source_checkpoint_resume_exactly_once(spark, tmpdir):
    """Restarting the consumer with the same checkpoint must deliver
    ONLY records appended since the last committed batch — the Kafka
    group-offset resume, carried by the stream checkpoint."""
    from ssp_spark.sources import log

    d = os.path.join(tmpdir, "log")
    ckpt = os.path.join(tmpdir, "ckpt")
    out = os.path.join(tmpdir, "out")
    log.log_append(d, [(0, "a", "1")])
    log.log_append(d, [(0, "b", "2")])

    def drain():
        q = (
            log.read_log_stream(spark, d)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        ss._await_bounded(q, 120)

    drain()
    first = {(r.partition, r.offset) for r in spark.read.parquet(out).collect()}
    assert first == {(0, 0), (0, 1)}

    log.log_append(d, [(0, "c", "3"), (1, "x", "9")])
    drain()
    rows = spark.read.parquet(out).collect()
    got = sorted((r.partition, r.offset, r.key) for r in rows)
    # no duplicates from the first run, both new records present
    assert got == [(0, 0, "a"), (0, 1, "b"), (0, 2, "c"), (1, 0, "x")]


def test_log_batch_view_matches_stream_content(spark, tmpdir):
    from ssp_spark.sources import log

    d = os.path.join(tmpdir, "log")
    log.log_append(d, [(0, "a", "1"), (2, "z", "7")])
    log.log_append(d, [(2, "y", "8")])
    rows = sorted(
        (r.partition, r.offset, r.key, r.value)
        for r in log.read_log_batch(spark, d).collect()
    )
    assert rows == [(0, 0, "a", "1"), (2, 0, "z", "7"), (2, 1, "y", "8")]


def test_log_to_windowed_upsert_pipeline_end_to_end(spark, tmpdir):
    """Full streaming pipeline over the Kafka-shaped log: offset log ->
    event-time parse -> watermarked tumbling count (update mode) ->
    upsert MV sink with a checkpoint. Then APPEND more batches and
    re-run: the resumed query processes ONLY the new batches (checkpoint
    resume) yet the MV still converges to the batch recomputation over
    the whole log — the per-key merge absorbs the incremental updates."""
    from ssp_spark.sources import log as slog

    d = os.path.join(tmpdir, "log")
    ckpt = os.path.join(tmpdir, "ckpt")
    mv = os.path.join(tmpdir, "mv")

    def rec(part, key, minute):
        return (part, key, f"2024-01-01 00:{minute:02d}:00")

    def run_once():
        src = slog.read_log_stream(spark, d).select(
            F.col("key"), F.to_timestamp(F.col("value")).alias("ts")
        )
        agg = (
            src.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "10 minutes").alias("w"), "key")
            .agg(F.count("*").alias("cnt"))
            .select(F.unix_timestamp("w.start").alias("ws"), "key", "cnt")
        )
        ss.upsert_parquet_sink(agg, mv, ["ws", "key"], checkpoint=ckpt)

    slog.log_append(d, [rec(0, "a", 1), rec(0, "b", 2), rec(1, "a", 3)])
    slog.log_append(d, [rec(0, "a", 11), rec(1, "b", 12)])
    run_once()
    first = {(r.ws, r.key): r.cnt for r in spark.read.parquet(mv).collect()}
    w0 = 1704067200  # 2024-01-01 00:00:00 UTC
    assert first == {(w0, "a"): 2, (w0, "b"): 1, (w0 + 600, "a"): 1, (w0 + 600, "b"): 1}

    # append-and-resume: one more event in an existing window (count must
    # ADVANCE via the merge) and one opening a new window
    slog.log_append(d, [rec(0, "a", 13), rec(1, "c", 21)])
    run_once()
    final = {(r.ws, r.key): r.cnt for r in spark.read.parquet(mv).collect()}
    assert final == {
        (w0, "a"): 2,
        (w0, "b"): 1,
        (w0 + 600, "a"): 2,
        (w0 + 600, "b"): 1,
        (w0 + 1200, "c"): 1,
    }


def test_log_to_bucketed_upsert_pipeline_end_to_end(spark, tmpdir):
    """The same log -> watermarked window agg -> MV pipeline through the
    PARTITION-PRUNED bucketed sink: checkpoint resume + per-key merge
    must converge identically, with the MV laid out as __bucket=K
    partitions. Composition golden for bucket_by under a real
    streaming pipeline (not just the isolated sink test)."""
    from ssp_spark.sources import log as slog

    d = os.path.join(tmpdir, "blog")
    ckpt = os.path.join(tmpdir, "bckpt")
    mv = os.path.join(tmpdir, "bmv")

    def rec(part, key, minute):
        return (part, key, f"2024-01-01 00:{minute:02d}:00")

    def run_once():
        src = slog.read_log_stream(spark, d).select(
            F.col("key"), F.to_timestamp(F.col("value")).alias("ts")
        )
        agg = (
            src.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "10 minutes").alias("w"), "key")
            .agg(F.count("*").alias("cnt"))
            .select(F.unix_timestamp("w.start").alias("ws"), "key", "cnt")
        )
        ss.upsert_parquet_sink(agg, mv, ["ws", "key"], checkpoint=ckpt, bucket_by=4)

    slog.log_append(d, [rec(0, "a", 1), rec(0, "b", 2), rec(1, "a", 3)])
    slog.log_append(d, [rec(0, "a", 11), rec(1, "b", 12)])
    run_once()
    slog.log_append(d, [rec(0, "a", 13), rec(1, "c", 21)])
    run_once()
    final = {
        (r.ws, r.key): r.cnt
        for r in spark.read.parquet(mv).drop("__bucket").collect()
    }
    w0 = 1704067200
    assert final == {
        (w0, "a"): 2,
        (w0, "b"): 1,
        (w0 + 600, "a"): 2,
        (w0 + 600, "b"): 1,
        (w0 + 1200, "c"): 1,
    }
    live = os.path.realpath(mv)
    assert any(x.startswith("__bucket=") for x in os.listdir(live))


def test_stream_stream_left_outer_join_emits_unmatched(spark, tmpdir):
    """LEFT OUTER stream-stream join (SURVEY §2.3 joins, round 7):
    unmatched left rows must eventually emit with NULL right side — but
    only AFTER the watermark passes their join window (Spark holds them
    as state until then). The golden drives three micro-batches with
    maxFilesPerTrigger=1 so the third batch's far-future timestamp
    advances the watermark past the first batch's window and flushes
    its unmatched row; the far-future row itself stays in state at
    stream end (availableNow does not force a final flush) — asserting
    that too, so the semantics are pinned, not idealized."""
    imp_p = os.path.join(tmpdir, "lo_imp")
    clk_p = os.path.join(tmpdir, "lo_clk")
    schema = "ts timestamp, ad long"
    # batch 1: ads 1 (will match) and 2 (never clicks)
    _write_parquet(spark, [(_ts(0), 1), (_ts(2), 2)], schema, imp_p)
    # batch 2 advances nothing much; batch 3 jumps 10 minutes ahead
    _write_parquet(spark, [(_ts(30), 4)], schema, imp_p)
    _write_parquet(spark, [(_ts(600), 5)], schema, imp_p)
    _write_parquet(spark, [(_ts(5), 1), (_ts(601), 9)], schema, clk_p)
    imp = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(imp_p)
        .withWatermark("ts", "5 seconds")
        .select(F.col("ts").alias("imp_ts"), F.col("ad").alias("imp_ad"))
    )
    clk = (
        spark.readStream.schema(schema)
        .parquet(clk_p)
        .withWatermark("ts", "5 seconds")
        .select(F.col("ts").alias("clk_ts"), F.col("ad").alias("clk_ad"))
    )
    joined = imp.join(
        clk,
        F.expr(
            "imp_ad = clk_ad AND clk_ts >= imp_ts "
            "AND clk_ts <= imp_ts + interval 30 seconds"
        ),
        "left_outer",
    ).select(
        "imp_ad",
        F.unix_timestamp("imp_ts").alias("i"),
        F.unix_timestamp("clk_ts").alias("c"),
    )
    name = f"lo_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    ss._await_bounded(q, 120)
    base = 1704067200
    got = sorted(
        (r.imp_ad, r.i - base, None if r.c is None else r.c - base)
        for r in spark.table(name).collect()
    )
    # ad 1 matches (click 5s after). ads 2 and 4: no click ever -> NULL
    # rows, emitted once the 600s batch pushed the watermark past their
    # 30s windows. ad 5 (t=600) is unmatched too but its window is
    # still open at stream end -> held in state, NOT emitted.
    assert got == [(1, 0, 5), (2, 2, None), (4, 30, None)]


def test_stream_stream_full_outer_join_emits_both_sides(spark, tmpdir):
    """FULL OUTER stream-stream join (SURVEY §2.3 joins, round 7): the
    two-sided twin of the left-outer golden above — unmatched LEFT rows
    emit with a NULL right side AND unmatched RIGHT rows emit with a
    NULL left side, each only after the watermark passes its join
    window. A right row (click ad 7) with no impression ever must
    surface as (None, 3); the far-future rows on BOTH sides stay held
    in state at stream end (availableNow does not force a final
    flush)."""
    imp_p = os.path.join(tmpdir, "fo_imp")
    clk_p = os.path.join(tmpdir, "fo_clk")
    schema = "ts timestamp, ad long"
    _write_parquet(spark, [(_ts(0), 1), (_ts(2), 2)], schema, imp_p)
    _write_parquet(spark, [(_ts(30), 4)], schema, imp_p)
    _write_parquet(spark, [(_ts(600), 5)], schema, imp_p)
    # click ad 7 at t=3 has NO impression ever -> unmatched right;
    # click ad 9 at t=601 is far-future -> held in state at stream end
    _write_parquet(
        spark, [(_ts(3), 7), (_ts(5), 1), (_ts(601), 9)], schema, clk_p
    )
    imp = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(imp_p)
        .withWatermark("ts", "5 seconds")
        .select(F.col("ts").alias("imp_ts"), F.col("ad").alias("imp_ad"))
    )
    clk = (
        spark.readStream.schema(schema)
        .parquet(clk_p)
        .withWatermark("ts", "5 seconds")
        .select(F.col("ts").alias("clk_ts"), F.col("ad").alias("clk_ad"))
    )
    joined = imp.join(
        clk,
        F.expr(
            "imp_ad = clk_ad AND clk_ts >= imp_ts "
            "AND clk_ts <= imp_ts + interval 30 seconds"
        ),
        "full_outer",
    ).select(
        F.coalesce("imp_ad", "clk_ad").alias("ad"),
        F.unix_timestamp("imp_ts").alias("i"),
        F.unix_timestamp("clk_ts").alias("c"),
    )
    name = f"fo_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    ss._await_bounded(q, 120)
    base = 1704067200
    got = sorted(
        (
            r.ad,
            None if r.i is None else r.i - base,
            None if r.c is None else r.c - base,
        )
        for r in spark.table(name).collect()
    )
    # ad 1 matches; ads 2/4 unmatched-left (NULL click); click ad 7
    # unmatched-right (NULL impression); imp ad 5 (t=600) and click
    # ad 9 (t=601) both held in open state at stream end.
    assert got == [(1, 0, 5), (2, 2, None), (4, 30, None), (7, None, 3)]


def test_stream_stream_left_semi_join_emits_once(spark, tmpdir):
    """LEFT SEMI stream-stream join (SURVEY §2.3 joins, round 7): an
    impression emits (once, left columns only) as soon as ANY click
    matches inside its window — multiple clicks must NOT duplicate it —
    and an impression with no click never emits. Matched rows emit
    eagerly; the never-matched row is simply dropped when its state
    expires (semi join has no NULL-padded flush)."""
    imp_p = os.path.join(tmpdir, "se_imp")
    clk_p = os.path.join(tmpdir, "se_clk")
    schema = "ts timestamp, ad long"
    _write_parquet(spark, [(_ts(0), 1), (_ts(2), 2)], schema, imp_p)
    _write_parquet(spark, [(_ts(600), 5)], schema, imp_p)
    # ad 1 clicks TWICE inside the window (must emit once); ad 2 never
    _write_parquet(
        spark, [(_ts(5), 1), (_ts(9), 1), (_ts(601), 9)], schema, clk_p
    )
    imp = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(imp_p)
        .withWatermark("ts", "5 seconds")
        .select(F.col("ts").alias("imp_ts"), F.col("ad").alias("imp_ad"))
    )
    clk = (
        spark.readStream.schema(schema)
        .parquet(clk_p)
        .withWatermark("ts", "5 seconds")
        .select(F.col("ts").alias("clk_ts"), F.col("ad").alias("clk_ad"))
    )
    joined = imp.join(
        clk,
        F.expr(
            "imp_ad = clk_ad AND clk_ts >= imp_ts "
            "AND clk_ts <= imp_ts + interval 30 seconds"
        ),
        "left_semi",
    ).select("imp_ad", F.unix_timestamp("imp_ts").alias("i"))
    name = f"se_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    ss._await_bounded(q, 120)
    base = 1704067200
    got = sorted((r.imp_ad, r.i - base) for r in spark.table(name).collect())
    assert got == [(1, 0)]


def test_complete_mode_reemits_full_updated_table(spark, tmpdir):
    """COMPLETE output mode (SURVEY §2.3 streaming-only): every trigger
    re-emits the WHOLE updated aggregate and the memory sink REPLACES
    its table — keys counted across micro-batches must show their total
    (not per-batch deltas), with no stale duplicate rows left behind."""
    src = os.path.join(tmpdir, "cm_src")
    schema = "word string"
    _write_parquet(spark, [("a",), ("b",)], schema, src)
    _write_parquet(spark, [("a",), ("c",)], schema, src)
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    counts = sdf.groupBy("word").agg(F.count("*").alias("cnt"))
    name = f"cm_{uuid.uuid4().hex[:8]}"
    q = (
        counts.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    ss._await_bounded(q, 120)
    got = sorted((r.word, r.cnt) for r in spark.table(name).collect())
    # 'a' seen in BOTH batches -> 2 in the final full emission; exactly
    # one row per key (the sink replaced, never appended)
    assert got == [("a", 2), ("b", 1), ("c", 1)]


def test_stream_stream_anti_join_boundary_and_workaround(spark, tmpdir):
    """LEFT ANTI stream-stream joins are NOT supported by Spark (pinned
    here so an upgrade that adds them is noticed); the supported
    equivalent is LEFT OUTER + IS NULL on the right side — the
    NULL-padded rows the left-outer golden asserts ARE the anti rows,
    with identical expiry timing (emit only once the watermark closes
    the window). This test pins both the boundary and the workaround."""
    import pytest as _pytest
    from pyspark.errors.exceptions.captured import AnalysisException

    imp_p = os.path.join(tmpdir, "an_imp")
    clk_p = os.path.join(tmpdir, "an_clk")
    schema = "ts timestamp, ad long"
    _write_parquet(spark, [(_ts(0), 1), (_ts(2), 2)], schema, imp_p)
    _write_parquet(spark, [(_ts(600), 5)], schema, imp_p)
    _write_parquet(spark, [(_ts(5), 1), (_ts(601), 9)], schema, clk_p)

    def sides():
        imp = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(imp_p)
            .withWatermark("ts", "5 seconds")
            .select(F.col("ts").alias("imp_ts"), F.col("ad").alias("imp_ad"))
        )
        clk = (
            spark.readStream.schema(schema)
            .parquet(clk_p)
            .withWatermark("ts", "5 seconds")
            .select(F.col("ts").alias("clk_ts"), F.col("ad").alias("clk_ad"))
        )
        cond = F.expr(
            "imp_ad = clk_ad AND clk_ts >= imp_ts "
            "AND clk_ts <= imp_ts + interval 30 seconds"
        )
        return imp, clk, cond

    # the boundary: native anti raises at analysis time
    imp, clk, cond = sides()
    with _pytest.raises(AnalysisException):
        imp.join(clk, cond, "left_anti").writeStream.format("memory").queryName(
            f"anx_{uuid.uuid4().hex[:8]}"
        ).outputMode("append").trigger(availableNow=True).start()

    # the workaround: left outer + right-IS-NULL == anti semantics
    imp, clk, cond = sides()
    anti = (
        imp.join(clk, cond, "left_outer")
        .filter(F.col("clk_ts").isNull())
        .select("imp_ad", F.unix_timestamp("imp_ts").alias("i"))
    )
    name = f"an_{uuid.uuid4().hex[:8]}"
    q = (
        anti.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    ss._await_bounded(q, 120)
    base = 1704067200
    got = sorted((r.imp_ad, r.i - base) for r in spark.table(name).collect())
    # ad 1 clicked -> never emits; ad 2 unclicked -> emits once the
    # 600s batch expires its window; ad 5 (t=600) unclicked but its
    # window is open at stream end -> held, not emitted.
    assert got == [(2, 2)]


def test_replay_timeout_raises_and_stops_the_query(spark, tmpdir):
    """A bounded replay that outlives its timeout fails loudly, with the
    last progress attached, and leaves no query running, instead of
    returning a partial memory table as if it were complete."""
    src = os.path.join(tmpdir, "words")
    _write_parquet(spark, [(i, w) for i, w in enumerate(WORDS)], "pos long, word string", src)
    sdf = spark.readStream.schema("pos long, word string").parquet(src)
    name = f"to_{uuid.uuid4().hex[:8]}"
    with pytest.raises(TimeoutError, match=name) as exc:
        ss.replay_to_memory(sdf, name, timeout_s=0.001)
    assert hasattr(exc.value, "last_progress")
    assert not [q for q in spark.streams.active if q.name == name]

"""Structured Streaming layer: the reference's streaming semantics mapped
onto micro-batch execution.

Reference model (SURVEY.md §0): unbounded keyed streams, per-record
event-time + watermark, per-key state that emits on every input, windows
that fire when the watermark passes window end, Close-based termination
(/root/reference/engine.go:252-278, window.go:162-177, collect.go:11-18).

Spark mapping decisions (SURVEY.md §4.3):
- global per-micro-batch watermark (ssp's per-record transport is the bug
  its own README documents — /root/reference/README.md:27-77);
- append mode for window firing (= emit-on-close);
- update-on-every-record state via applyInPandasWithState;
- Close protocol -> trigger(availableNow=True) for bounded replays.
"""

from __future__ import annotations

import time
from collections.abc import Callable

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def _await_bounded(q, timeout_s: float):
    """Wait for a bounded (availableNow) query to finish and return it.
    On timeout the query is stopped and TimeoutError is raised with
    ``q.lastProgress`` attached as ``last_progress``, so a partial sink
    is never read as a complete result; a query that failed re-raises
    its error from awaitTermination."""
    if q.awaitTermination(timeout_s):
        return q
    progress = q.lastProgress
    q.stop()
    err = TimeoutError(
        f"streaming query {q.name or q.id} did not finish within {timeout_s} s; "
        f"last progress: {progress}"
    )
    err.last_progress = progress
    raise err


def replay_to_memory(sdf: DataFrame, name: str, timeout_s: float = 120.0) -> DataFrame:
    """Run a bounded streaming plan to completion into a memory sink and
    return the result table (ssp Close-protocol analogue)."""
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_bounded(q, timeout_s)
    return sdf.sparkSession.table(name)


def replay_update_to_memory(sdf: DataFrame, name: str, timeout_s: float = 120.0) -> DataFrame:
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    _await_bounded(q, timeout_s)
    return sdf.sparkSession.table(name)


def running_count_stream(sdf: DataFrame, key_col: str, out_col: str = "cnt") -> DataFrame:
    """ssp's flagship word count: emit `key: k` on EVERY arrival
    (update-on-every-record, /root/reference/engine_test.go:98-110,
    bench/wordcount_test.go:14-49).

    applyInPandasWithState keyed on ``key_col``; state = running count;
    one output row per input row. Arrow-batched: each micro-batch's rows
    for a key arrive as pandas DataFrames, counts are assigned
    vectorized (cumcount), not per-row Python.
    """
    out_schema = T.StructType(
        [T.StructField(key_col, T.StringType()), T.StructField(out_col, T.LongType())]
    )
    state_schema = T.StructType([T.StructField("n", T.LongType())])

    def fn(key, pdf_iter, state: GroupState):
        import pandas as pd

        (n,) = state.get if state.exists else (0,)
        for pdf in pdf_iter:
            m = len(pdf)
            counts = list(range(n + 1, n + m + 1))
            n += m
            yield pd.DataFrame({key_col: [key[0]] * m, out_col: counts})
        state.update((n,))

    return sdf.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def windowed_count_stream(
    sdf: DataFrame,
    ts_col: str,
    key_col: str,
    size: str,
    slide: str,
    delay: str,
) -> DataFrame:
    """Event-time sliding-window count with fixed-delay watermark, append
    mode = ssp's fire-on-watermark-close (window.go:162-177) without its
    nondeterministic late re-openings (README.md:79-81)."""
    return (
        sdf.withWatermark(ts_col, delay)
        .groupBy(F.window(F.col(ts_col), size, slide).alias("w"), F.col(key_col))
        .agg(F.count("*").alias("cnt"))
        .select(
            F.unix_timestamp("w.start").alias("ws"),
            F.unix_timestamp("w.end").alias("we"),
            key_col,
            "cnt",
        )
    )


def with_late_side_output(
    sdf: DataFrame,
    ts_col: str,
    delay: str,
    on_batch: Callable[[DataFrame, DataFrame, int], None],
):
    """Late-data policy 'side_output' (SURVEY.md §4.3.2): per micro-batch,
    split rows into on-time vs late against the running max-event-time
    watermark and hand both to ``on_batch(on_time, late, batch_id)``.

    Reproduces ssp's 'late records still visible' capability
    (window.go:84-85 ad-hoc windows) deterministically: late rows go to a
    side sink instead of re-opening closed windows.
    """
    from pyspark.sql.functions import col, lit, max as smax

    delay_expr = f"INTERVAL {delay}"
    state = {"max_ts": None}

    def handle(batch_df: DataFrame, batch_id: int):
        # One extra scalar aggregation job per micro-batch to advance the
        # watermark — the same cost class as Spark's own event-time
        # tracking (a per-batch max), constant in batch size.
        mx = batch_df.agg(smax(col(ts_col))).collect()[0][0]
        wm = state["max_ts"]
        if wm is None:
            on_time, late = batch_df, batch_df.filter(lit(False))
        else:
            thresh = F.lit(wm) - F.expr(delay_expr)
            on_time = batch_df.filter(col(ts_col) >= thresh)
            late = batch_df.filter(col(ts_col) < thresh)
        on_batch(on_time, late, batch_id)
        if mx is not None and (wm is None or mx > wm):
            state["max_ts"] = mx

    return sdf.writeStream.foreachBatch(handle).trigger(availableNow=True).start()


def wait_all_streams(spark: SparkSession, timeout_s: float = 120.0) -> None:
    deadline = time.time() + timeout_s
    for q in spark.streams.active:
        _await_bounded(q, max(0.1, deadline - time.time()))


def fanout_sinks(
    sdf: DataFrame,
    writers: list[Callable[[DataFrame, int], None]],
    timeout_s: float = 120.0,
):
    """One stream -> N sinks (ssp's broadcastCollector fan-out,
    engine.go:196-211 / topology_test.go:26-33), as ONE streaming query.

    foreachBatch persists each micro-batch once and hands the SAME
    materialized batch to every writer — the stream is read and computed
    once, not once per sink (the naive N-queries form recomputes the
    whole lineage N times and can diverge between sinks on non-replayable
    sources). Exactly-once still holds per sink if each writer is
    idempotent on (batch_id, data) — the standard foreachBatch contract.
    """

    def handle(batch_df: DataFrame, batch_id: int):
        batch_df.persist()
        try:
            for w in writers:
                w(batch_df, batch_id)
        finally:
            batch_df.unpersist()

    q = sdf.writeStream.foreachBatch(handle).trigger(availableNow=True).start()
    return _await_bounded(q, timeout_s)


def dedup_stream(
    sdf: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: keep the first arrival per key, with state
    BOUNDED by the watermark (dropDuplicatesWithinWatermark — keys older
    than the horizon are evicted, so state is O(keys per horizon), not
    O(all keys ever)).

    The batch twin is dedup.dedup_exact / dedup_events_keeper; this is
    the stream form a 100 TB/day ingest pipeline runs: duplicates almost
    always arrive close together (retries, at-least-once sources), so a
    horizon-bounded state store catches them without the unbounded-state
    cliff of plain dropDuplicates on a stream. Contract: a duplicate
    arriving AFTER the watermark horizon passes is emitted again —
    exactness within the horizon, at-least-once beyond it; a downstream
    batch dedup_exact sweep restores global exactness.
    """
    return sdf.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(key_cols)


def keyed_rate_limit(
    sdf: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    max_per_key: int,
) -> DataFrame:
    """Streaming per-key quota: admit at most ``max_per_key`` records
    per key over the stream's lifetime, in deterministic (ts, id) order
    within each micro-batch — the ingestion throttle a curation pipeline
    puts in front of a hot producer (bot storms, runaway crawlers,
    repeated-submission spam), and the streaming twin of the batch
    ``row_number() <= N`` keeper.

    applyInPandasWithState keyed on ``key_col``; state = ONE long
    (admitted count) per key, so state size is O(distinct keys), never
    O(events) — the same bounded-state contract as running_count_stream.
    A key's micro-batch rows can arrive as SEVERAL Arrow chunks (the
    iterator yields one frame per ``arrow.maxRecordsPerBatch`` slice,
    default 10k), so the chunks are concatenated FIRST, then sorted
    once by (ts, id) and the first ``max_per_key - admitted`` admitted —
    per-chunk admission would make the quota depend on chunk boundaries
    (ADVICE r5). Memory note: the concat holds one key's one-batch rows,
    which an ingestion throttle already assumes is batch-bounded; the
    admitted output is quota-bounded. Determinism
    contract: with an ordered replay (one file per micro-batch, e.g.
    the offset-log source) the admitted set equals the batch
    ``row_number() OVER (PARTITION BY key ORDER BY ts, id) <= N``
    computed over the whole log — pinned by the golden; across-batch
    reordering (a true broker race) admits a different-but-valid quota.
    """
    out_fields = [f for f in sdf.schema.fields if f.name in (key_col, ts_col, id_col)]
    out_schema = T.StructType(
        [next(f for f in out_fields if f.name == key_col)]
        + [next(f for f in out_fields if f.name == ts_col)]
        + [next(f for f in out_fields if f.name == id_col)]
    )
    state_schema = T.StructType([T.StructField("n", T.LongType())])

    def fn(key, pdf_iter, state: GroupState):
        import pandas as pd

        (n,) = state.get if state.exists else (0,)
        # drain ALL Arrow chunks before sorting: one key's batch can
        # span multiple frames and the admitted set must be a function
        # of the batch, not of chunk boundaries (ADVICE r5)
        chunks = [pdf[[key_col, ts_col, id_col]] for pdf in pdf_iter]
        if n < max_per_key and chunks:
            batch = (
                pd.concat(chunks, ignore_index=True)
                if len(chunks) > 1
                else chunks[0]
            ).sort_values([ts_col, id_col])
            take = batch.head(max_per_key - n)
            n += len(take)
            if len(take):
                yield take
        state.update((n,))

    return sdf.select(key_col, ts_col, id_col).groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


DEFAULT_UPSERT_BUCKETS = 32


def upsert_parquet_sink(
    sdf: DataFrame,
    path: str,
    key_cols: list[str],
    timeout_s: float = 120.0,
    keep_versions: int = 1,
    checkpoint: str | None = None,
    bucket_by: int | None | str = "auto",
):
    """Streaming materialized view: maintain a parquet table keyed by
    ``key_cols`` from an update-mode aggregate (the reference's collect
    sink kept its running map in process memory, collect.go:20-35; this
    is the durable equivalent).

    Durability layout (round 4 — replaces the rename-pair whose crash
    window could strand the only copy in a ``.__old`` backup): table data
    lives in versioned directories ``path.__vN``; ``path`` itself is a
    SYMLINK to the current version. Each micro-batch merges
    last-writer-wins per key into a NEW version dir, then repoints the
    symlink with one atomic os.replace — a reader resolving ``path``
    sees the previous complete table or the new complete table, never a
    missing or partial one. Superseded versions are deleted only AFTER
    the pointer flip, so at every instant at least one complete copy
    exists on disk. merge() opens by re-adopting whatever a crash left
    behind: a lost pointer is recreated from the newest _SUCCESS-complete
    version, a legacy real-directory table (or stranded ``.__old``
    backup) is adopted as the next version, and stale temp/incomplete
    dirs are swept. A re-delivered batch converges because the per-key
    merge is idempotent — the foreachBatch exactly-once contract.

    Scale note — and the round-5 ``bucket_by`` upgrade, DEFAULT since
    round 6: full-table rewrite per batch was the LOCAL-FS
    simplification the round-4 VERDICT flagged; O(touched buckets) is
    now the default, not opt-in. ``bucket_by`` modes:

    - ``"auto"`` (default): a NEW table is bucketed with
      ``DEFAULT_UPSERT_BUCKETS``; an EXISTING table adopts the bucket
      count persisted in its ``_bucket_by`` marker file (written inside
      every bucketed version next to ``_SUCCESS``). A marker-less
      legacy table — unbucketed, or bucketed by an earlier round that
      had no marker, where N cannot be trusted — is MIGRATED by one
      full merge into the marked layout; every batch after that prunes.
    - ``N`` (int): explicit bucket count. If the live table carries a
      ``__bucket`` layout but no marker (pre-round-6 tables), the
      caller's N is trusted exactly as before; the marker is written on
      the next version so "auto" works from then on.
    - ``None``: the unbucketed O(table)-per-batch legacy layout
      (kept for adoption/compat only; a bucketed table run with None is
      demoted by one full rewrite).

    With ``bucket_by=N`` the table is hash-partitioned by
    ``__bucket = pmod(xxhash64(keys), N)`` (a PARTITION column:
    ``__bucket=K`` directories inside each version), and a micro-batch
    rewrites ONLY the buckets its keys touch: the merge reads the live
    table partition-PRUNED to the touched buckets (the filter is on the
    partition column, so untouched buckets' files are never opened), and
    every untouched bucket's immutable parquet files are HARD-LINKED
    into the new version directory — a metadata op, no data copied or
    rewritten. Hard links (not symlinks) keep versions independently
    deletable: superseded versions can be reclaimed while retained
    snapshots still reference the shared inodes — exactly the
    data-file-reuse a manifest-based table format (Iceberg/Delta) gets
    from listing old files in a new snapshot, expressed on a
    filesystem. Snapshot atomicity is unchanged: one os.replace of the
    table symlink flips to a complete version. Readers see the extra
    ``__bucket`` int column (project it away, or leave it — it is also a
    useful co-location key for downstream joins). Per-batch write cost
    drops from O(table) to O(touched buckets); N trades rewrite
    granularity against files-per-version.
    """
    import os
    import shutil

    spark = sdf.sparkSession
    apath = os.path.abspath(path)
    parent, base = os.path.split(apath)

    def versions() -> list[tuple[int, str]]:
        out = []
        if os.path.isdir(parent):
            for d in os.listdir(parent):
                if d.startswith(base + ".__v"):
                    try:
                        out.append((int(d[len(base) + 4 :]), os.path.join(parent, d)))
                    except ValueError:
                        pass
        return sorted(out)

    def complete(d: str) -> bool:
        return os.path.exists(os.path.join(d, "_SUCCESS"))

    def recover():
        old = apath + ".__old"
        if not os.path.lexists(apath) and os.path.isdir(old):
            # a pre-round-4 run died between its two renames: the only
            # copy lives in the backup — restore it, never delete it
            os.rename(old, apath)
        if os.path.islink(apath) and not os.path.isdir(apath):
            os.remove(apath)  # dangling pointer; re-created just below
        if not os.path.lexists(apath):
            done = [d for _, d in versions() if complete(d)]
            if done:
                os.symlink(os.path.basename(done[-1]), apath)
        if os.path.isdir(apath) and not os.path.islink(apath):
            # legacy layout (real directory): adopt it as a version so
            # every later swap is one atomic symlink replace
            vs = versions()
            v0 = f"{apath}.__v{(vs[-1][0] + 1) if vs else 0}"
            os.rename(apath, v0)
            os.symlink(os.path.basename(v0), apath)
        # sweep leftovers that are provably not the live table: the old
        # sink's temp dirs, a now-redundant backup, incomplete writes
        live = os.path.realpath(apath)
        shutil.rmtree(old, ignore_errors=True)
        for d in os.listdir(parent) if os.path.isdir(parent) else []:
            full = os.path.join(parent, d)
            if d.startswith(base + ".__tmp_") or (
                d.startswith(base + ".__v") and full != live and not complete(full)
            ):
                shutil.rmtree(full, ignore_errors=True)

    if not (bucket_by is None or bucket_by == "auto" or isinstance(bucket_by, int)):
        raise ValueError(f"bucket_by must be an int, None, or 'auto', got {bucket_by!r}")

    def marker_n() -> int | None:
        p = os.path.join(os.path.realpath(apath), "_bucket_by")
        if os.path.isfile(p):
            try:
                with open(p) as f:
                    return int(f.read().strip())
            except ValueError:
                return None
        return None

    def merge(batch_df: DataFrame, batch_id: int):
        batch_df.persist()
        try:
            recover()
            exists = os.path.isdir(apath)
            marker = marker_n() if exists else None
            if bucket_by == "auto":
                n = marker if marker is not None else DEFAULT_UPSERT_BUCKETS
            else:
                n = bucket_by
            bkey = (
                F.pmod(
                    F.xxhash64(*[F.col(k) for k in key_cols]), F.lit(n)
                ).cast("int")
                if n
                else None
            )
            touched: set[int] | None = set()
            if bkey is not None:
                # distinct bucket ids of the batch: bounded by n,
                # a model-sized driver collect by construction
                touched = {
                    r["b"] for r in batch_df.select(bkey.alias("b")).distinct().collect()
                }
            if exists:
                # the batch IS a compacted delta (one row per key — it
                # comes out of an update-mode aggregate), so this is the
                # batch MERGE operator applied per micro-batch
                from ssp_spark.operators.relational import merge_upsert

                cur = spark.read.parquet(apath)
                has_bucket = "__bucket" in cur.columns
                # pruning is valid only when the live layout's bucket
                # count provably equals n: the marker says so, or (pre-
                # round-6 compat) the caller passed an explicit int over
                # an already-bucketed marker-less table — the original
                # trust-the-caller contract
                trusted = marker == n or (
                    isinstance(bucket_by, int) and marker is None and has_bucket
                )
                migrating = bkey is not None and not (has_bucket and trusted)
                if bkey is not None and not migrating:
                    # partition-column filter -> directory pruning: only
                    # touched buckets' files are ever opened
                    cur = cur.filter(
                        F.col("__bucket").isin(*touched) if touched else F.lit(False)
                    ).drop("__bucket")
                else:
                    # legacy/untrusted layout (unbucketed, marker-less
                    # bucketed under "auto", or bucketed run with None):
                    # one full merge migrates it; drop is a no-op when
                    # the column is absent
                    cur = cur.drop("__bucket")
                    if migrating:
                        touched = None  # sentinel: link nothing, rewrite all
                merged = merge_upsert(cur, batch_df, key_cols)
            else:
                merged = batch_df
            vs = versions()
            new_v = f"{apath}.__v{(vs[-1][0] + 1) if vs else 0}"
            if bkey is not None:
                (
                    merged.withColumn("__bucket", bkey)
                    .write.partitionBy("__bucket")
                    .mode("overwrite")
                    .parquet(new_v)
                )
                # persist the bucket count next to _SUCCESS so "auto"
                # re-opens adopt the layout without re-migrating; a crash
                # before this line costs one extra full migration, never
                # correctness (the version is only live after the flip)
                with open(os.path.join(new_v, "_bucket_by"), "w") as f:
                    f.write(str(n))
                if exists and touched is not None:
                    # untouched buckets: hard-link the previous version's
                    # immutable files into the new version (no rewrite)
                    live = os.path.realpath(apath)
                    for d in os.listdir(live):
                        if not d.startswith("__bucket="):
                            continue
                        try:
                            b = int(d.split("=", 1)[1])
                        except ValueError:
                            continue
                        if b in touched:
                            continue
                        sdir, ddir = os.path.join(live, d), os.path.join(new_v, d)
                        os.makedirs(ddir, exist_ok=True)
                        for fname in os.listdir(sdir):
                            spath = os.path.join(sdir, fname)
                            if os.path.isfile(spath):
                                os.link(spath, os.path.join(ddir, fname))
            else:
                merged.write.mode("overwrite").parquet(new_v)  # executes the merge read
            swap = apath + ".__swap"
            if os.path.lexists(swap):
                os.remove(swap)
            os.symlink(os.path.basename(new_v), swap)
            os.replace(swap, apath)  # atomic pointer flip
            # superseded copies die only now; ``keep_versions`` newest
            # complete snapshots are RETAINED (time travel — the manifest
            # history a table format keeps; read_table_version reads one)
            done = [d for _, d in versions() if complete(d)]
            keep = set(done[-max(keep_versions, 1) :]) | {os.path.realpath(apath)}
            for _, d in versions():
                if d not in keep:
                    shutil.rmtree(d, ignore_errors=True)
        finally:
            batch_df.unpersist()

    w = sdf.writeStream.outputMode("update").foreachBatch(merge)
    if checkpoint is not None:
        # with a checkpoint a RE-RUN resumes after the last committed
        # micro-batch instead of replaying the whole source (replay is
        # merely wasteful, not wrong — the per-key merge is idempotent)
        w = w.option("checkpointLocation", checkpoint)
    q = w.trigger(availableNow=True).start()
    return _await_bounded(q, timeout_s)


def incremental_dedup_sink(
    sdf: DataFrame,
    index_path: str,
    flags_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 4,
    timeout_s: float = 120.0,
):
    """Streaming ingest dedup against ALL history: each micro-batch of
    documents is checked for near-duplicates against the accumulated
    MinHash band index of every prior batch, then its own signatures are
    appended to the index — the streaming twin of
    dedup.minhash_lsh_pairs_between, with the index as the persisted
    state (parquet, one subdirectory per batch).

    Per batch: band the batch (batch-sized work), ONE equi-join against
    the index on (band, band_sig), write per-doc ``is_dup`` flags. The
    corpus is never re-paired against itself; per-batch cost is
    O(batch + candidates), and the state is a parquet table any batch
    job can also read — no private state-store format.

    Exactly-once: both the flags and the index append land in a
    ``batch=N`` subdirectory written with overwrite, so a re-delivered
    micro-batch replaces its own output instead of duplicating it (the
    idempotent-per-(batch_id) foreachBatch contract). Contract: flags
    are computed BEFORE the batch joins the index, so within-batch
    duplicates do not flag each other — run a batch dedup_exact inside
    the pipeline for that, as the batch path does.
    """
    import os

    from ssp_spark.operators import dedup

    def handle(batch_df: DataFrame, batch_id: int):
        spark = batch_df.sparkSession
        batch_df = batch_df.persist()
        try:
            banded = dedup._banded_signatures(
                batch_df, id_col, text_col, num_hashes, bands, 3
            ).persist()
            have_index = os.path.isdir(index_path) and any(
                d.startswith("batch=") for d in os.listdir(index_path)
            )
            if have_index:
                idx = spark.read.parquet(index_path).select(
                    "band", "band_sig"
                )
                hits = (
                    banded.join(idx, ["band", "band_sig"])
                    .select("doc_id")
                    .distinct()
                    .withColumn("__dup", F.lit(1))
                )
            else:
                hits = spark.createDataFrame([], "doc_id long").withColumn(
                    "__dup", F.lit(1)
                )
            flags = (
                batch_df.select(F.col(id_col).alias("doc_id"))
                .distinct()
                .join(hits, "doc_id", "left")
                .select(
                    "doc_id",
                    F.coalesce("__dup", F.lit(0)).alias("is_dup"),
                )
            )
            flags.write.mode("overwrite").parquet(
                os.path.join(flags_path, f"batch={batch_id}")
            )
            banded.write.mode("overwrite").parquet(
                os.path.join(index_path, f"batch={batch_id}")
            )
            banded.unpersist()
        finally:
            batch_df.unpersist()

    q = sdf.writeStream.foreachBatch(handle).trigger(availableNow=True).start()
    return _await_bounded(q, timeout_s)


def table_versions(path: str) -> list[int]:
    """Retained complete snapshot versions of an upsert_parquet_sink
    table, oldest first (the readable time-travel history)."""
    import os

    apath = os.path.abspath(path)
    parent, base = os.path.split(apath)
    out = []
    if os.path.isdir(parent):
        for d in os.listdir(parent):
            if d.startswith(base + ".__v"):
                full = os.path.join(parent, d)
                if os.path.exists(os.path.join(full, "_SUCCESS")):
                    try:
                        out.append(int(d[len(base) + 4 :]))
                    except ValueError:
                        pass
    return sorted(out)


def read_table_version(spark: SparkSession, path: str, version: int | None = None):
    """Time-travel read of an upsert_parquet_sink table: ``version=None``
    resolves the live pointer (current state); an integer reads that
    retained snapshot — the "AS OF version" query a table format serves
    from its manifest history. Raises if the snapshot was not retained
    (``keep_versions`` bounds the history).
    """
    import os

    if version is None:
        return spark.read.parquet(os.path.abspath(path))
    target = f"{os.path.abspath(path)}.__v{version}"
    if not os.path.exists(os.path.join(target, "_SUCCESS")):
        raise ValueError(
            f"version {version} of {path} is not retained "
            f"(available: {table_versions(path)})"
        )
    return spark.read.parquet(target)

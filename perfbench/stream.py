"""Streaming workload: a load generator in this process replays the
``events`` table as files into a watched directory; the engine reads them
with ``sources.read_stream`` and counts them per user in event-time
windows with ``streaming.windowed_count_stream``.

Each run has two phases on one standing query. Equal backlog chunks are
written one after another, each once the previous one has been consumed,
and each drain is timed (throughput). Then the generator writes files
open loop at a fixed offered rate (latency). Files are written under a
hidden name and renamed into place, so the engine never sees a partial
file; each file's creation stamp is taken just before it is written.
"""

from __future__ import annotations

import math
import os
import statistics
import threading
import time
from datetime import datetime, timezone

import datagen
import engine
from batch import percentile
from probes import Window, peak_rss_mb

# The replayed table: sf 0.1 events, 100k rows of 1500 users over 30 days
# in event-time order. A longer run or a higher rate replays a larger
# scale factor of the same table.
EVENTS_SF = 0.1
# 15-minute tumbling windows keyed by user, 10-minute watermark delay
SIZE_S, DELAY_S = 900, 600
# a fifth of the rows arrive up to 5 minutes out of order (still on time);
# late rows, 1% of the open-loop rows, are events of the first half of the
# backlog delivered during the open loop, days behind the watermark
DISORDER_SHARE, DISORDER_S = 0.2, 300
LATE_SHARE = 0.01
# Backlog chunks, each drained on its own. The first ones also settle the
# fresh JVM (drain times keep falling over the first five or six);
# total_s is the median of the last TIMED_DRAINS.
DRAINS, TIMED_DRAINS = 12, 7
CHUNK_FILES, CHUNK_ROWS = 20, 14_000
# Open loop: OPEN_FILES_PER_S files a second, RATE rows a second in all.
# Measured on 4 cores (4-vCPU Xeon VM): the warm backlog drains at 20-22k
# rows/s, and open-loop rates of 1.5k-12k rows/s all kept latency bounded
# (p50 1.7-2.6 s). RATE offers about a seventh of the drain capacity; the
# unconsumed backlog then stays level after the first second. At
# --seconds 20 the replay (168k backlog + 51k open-loop rows) is the first
# 219.6k rows of the sf 0.22 table (3300 users).
OPEN_FILES_PER_S = 10
RATE = 3000.0
WARM_FILES = 2
PHASES = ["latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets"]
MIN_LATENCY_SAMPLES = 200
OPEN_LOOP_SLACK_S = 3  # of --seconds, left for the backlog drains
WARMUP_TIMEOUT_S = 40
STALL_S = 60  # the timed phase may overrun --seconds by this much in all


class Generator:
    """Writes payloads into ``watch`` and stamps each file."""

    def __init__(self, watch: str, payloads: list[str]):
        self.watch = watch
        self.payloads = payloads
        self.created: list[float] = []
        self.written: list[float] = []
        self.late_s: list[float] = []
        self.backlog: list[int] = []
        os.makedirs(watch, exist_ok=True)

    def write(self, i: int) -> None:
        self.write_many([i])

    def write_many(self, idx: list[int]) -> None:
        """Write the files hidden, then rename them all into view, so one
        trigger sees the whole group."""
        for i in idx:
            self.created.append(time.time())
            with open(os.path.join(self.watch, f".tmp-{i:06d}"), "w") as f:
                f.write(self.payloads[i])
        for i in idx:
            os.rename(os.path.join(self.watch, f".tmp-{i:06d}"),
                      os.path.join(self.watch, f"f-{i:06d}.txt"))
            self.written.append(time.time())

    def open_loop(self, first: int, last: int, rate: float, backlog) -> threading.Thread:
        """Write files ``first``..``last`` at ``rate`` files/s, recording
        how late each write ran and the rows not yet consumed after it."""

        def loop():
            t0 = time.perf_counter()
            for k, i in enumerate(range(first, last)):
                due = t0 + k / rate
                now = time.perf_counter()
                if due > now:
                    time.sleep(due - now)
                self.late_s.append(max(time.perf_counter() - due, 0.0))
                self.write(i)
                self.backlog.append(backlog(i + 1))

        th = threading.Thread(target=loop, name="perfbench-generator", daemon=True)
        th.start()
        return th


def _trigger_bounds(p: dict) -> tuple[float, float]:
    start = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    t0 = start.replace(tzinfo=timezone.utc).timestamp()
    return t0, t0 + p["durationMs"].get("triggerExecution", 0) / 1000.0


class Progress:
    """Every StreamingQueryProgress of the watched queries, as dicts, from
    a listener (``recentProgress`` keeps only the latest few)."""

    def __init__(self, spark):
        import json

        from pyspark.sql.streaming import StreamingQueryListener

        self.items: list[dict] = []
        items = self.items

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                items.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Listener())

    def of(self, q) -> list[dict]:
        rid = str(q.runId)
        return sorted((p for p in list(self.items) if p["runId"] == rid),
                      key=lambda p: p["batchId"])

    def consumed(self, q) -> int:
        return sum(p["numInputRows"] for p in self.of(q))


def _idle(ps: list[dict]) -> bool:
    """The latest trigger read no input: a no-data (watermark) trigger."""
    return bool(ps) and ps[-1]["numInputRows"] == 0


def _wait(pred, timeout_s: float, until: float) -> bool:
    """Poll ``pred`` for up to ``timeout_s``, but never past ``until``."""
    deadline = min(time.perf_counter() + timeout_s, until)
    while time.perf_counter() < deadline:
        if pred():
            return True
        time.sleep(0.1)
    return pred()


def run(ctx, rate: float | None) -> dict:
    rate = rate or RATE
    tr = ctx.tracer
    watch, warm_dir = ctx.run_path("in"), ctx.run_path("warm")
    n_open = math.ceil(OPEN_FILES_PER_S * max(ctx.seconds - OPEN_LOOP_SLACK_S, 4))
    open_rows = max(1, round(rate / OPEN_FILES_PER_S))
    first_open = DRAINS * CHUNK_FILES
    n_files = first_open + n_open
    chunk_rows = CHUNK_ROWS // CHUNK_FILES
    sizes = ([open_rows] * WARM_FILES + [chunk_rows] * first_open + [open_rows] * n_open)

    # ---- inputs, generated before set-up
    n_rows = sum(sizes)
    warm_n = WARM_FILES * open_rows
    backlog_end_at = warm_n + first_open * chunk_rows
    late_n = round(LATE_SHARE * n_open * open_rows)
    events = datagen.events_table(max(EVENTS_SF, math.ceil(n_rows / 10_000) / 100), ctx.seed)
    files, late_ids = datagen.event_replay(
        events, ctx.seed, sizes, DISORDER_SHARE, DISORDER_S * 1_000_000, late_n,
        (warm_n, warm_n + (backlog_end_at - warm_n) // 2), backlog_end_at, SIZE_S * 1_000_000,
    )
    payloads = ["".join(f"{a},{b},{c}\n" for a, b, c in f.tolist()) for f in files]
    warm_payloads, payloads, files = payloads[:WARM_FILES], payloads[WARM_FILES:], files[WARM_FILES:]
    rows = [len(f) for f in files]

    # ---- set-up: engine import, session, one warm-up trigger
    t_setup = time.perf_counter()
    with tr.span("setup"):
        from ssp_spark import sources, streaming

        t0 = time.perf_counter()
        with tr.span("session.get_spark"):
            os.makedirs(watch, exist_ok=True)
            spark = engine.start_session(watch, "perfbench")
        session_start = time.perf_counter() - t0
        progress = Progress(spark)
        emitted: list[tuple[int, list]] = []

        def build(path: str):
            src = sources.read_stream(
                spark, "csv", path, schema="event_id LONG, ts_us LONG, user_id LONG"
            ).selectExpr("event_id", "timestamp_micros(ts_us) AS ts", "user_id")
            size = f"{SIZE_S} seconds"
            out = streaming.windowed_count_stream(
                src, "ts", "user_id", size, size, f"{DELAY_S} seconds"
            )

            def sink(df, batch_id):
                emitted.append((batch_id, [tuple(r) for r in df.collect()]))

            return out.writeStream.foreachBatch(sink).outputMode("append")

        t0 = time.perf_counter()
        with tr.span("session.warmup"):
            gen_warm = Generator(warm_dir, warm_payloads)
            gen_warm.write_many(list(range(WARM_FILES)))
            wq = (build(warm_dir)
                  .option("checkpointLocation", ctx.run_path("ck-warm"))
                  .trigger(availableNow=True).start())
            if not wq.awaitTermination(WARMUP_TIMEOUT_S):
                raise RuntimeError("warm-up trigger timed out")
        warmup = time.perf_counter() - t0
        emitted.clear()
    setup_s = time.perf_counter() - t_setup

    # ---- timed window: backlog drains, then open loop
    gen = Generator(watch, payloads)
    total_rows = sum(rows)
    cum_rows = [0]
    for r in rows:
        cum_rows.append(cum_rows[-1] + r)
    window = Window()
    window.start()
    until = time.perf_counter() + ctx.seconds + STALL_S
    groups = engine.JobGroups(spark)
    drained = True
    for d in range(DRAINS):
        gen.write_many(list(range(d * CHUNK_FILES, (d + 1) * CHUNK_FILES)))
        if d == 0:
            q = build(watch).option("checkpointLocation", ctx.run_path("ck")).start()
        want = cum_rows[(d + 1) * CHUNK_FILES]
        drained &= _wait(lambda: progress.consumed(q) >= want, STALL_S, until)
        drained &= _wait(lambda: _idle(progress.of(q)), 10, until)  # the no-data trigger after it
    th = gen.open_loop(first_open, n_files, OPEN_FILES_PER_S,
                       lambda n: cum_rows[n] - progress.consumed(q))
    th.join()
    backlog_end = total_rows - progress.consumed(q)
    done = _wait(lambda: progress.consumed(q) >= total_rows, STALL_S, until)
    _wait(lambda: _idle(progress.of(q)), 10, until)  # the no-data trigger that emits the last windows
    _wait(lambda: not q.status["isTriggerActive"], 5, until)
    noise = window.stop()
    rss = peak_rss_mb()
    run_id = str(q.runId)
    q.stop()
    time.sleep(0.5)
    counts = groups.counts(run_id) if ctx.trace else {}

    # ---- outside the window: output check, metrics
    trig = [(p, *_trigger_bounds(p)) for p in progress.of(q)]
    data_trig = [t for t in trig if t[0]["numInputRows"] > 0]
    cum, acc = [], 0
    for p, _s, e in trig:
        acc += p["numInputRows"]
        cum.append(acc)

    def drain_time(d: int) -> float:
        """First trigger taking rows of chunk d to the trigger covering it."""
        before, start = cum_rows[d * CHUNK_FILES], None
        for (_p, s, e), c in zip(trig, cum):
            if start is None and c > before:
                start = s
            if start is not None and c >= cum_rows[(d + 1) * CHUNK_FILES]:
                return e - start
        return float("nan")

    drains = [drain_time(d) for d in range(DRAINS)]
    drain_s = statistics.median(drains[-TIMED_DRAINS:])
    problems: list[str] = []
    if not drained or not done:
        problems.append(f"stream stalled: consumed {acc} of {total_rows} rows")
    lat, bad_windows = _window_latency(files, late_ids, gen.created, first_open, emitted, trig)
    dropped = sum(
        sum(s.get("numRowsDroppedByWatermark", 0) for s in p.get("stateOperators", []))
        for p, _s, _e in trig
    )
    if bad_windows:
        problems.append(bad_windows)
    if dropped != late_n:
        problems.append(f"dropped {dropped} late rows, generator injected {late_n}")
    if len(lat) < MIN_LATENCY_SAMPLES:
        problems.append(f"only {len(lat)} latency samples")
    for msg in problems:
        ctx.log(msg)
    attempted = len(trig)
    failed = attempted if problems else 0

    lat_ms = sorted(1000.0 * x for x in lat) or [float("nan")]

    def phase(name: str) -> float:
        vals = [t[0]["durationMs"].get(name, 0) for t in data_trig]
        return statistics.median(vals) if vals else 0.0

    def state(key: str) -> float:
        vals = [sum(s.get(key, 0) for s in t[0].get("stateOperators", [])) for t in data_trig]
        return statistics.median(vals) if vals else 0.0

    if ctx.trace:
        for p, s, e in trig:
            sid = tr.add("streaming.trigger", s, e)
            at = s
            for ph in PHASES:
                d = p["durationMs"].get(ph, 0) / 1000.0
                tr.add(f"streaming.{ph}", at, at + d, parent=sid)
                at += d
        for c, w in zip(gen.created, gen.written):
            tr.add("sources.write_file", c, w)

    rows_per_s = CHUNK_ROWS / drain_s
    quarter = len(gen.backlog) // 4
    e2e = {
        "setup_s": setup_s,
        "total_s": drain_s,
        "geomean_ms": math.exp(statistics.fmean(math.log(max(x, 1e-3)) for x in lat_ms)),
        "rows_per_s": rows_per_s,
        "latency_p50_ms": percentile(lat_ms, 50),
        "latency_p95_ms": percentile(lat_ms, 95),
    }
    layers = {
        "peak_rss_mb": rss,
        "session.start_s": session_start,
        "session.warmup_s": warmup,
        "failed_frac": failed / max(attempted, 1),
        "streaming.batches": float(len(trig)),
        "streaming.rows_per_batch": statistics.median(
            [t[0]["numInputRows"] for t in data_trig]) if data_trig else 0.0,
        "streaming.trigger_ms_p50": phase("triggerExecution"),
        "streaming.state_rows": state("numRowsTotal"),
        "streaming.state_mem_bytes": state("memoryUsedBytes"),
        "streaming.state_commit_ms": state("commitTimeMs"),
        "streaming.late_rows_dropped": float(dropped),
        "sources.gen_late_ms": 1000.0 * percentile(gen.late_s, 95) if gen.late_s else 0.0,
        "sources.backlog_end_rows": float(max(backlog_end, 0)),
    }
    for ph in PHASES:
        layers[f"streaming.{ph}_ms"] = phase(ph)
    if ctx.trace:
        layers.update({f"exec.{k}": float(v) for k, v in counts.items()})
        layers["trace.overhead_frac"] = tr.bookkeeping_s / max(noise["window_s"], 1e-9)
    layers.update({k: v for k, v in noise.items() if k != "window_s"})
    engine.stop_session(spark)
    return {
        "e2e": e2e,
        "layers": layers,
        "attempted": attempted,
        "failed": failed,
        "detail": {
            "events_rows": n_rows,
            "backlog_rows": CHUNK_ROWS,
            "drains_s": drains,
            "open_files": n_open,
            "offered_rows_per_s": open_rows * OPEN_FILES_PER_S,
            "offered_share_of_capacity": open_rows * OPEN_FILES_PER_S / rows_per_s,
            # mean unconsumed rows in each quarter of the open loop: after
            # the first quarter's ramp from an empty queue they stay level
            # while the offered rate is below capacity
            "backlog_quarter_mean_rows": [
                statistics.fmean(gen.backlog[k * quarter : (k + 1) * quarter] or [0])
                for k in range(4)
            ],
            "latency_samples": len(lat),
            "late_injected": late_n,
            "problems": problems,
            "window_s": noise["window_s"],
            "host.steal_pct": noise["host.steal_pct"],
            "host.foreign_pct": noise["host.foreign_pct"],
        },
    }


def _window_latency(files, late_ids, created, first_open, emitted, trig):
    """Latency of each window emitted in the open-loop phase, and a
    description of any mismatch between the emitted counts and counts
    recomputed here from the on-time rows."""
    import numpy as np

    w_us, d_ms = SIZE_S * 1_000_000, DELAY_S * 1000
    # watermark after each file: max event time so far (ms) minus the delay
    wm_after = np.maximum.accumulate(np.array([int(f[:, 1].max()) // 1000 for f in files])) - d_ms
    final_wm = int(wm_after[-1])
    end_of = {p["batchId"]: e for p, _s, e in trig}

    lat = []
    got: dict[tuple[int, int], int] = {}
    for batch_id, out_rows in emitted:
        seen = set()
        for ws, we, user, cnt in out_rows:
            got[(ws, user)] = cnt
            if we in seen:
                continue
            seen.add(we)
            f = int(np.searchsorted(wm_after, we * 1000))  # first file moving wm past we
            if f >= first_open and batch_id in end_of:
                lat.append(end_of[batch_id] - created[f])

    allrows = np.concatenate(files)
    on_time = allrows[~np.isin(allrows[:, 0], late_ids)]
    ws_us = on_time[:, 1] // w_us * w_us
    keep = (ws_us + w_us) // 1000 <= final_wm
    want: dict[tuple[int, int], int] = {}
    for ws, user in zip((ws_us[keep] // 1_000_000).tolist(), on_time[keep, 2].tolist()):
        want[(ws, user)] = want.get((ws, user), 0) + 1
    if got != want:
        diff = len(set(got.items()) ^ set(want.items()))
        return lat, f"{diff} (window, user) counts differ from the on-time reference"
    return lat, ""

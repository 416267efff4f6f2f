#!/usr/bin/env python
"""Replicate the reference engine's ONLY benchmark workload on this
engine and record single-node throughput.

The reference defines exactly one benchmark and publishes no numbers for
it (BASELINE.md): bench/wordcount_test.go:14-49 — a deterministic ~10 MiB
stream of words drawn uniformly from a 126-word vocabulary
(bench/words.go, rand seed 0), fed through source -> keyed running count
(12 parallel counter instances) -> discard sink, with b.ReportAllocs().
Go cannot run in this container, so the reference side stays unmeasured;
this script measures OUR side of the same workload so the comparison is
one `go test -bench` away on any machine that has both.

Workload replication notes:
- Same shape, not the same bytes: 10 MiB of space-separated words drawn
  uniformly (numpy PCG64 seed 0) from a 126-word vocabulary with the
  same length range as the Go lorem list (3-12 chars). Throughput for a
  hash-groupBy depends on word count, byte volume, and key cardinality —
  all matched — not on the specific strings.
- Two of our execution forms are measured:
  (a) BATCH wordcount: read the text files, split/explode/groupBy/count,
      noop write — the form bench.py's word_count query uses.
  (b) STREAMING keyed running count: file stream -> groupBy(word).count()
      in update mode -> noop sink, availableNow trigger — semantically
      the reference's keyed-running-count topology (its counter emits per
      input; Spark's update mode emits per changed key per micro-batch,
      the documented SURVEY §4.3 placement difference).

Run:  python scripts/bench_reference_workload.py [out.json]
Prints one JSON line; paste/record into BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ssp_spark.session import get_spark  # noqa: E402
from ssp_spark.streaming import _await_bounded  # noqa: E402

TARGET_BYTES = 10 * 1024 * 1024  # bytesIn in wordcount_test.go:12
N_FILES = 12  # SetParallelism(12) in wordcount_test.go:37
VOCAB_SIZE = 126  # bench/words.go vocabulary size


def make_vocab() -> list[str]:
    """126 deterministic pseudo-words, 3-12 chars (the Go list's range)."""
    rng = np.random.default_rng(0)
    vocab = []
    while len(vocab) < VOCAB_SIZE:
        n = int(rng.integers(3, 13))
        w = "".join(chr(97 + int(c)) for c in rng.integers(0, 26, n))
        if w not in vocab:
            vocab.append(w)
    return vocab


def write_input(d: str) -> tuple[int, int]:
    vocab = np.array(make_vocab())
    rng = np.random.default_rng(0)
    total_bytes = 0
    total_words = 0
    per_file = TARGET_BYTES // N_FILES
    for i in range(N_FILES):
        words = []
        nbytes = 0
        while nbytes < per_file:
            chunk = vocab[rng.integers(0, VOCAB_SIZE, 8192)]
            words.append(" ".join(chunk.tolist()))
            nbytes += len(words[-1]) + 1
        body = "\n".join(words)
        with open(os.path.join(d, f"part-{i:02d}.txt"), "w") as f:
            f.write(body)
        total_bytes += len(body)
        total_words += sum(len(w.split(" ")) for w in words)
    return total_words, total_bytes


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else None
    d = tempfile.mkdtemp(prefix="refbench_")
    try:
        n_words, n_bytes = write_input(d)
        spark = get_spark("refbench")
        spark.sparkContext.setLogLevel("ERROR")
        import pyspark.sql.functions as F

        def batch_once() -> float:
            t0 = time.perf_counter()
            (
                spark.read.text(d)
                .select(F.explode(F.split(F.col("value"), r"\s+")).alias("word"))
                .filter(F.col("word") != "")
                .groupBy("word")
                .count()
                .write.format("noop")
                .mode("overwrite")
                .save()
            )
            return time.perf_counter() - t0

        def stream_once(tag: str) -> float:
            ck = os.path.join(d, f"_ck_{tag}")
            t0 = time.perf_counter()
            sdf = (
                spark.readStream.format("text")
                .option("maxFilesPerTrigger", N_FILES)
                .load(d)
                .select(F.explode(F.split(F.col("value"), r"\s+")).alias("word"))
                .filter(F.col("word") != "")
                .groupBy("word")
                .count()
            )
            q = (
                sdf.writeStream.format("noop")
                .outputMode("update")
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            _await_bounded(q, 600)
            return time.perf_counter() - t0

        batch_cold = batch_once()
        batch_warm = min(batch_once(), batch_once())
        stream_cold = stream_once("a")
        stream_warm = min(stream_once("b"), stream_once("c"))
        res = {
            "workload": "reference_wordcount_bench_replica",
            "source": "bench/wordcount_test.go:14-49 (shape-matched, see header)",
            "n_words": n_words,
            "mib": round(n_bytes / 2**20, 2),
            "batch_cold_s": round(batch_cold, 3),
            "batch_warm_s": round(batch_warm, 3),
            "batch_mwords_per_s": round(n_words / batch_warm / 1e6, 2),
            "stream_cold_s": round(stream_cold, 3),
            "stream_warm_s": round(stream_warm, 3),
            "stream_mwords_per_s": round(n_words / stream_warm / 1e6, 2),
        }
        line = json.dumps(res)
        print(line)
        if out_path:
            with open(out_path, "w") as f:
                f.write(line + "\n")
        spark.stop()
    finally:
        shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    main()

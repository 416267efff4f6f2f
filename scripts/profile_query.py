#!/usr/bin/env python
"""Per-query phase profiler (guide §1): for each named query, measure
(a) construction time — QUERIES[name](spark, sf_dir), which includes any
eager driver-side work the query does while building (count() gates,
localCheckpoint materializations, persist warmups) — and (b) the final
noop-sink action, plus the number of Spark jobs each phase launched.
Reports the fastest of REPS repeats per query. Same session config as
bench.py.

``--task-floor`` instead prints one JSON line with the fixed per-task cost
of a ``get_spark`` session: the wall time of a trivial job
(``parallelize(range(1604), n).mapPartitions(count)``) at 1/4/8/16 Python
tasks and of a trivial 8-task JVM-only job (``range`` into the ``noop``
sink), each the median of 3 runs after one warm-up run.

Usage: SPARK_GRAFT_SF_DIR=... python scripts/profile_query.py q1 q2 ...
       python scripts/profile_query.py --task-floor
"""
from __future__ import annotations

import gc
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ssp_spark.catalog import DEFAULT_SF_DIR  # noqa: E402
from ssp_spark.queries import QUERIES, release_session_artifacts  # noqa: E402
from ssp_spark.session import (  # noqa: E402
    adaptive_enabled_for,
    get_spark,
    sized_shuffle_partitions,
)

REPS = 3


def _median_wall(job, reps: int = 3) -> float:
    job()  # warm-up: starts the Python workers / compiles the plan
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        job()
        walls.append(time.perf_counter() - t0)
    return round(statistics.median(walls), 3)


def task_floor() -> None:
    spark = get_spark("ssp-spark-task-floor")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    def python_job(n: int):
        return lambda: sc.parallelize(range(1604), n).mapPartitions(
            lambda it: [sum(1 for _ in it)]
        ).collect()

    def jvm_job():
        spark.range(0, 1604, 1, 8).write.format("noop").mode("overwrite").save()

    print(json.dumps({
        "cores": sc.defaultParallelism,
        "daemon_module": spark.conf.get("spark.python.daemon.module", "pyspark.daemon"),
        "python_tasks_s": {n: _median_wall(python_job(n)) for n in (1, 4, 8, 16)},
        "jvm_tasks_s": {8: _median_wall(jvm_job)},
    }))
    spark.stop()


def main() -> None:
    names = sys.argv[1:]
    if names == ["--task-floor"]:
        task_floor()
        return
    sf_dir = DEFAULT_SF_DIR
    spark = get_spark(
        "ssp-spark-profile",
        shuffle_partitions=sized_shuffle_partitions(sf_dir),
        adaptive=adaptive_enabled_for(sf_dir),
    )
    spark.sparkContext.setLogLevel("ERROR")
    tracker = spark.sparkContext.statusTracker

    def job_count() -> int:
        ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
        return max(ids) + 1 if ids else 0

    # warmup: JVM + codegen + file listing
    df = QUERIES["word_count"](spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()

    print(f"{'query':32s} {'build_s':>8s} {'bjobs':>5s} {'act_s':>8s} {'ajobs':>5s} {'total':>8s}")
    for name in names:
        best_b = best_a = float("inf")
        bjobs = ajobs = 0
        for _ in range(REPS):
            gc.collect()
            j0 = job_count()
            t0 = time.perf_counter()
            df = QUERIES[name](spark, sf_dir)
            tb = time.perf_counter() - t0
            j1 = job_count()
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            ta = time.perf_counter() - t1
            j2 = job_count()
            if tb + ta < best_b + best_a:
                best_b, best_a = tb, ta
                bjobs, ajobs = j1 - j0, j2 - j1
        print(
            f"{name:32s} {best_b:8.3f} {bjobs:5d} {best_a:8.3f} {ajobs:5d} "
            f"{best_b + best_a:8.3f}"
        )
        # per-name boundary release: without it, pinned localCheckpoint
        # blocks from earlier names' reps slow later names under GC pressure
        release_session_artifacts(spark)
    spark.stop()


if __name__ == "__main__":
    main()

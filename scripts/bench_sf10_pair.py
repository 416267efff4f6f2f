#!/usr/bin/env python
"""One full-suite Spark/DuckDB pair at sf10 (the 100x fixture,
.scalefix/sf10) — VERDICT r8 #3's last evidence rung on the scale
story, extending the two sf1 parity pairs (0.97x / 1.03x) one decade.

REDUCED protocol, disclosed: cold pass + ONE steady sweep per engine
(bench.py's two interleaved sweeps exist to dodge co-tenant steal
bursts on sub-second samples; at sf10 per-query times are tens of
seconds to minutes, so a burst moves a sample by percent, not
multiples, and per-query steal is still recorded for adjudication).
The EXPR_TWINS comparison section is skipped entirely at this scale:
ann_ivf_topk's expression assignment is the documented workload-grows-
quadratically row (SCALE.md — its DuckDB oracle alone extrapolates to
~25 min/pass at sf10) and both twins' deployment kernels ARE in the
headline.

Prints one JSON line per engine pass plus a final summary line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE, cpu_jiffies, run_once  # noqa: E402
from ssp_spark.queries import ORACLE  # noqa: E402
from ssp_spark.session import (  # noqa: E402
    adaptive_enabled_for,
    get_spark,
    sized_shuffle_partitions,
)


def main() -> None:
    sf_dir = os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/repo/.scalefix/sf10"
    )
    spark = get_spark(
        "ssp-spark-bench-sf10",
        shuffle_partitions=sized_shuffle_partitions(sf_dir),
        adaptive=adaptive_enabled_for(sf_dir),
    )
    spark.sparkContext.setLogLevel("ERROR")

    run_once(spark, "word_count", sf_dir)  # warmup
    cold: dict[str, float] = {}
    for name in HEADLINE:
        cold[name] = round(run_once(spark, name, sf_dir)[0], 3)
        print(f"cold {name} {cold[name]}", flush=True)
    timings: dict[str, float] = {}
    steals: dict[str, float] = {}
    for name in HEADLINE:
        t, st = run_once(spark, name, sf_dir)
        timings[name], steals[name] = round(t, 3), st
        print(f"steady {name} {timings[name]} steal={st}", flush=True)
    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "engine": "spark",
                "sf_dir": sf_dir,
                "value": total,
                "cold_total_sec": round(sum(cold.values()), 3),
                "queries": timings,
                "query_steal_pct": steals,
            }
        ),
        flush=True,
    )
    spark.stop()

    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    # Prime the OS page cache with one full read per table instead of a
    # full cold ORACLE pass: DuckDB has no JVM/codegen first-touch cost,
    # so file-cache warmth is the only cold effect, and a duplicate
    # oracle pass would double the multi-minute sf10 oracles for no
    # additional information. Disclosed protocol difference vs bench.py.
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        con.execute(f"SELECT count(*) FROM {t}").fetchall()
    duck: dict[str, float] = {}
    dsteals: dict[str, float] = {}
    for name in HEADLINE:
        jt0, js0 = cpu_jiffies()
        t0 = time.perf_counter()
        con.execute(ORACLE[name]).fetchall()
        t = round(time.perf_counter() - t0, 3)
        jt1, js1 = cpu_jiffies()
        st = round(100.0 * (js1 - js0) / max(jt1 - jt0, 1), 1)
        print(f"duck {name} {t} steal={st}", flush=True)
        duck[name], dsteals[name] = t, st
    dtotal = round(sum(duck.values()), 3)
    print(
        json.dumps(
            {
                "engine": "duckdb",
                "sf_dir": sf_dir,
                "value": dtotal,
                "queries": duck,
                "query_steal_pct": dsteals,
            }
        ),
        flush=True,
    )
    print(
        json.dumps(
            {
                "metric": "sf10_pair",
                "spark_total_sec": total,
                "duckdb_total_sec": dtotal,
                "ratio": round(total / dtotal, 3) if dtotal else None,
                "n_queries": len(HEADLINE),
                "protocol": "cold + one steady sweep per engine, "
                "per-query steal recorded; expr twins skipped (see header)",
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()

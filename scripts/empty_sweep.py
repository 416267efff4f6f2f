#!/usr/bin/env python
"""Empty-input robustness sweep: run EVERY registered query against
zero-row copies of the fixture tables and report crashes.

A 100 TB pipeline routinely hits empty partitions, empty sources, and
empty intermediate states; a query that compiles its model from data
(k-means seeds, PageRank N, token-budget cuts, partitioned sinks) must
degrade to the empty frame, not throw. An earlier run of this sweep
found five crashes, since fixed (cluster.assign empty codebook, pagerank
N=0, sink_partitioned_scan schema inference, token_budget empty cut map);
tests/test_scale_ops.py pins those five. This script re-runs the full
sweep on a get_spark session:

    python scripts/empty_sweep.py        # ~2 min on 4 cores, prints ok/FAIL lines
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ssp_spark.catalog import TABLES  # noqa: E402
from ssp_spark.session import get_spark  # noqa: E402


def main() -> int:
    spark = get_spark("empty-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    d = tempfile.mkdtemp(prefix="empty_sf_")
    try:
        for t in TABLES:
            df = spark.read.parquet(f"{src}/{t}.parquet")
            df.limit(0).write.parquet(os.path.join(d, f"{t}.parquet"))
        from ssp_spark.queries import QUERIES

        fails = []
        for n in QUERIES:
            try:
                QUERIES[n](spark, d).count()
            except Exception as e:  # noqa: BLE001 — diagnostic sweep
                fails.append(n)
                print(f"FAIL {n} :: {str(e).splitlines()[0][:140]}", flush=True)
        print(f"ok: {len(QUERIES) - len(fails)} fail: {len(fails)}")
    finally:
        spark.stop()
        shutil.rmtree(d, ignore_errors=True)
    return 1 if fails else 0

if __name__ == "__main__":
    raise SystemExit(main())

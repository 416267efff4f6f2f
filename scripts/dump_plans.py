#!/usr/bin/env python
"""Dump .explain('formatted') for every headline + expr-twin query into
<out_dir>/<query>_<suffix>.txt, the plan evidence for a plan-level claim.
Session config mirrors bench.py (sized shuffle partitions, input-gated
AQE) so the captured plan is the benched plan.

Usage: python scripts/dump_plans.py <out_dir> <suffix> [query ...]
  suffix: 'before' / 'after' (file name suffix)
  query:  optional subset; default = HEADLINE + EXPR_TWINS
"""
from __future__ import annotations

import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import EXPR_TWINS, HEADLINE  # noqa: E402
from ssp_spark.catalog import DEFAULT_SF_DIR  # noqa: E402
from ssp_spark.queries import QUERIES  # noqa: E402
from ssp_spark.session import (  # noqa: E402
    adaptive_enabled_for,
    get_spark,
    sized_shuffle_partitions,
)


def main() -> None:
    if len(sys.argv) < 3:
        raise SystemExit(__doc__)
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or (HEADLINE + EXPR_TWINS)
    sf_dir = DEFAULT_SF_DIR
    os.makedirs(out_dir, exist_ok=True)
    sp = sized_shuffle_partitions(sf_dir)
    spark = get_spark(
        "ssp-spark-plans",
        shuffle_partitions=sp,
        adaptive=adaptive_enabled_for(sf_dir),
    )
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        buf = io.StringIO()
        stdout, sys.stdout = sys.stdout, buf
        try:
            df.explain("formatted")
        finally:
            sys.stdout = stdout
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()

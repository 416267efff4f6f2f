#!/usr/bin/env python3
"""Fast self-test of the benchmark (about two minutes on 4 cores).

    python3 perfbench/selftest.py

Runs each workload once at the smallest inputs and asserts that:
- every end-to-end metric (``--trace 0``) and every per-layer metric
  (``--trace 1``) of BENCHMARK.json is printed with its unit;
- clean runs are correct (``failed == 0``);
- a deliberately wrong expected digest raises ``failed_frac``;
- ``SparkContext.statusTracker()`` reports non-zero job and stage counts
  although the engine's session disables the Spark UI.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(*args: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--seed", "7", *args]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, f"{cmd} exited {out.returncode}:\n{out.stderr[-2000:]}"
    return json.loads(out.stdout.strip().splitlines()[-1])


def check_metrics(res: dict, wanted: list[dict], label: str) -> None:
    got = res["metrics"]
    assert set(got) == {m["name"] for m in wanted}, f"{label}: metric names differ"
    for m in wanted:
        v = got[m["name"]]
        assert v["unit"] == m["unit"], f"{label}: {m['name']} unit {v['unit']}"
        assert isinstance(v["value"], (int, float)), f"{label}: {m['name']} not a number"
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1, label


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e, layers = spec["end_to_end"], spec["per_layer"]
    small = ["--seconds", "1", "--sf", "0.001"]

    res = run("--workload", "batch", "--trace", "0", *small)
    check_metrics(res, e2e, "batch untraced")
    assert res["correct"] and res["failed"] == 0, "batch: clean run not correct"

    res = run("--workload", "batch", "--trace", "1", "--digest-salt", "x", *small)
    check_metrics(res, layers, "batch traced")
    assert not res["correct"] and res["metrics"]["failed_frac"]["value"] > 0, (
        "a wrong digest did not raise failed_frac"
    )
    for name in ("exec.jobs", "exec.stages", "exec.tasks"):
        assert res["metrics"][name]["value"] > 0, f"statusTracker gave no {name}"

    res = run("--workload", "stream_window", "--trace", "1", "--seconds", "10")
    check_metrics(res, layers, "stream_window traced")
    assert res["correct"], "stream_window: clean run not correct"
    assert res["metrics"]["streaming.late_rows_dropped"]["value"] > 0
    print("selftest ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())

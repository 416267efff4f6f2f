#!/usr/bin/env python3
"""ssp-spark benchmark: one workload per process, every metric printed
by name and unit.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 20 --trace 0

Workloads: batch, stream_window.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` records spans
around each layer call, writes them as JSON under ``.perfbench_work/`` and
prints the per-layer metrics. The last stdout line is the result object
``{"correct", "attempted", "failed", "metrics"}``; the line before it
holds details (per-query times, host noise, layer self times).

Run from the repository root; the engine (``ssp_spark``) is imported from
there. Inputs are generated from ``--seed`` into a run directory under
``.perfbench_work/``, which is removed when the run ends. A run that
overruns its time limit prints a result with every operation failed.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, HERE)

from spans import Tracer  # noqa: E402

WORKLOADS = ["batch", "stream_window"]
TIMEOUT_S = 160  # the run must end within 180 s; reaping may take 10 s more


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class Context:
    def __init__(self, args, run_dir: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.digest_salt = args.digest_salt
        self.run_dir = run_dir
        self.tracer = Tracer(os.path.basename(run_dir), self.trace)

    def run_path(self, name: str) -> str:
        return os.path.join(self.run_dir, name)

    def log(self, msg: str) -> None:
        print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rate", type=float, default=None,
                    help="open-loop offered rate in rows/s (stream_window)")
    ap.add_argument("--cores", type=int, default=None,
                    help="local[n] thread count (default: the usable cores)")
    ap.add_argument("--sf", type=float, default=None,
                    help="scale factor of the batch tables (default 0.01)")
    ap.add_argument("--digest-salt", default="",
                    help="perturb the expected batch digests (self-test only)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "ssp_spark")):
        print("perfbench: the ssp_spark engine is not in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    cores = args.cores or len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)

    import engine

    engine.prepare_env(ROOT, run_dir, cores)
    ctx = Context(args, run_dir)

    def on_timeout(_sig, _frame):
        raise TimeoutError(f"run exceeded {TIMEOUT_S} s")

    signal.signal(signal.SIGALRM, on_timeout)
    signal.alarm(TIMEOUT_S)
    try:
        if args.workload == "batch":
            import batch

            res = batch.run(ctx, batch.BATCH, args.sf or batch.SF)
        else:
            import stream

            res = stream.run(ctx, args.rate)
    except TimeoutError as e:
        ctx.log(str(e))
        res = {"e2e": {}, "layers": {"failed_frac": 1.0}, "attempted": 1, "failed": 1,
               "detail": {"problems": [str(e)]}}
    finally:
        signal.alarm(0)
        engine.reap_children()
        shutil.rmtree(run_dir, ignore_errors=True)

    b = spec()
    wanted = b["per_layer"] if args.trace else b["end_to_end"]
    values = {**res["e2e"], **res["layers"]}
    metrics = {}
    for m in wanted:
        v = float(values.get(m["name"], 0.0))
        # a stalled or failed run can leave a metric undefined; it is
        # already counted in "failed", and the result must stay valid JSON
        metrics[m["name"]] = {"value": v if math.isfinite(v) else 0.0, "unit": m["unit"]}
    detail = dict(res["detail"], workload=args.workload, seed=args.seed, cores=cores)
    if args.trace:
        path = os.path.join(WORK, f"trace-{args.workload}-s{args.seed}.json")
        ctx.tracer.write(path)
        detail["trace_file"] = os.path.relpath(path, ROOT)
        detail["self_s"] = ctx.tracer.self_times()
        detail["trace.bookkeeping_s"] = ctx.tracer.bookkeeping_s
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

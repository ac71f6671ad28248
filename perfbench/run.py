"""Benchmark entry point.

    python3 perfbench/run.py --workload {tail,pinned,stream} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. Generates the workload's inputs from
``--seed`` under ``.perfbench_work/``, runs it on ``local[nproc]``,
checks every output against its DuckDB reference, and prints one JSON
object as the last line of standard output. With ``--trace 0`` its
metrics are the end-to-end metrics named in BENCHMARK.json; with
``--trace 1`` they are the per-layer metrics, and the run also writes
its spans to ``.perfbench_work/traces/``. Everything else goes to
standard error. See perfbench/README.md for the workloads.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import sys

import common

WORKLOADS = ("batch", "stream", "tail", "pinned")


def _spec() -> dict:
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # A run stopped from outside still stops the JVM it started.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spec = _spec()
    cores = len(os.sched_getaffinity(0))
    common.prepare_env(cores)
    work = os.path.join(common.WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if args.workload == "stream":
        import stream as workload
    else:
        import batch as workload
    try:
        res = workload.run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        common.shutdown()
        shutil.rmtree(work, ignore_errors=True)

    log = sys.stderr
    print(f"perfbench: {args.workload} seed={args.seed} cores={cores} "
          f"attempted={res['attempted']} failed={res['failed']} "
          f"host.calibration_s before={res['calibration'][0]:.3f} "
          f"after={res['calibration'][1]:.3f}", file=log)
    for err in res["errors"][:10]:
        print(f"perfbench: error: {err}", file=log)
    print(f"perfbench: {res['notes']}", file=log)
    print(f"perfbench: {json.dumps(res['metrics'])}", file=log)
    if res["premise"]:
        for msg in res["premise"]:
            print(f"perfbench: premise failed: {msg}", file=log)
        return 3

    if args.trace:
        # A layer the workload bypasses did no work: it reads 0.
        layers = dict(res["layers"])
        layers.update({k: v for k, v in res["metrics"].items() if k.startswith("wall.")})
        layers["host.calibration_s"] = res["calibration"][1]
        metrics = {
            m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in spec["per_layer"]
        }
    else:
        metrics = {
            m["name"]: {"value": float(res["metrics"][m["name"]]), "unit": m["unit"]}
            for m in spec["end_to_end"]
        }
    bad = [k for k, v in metrics.items() if not math.isfinite(v["value"])]
    if bad:
        print(f"perfbench: no measurement for {bad}", file=log)
        return 4
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Paired A/B of two revisions on one perfbench workload.

    python3 tools/ab.py BASE CHANGE --workload stream --pairs 10 \
        --seed 11 [--seconds 8] [--trace 0] [--out DIR]

Exports each revision with ``git archive <rev> | tar -x`` into
``DIR/<short sha>`` (no worktree; nothing in ``.git`` changes), then runs
``perfbench/run.py`` from each export with identical arguments, once per
side per pair. Pair i uses seed ``--seed + i`` on both sides, and the
side that runs first alternates from pair to pair. Prints, per metric,
each side's median and quartiles, the change's median delta, whether
the gap exceeds the base's interquartile range, and the fraction of
pairs the change won. Raw results go to
``DIR/ab-<workload>-trace<0 or 1>.json``.
Exits 1 if any run is incorrect, fails its premise or reports nothing.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export(rev: str, out: str) -> str:
    sha = subprocess.check_output(["git", "-C", ROOT, "rev-parse", "--short", rev], text=True).strip()
    dest = os.path.join(out, sha)
    if not os.path.isdir(dest):
        os.makedirs(dest)
        archive = subprocess.Popen(["git", "-C", ROOT, "archive", sha], stdout=subprocess.PIPE)
        subprocess.check_call(["tar", "-x", "-C", dest], stdin=archive.stdout)
        if archive.wait() != 0:
            raise SystemExit(f"ab: git archive {rev} failed")
    return dest


def run_once(tree: str, args, seed: int) -> dict | None:
    cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
           "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-2000:])
        print(f"ab: {tree} seed={seed} exited {proc.returncode}", file=sys.stderr)
        return None
    res = json.loads(lines[-1])
    return {"correct": res["correct"], "failed": res["failed"],
            "metrics": {k: v["value"] for k, v in res["metrics"].items()}}


def quartiles(xs: list[float]) -> list[float]:
    """q1, median, q3."""
    return statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else xs * 3


def report(runs: dict, better: dict[str, str]) -> None:
    print(f"{'metric':28} {'base q1/med/q3':>30} {'change q1/med/q3':>30}"
          f" {'delta':>8} {'gap>IQR':>7} {'wins':>6}")
    for name in runs["base"][0]["metrics"]:
        b = [r["metrics"][name] for r in runs["base"]]
        c = [r["metrics"][name] for r in runs["change"]]
        bq, cq = quartiles(b), quartiles(c)
        sign = -1 if better.get(name, "lower") == "lower" else 1
        wins = sum(sign * (y - x) > 0 for x, y in zip(b, c))
        delta = (cq[1] - bq[1]) / bq[1] if bq[1] else 0.0
        gap = abs(cq[1] - bq[1]) > bq[2] - bq[0]
        print(f"{name:28} {'/'.join(f'{v:.4g}' for v in bq):>30}"
              f" {'/'.join(f'{v:.4g}' for v in cq):>30}"
              f" {delta:>+8.1%} {'yes' if gap else 'no':>7} {wins:>3}/{len(b)}")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default=os.path.join(tempfile.gettempdir(), "ab"))
    args = ap.parse_args()

    trees = {"base": export(args.base, args.out), "change": export(args.change, args.out)}
    with open(os.path.join(trees["base"], "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}

    runs: dict[str, list] = {"base": [], "change": []}
    bad = 0
    for i in range(args.pairs):
        seed = args.seed + i
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        for side in order:
            res = run_once(trees[side], args, seed)
            if res is None or not res["correct"] or res["failed"]:
                bad += 1
                print(f"ab: {side} seed={seed} incorrect or failed: {res}", file=sys.stderr)
            runs[side].append(res)
            print(f"ab: pair {i + 1}/{args.pairs} {side} seed={seed} "
                  f"{json.dumps(res and res['metrics'])}", file=sys.stderr, flush=True)

    with open(os.path.join(args.out, f"ab-{args.workload}-trace{args.trace}.json"), "w") as fh:
        json.dump({"args": vars(args), "trees": trees, "runs": runs}, fh, indent=1)
    if bad:
        print(f"ab: {bad} run(s) incorrect, failed or without a result", file=sys.stderr)
        return 1
    print(f"ab: {args.workload}, {args.pairs} pairs, seeds {args.seed}..{args.seed + args.pairs - 1},"
          f" base {args.base} ({os.path.basename(trees['base'])}),"
          f" change {args.change} ({os.path.basename(trees['change'])})")
    report(runs, better)
    return 0


if __name__ == "__main__":
    sys.exit(main())

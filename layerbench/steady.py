#!/usr/bin/env python3
"""Steadiness check: run each workload several times, alternating the
workload order every round and using a different seed per round, then
print each end-to-end metric's spread against its bound in BENCHMARK.json.

Usage (from the repository root):

    python3 layerbench/steady.py --runs 10 [--workloads tabular,catalog_ingest]

spread = (Q3 - Q1) / median over the runs, with quartiles as Python's
``statistics.quantiles(values, n=4)`` gives them. A metric is "steady"
when its spread is below a third of its bound, "ok" when below the bound.
The exit code is 1 when any metric, ``setup_s`` included, is too noisy.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, "layerbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n"
                           + proc.stderr[-2000:])
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", help="comma-separated; default: all")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    names = (args.workloads.split(",") if args.workloads
             else [w["name"] for w in spec["workloads"]])
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    values: dict[str, dict[str, list[float]]] = {w: {} for w in names}
    for r in range(args.runs):
        order = names if r % 2 == 0 else names[::-1]
        for w in order:
            res = run_once(w, args.first_seed + r, spec["run_seconds"], 0)
            print(f"run {r} {w} seed {args.first_seed + r}: correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  flush=True)
            for k, v in res["metrics"].items():
                values[w].setdefault(k, []).append(v["value"])
    bad = 0
    for w in names:
        print(f"\n{w}")
        for k, vs in values[w].items():
            med = statistics.median(vs)
            q1, _, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med
            verdict = ("steady" if spread < bounds[k] / 3 else
                       "ok" if spread < bounds[k] else "TOO NOISY")
            bad += verdict == "TOO NOISY"
            print(f"  {k:14s} median {med:10.4f}  spread {spread:6.3f}  "
                  f"bound {bounds[k]:.2f}  {verdict}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())

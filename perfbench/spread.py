#!/usr/bin/env python3
"""Run a workload once per seed and report each end-to-end metric's
spread: the distance between the first and third quartiles of its values
(``statistics.quantiles(values, n=4)``) as a share of their median, next to
the bound ``BENCHMARK.json`` allows.

    python3 perfbench/spread.py --workload queries --seeds 1-10 [--out runs.json]

Runs are sequential; each one's wall time is reported too.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", default="1-5")
    ap.add_argument("--out", help="append every run's result to this JSON file")
    ap.add_argument("--summary", help="write each metric's median and spread here")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    runs, summary = [], {}
    for wl in args.workload:
        values: dict[str, list[float]] = {}
        for seed in seeds(args.seeds):
            cmd = bench["command"] + [
                "--workload", wl, "--seed", str(seed),
                "--seconds", str(bench["run_seconds"]), "--trace", "0",
            ]
            t0 = time.perf_counter()
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            wall = time.perf_counter() - t0
            if p.returncode != 0:
                print(f"{wl} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
                return 1
            res = json.loads(p.stdout.strip().splitlines()[-1])
            runs.append({"workload": wl, "seed": seed, "wall_s": wall, **res})
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{wl} seed {seed}: {wall:.1f}s correct={res['correct']} "
                  f"failed={res['failed']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  flush=True)
        for k, vals in values.items():
            if len(vals) < 2:
                continue
            q1, _q2, q3 = statistics.quantiles(vals, n=4)
            med = statistics.median(vals)
            spread = (q3 - q1) / med if med else float("nan")
            summary.setdefault(wl, {})[k] = {
                "median": med, "q1": q1, "q3": q3, "spread": spread,
                "bound": bounds.get(k), "n": len(vals),
            }
            print(f"  {wl} {k}: median {med:.4g} spread {spread:.3f} bound {bounds.get(k)}")
    if args.summary:
        with open(args.summary, "w") as f:
            json.dump(summary, f, indent=1)
    if args.out:
        old = []
        if os.path.exists(args.out):
            with open(args.out) as f:
                old = json.load(f)
        with open(args.out, "w") as f:
            json.dump(old + runs, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())

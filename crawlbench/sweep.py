#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarise each metric.

    python3 crawlbench/sweep.py --workload crawl --seeds 1-10 --out sweep.json

Runs ``crawlbench/run.py`` once per seed, one run at a time, and prints per
metric the median, first and third quartile (``statistics.quantiles(n=4)``)
and the spread (Q3 - Q1) / median. ``--trace 1`` sweeps the traced runs.
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


def seeds_of(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def summarise(runs: list[dict]) -> dict:
    names = sorted({n for r in runs for n in r["metrics"]})
    out = {}
    for n in names:
        vals = [r["metrics"][n]["value"] for r in runs if n in r["metrics"]]
        med = statistics.median(vals)
        q1, _, q3 = (statistics.quantiles(vals, n=4) if len(vals) > 1
                     else (vals[0], None, vals[0]))
        out[n] = {"median": med, "q1": q1, "q3": q3,
                  "spread": (q3 - q1) / med if med else 0.0, "n": len(vals)}
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    runs = []
    for seed in seeds_of(args.seeds):
        cmd = bench["command"] + ["--workload", args.workload, "--seed",
                                  str(seed), "--seconds", str(seconds),
                                  "--trace", str(args.trace)]
        t0 = time.perf_counter()
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                           timeout=900)
        if p.returncode != 0:
            print(p.stderr[-3000:], file=sys.stderr)
            raise SystemExit(f"seed {seed}: exit {p.returncode}")
        res = json.loads(p.stdout.strip().splitlines()[-1])
        res.update(seed=seed, run_s=time.perf_counter() - t0,
                   log=[ln for ln in p.stderr.splitlines() if ln.startswith("[")])
        runs.append(res)
        print(json.dumps({"seed": seed, "run_s": round(res["run_s"], 1),
                          "correct": res["correct"], "failed": res["failed"],
                          **{k: round(v["value"], 4)
                             for k, v in res["metrics"].items()
                             if not k.startswith("query.")}}), flush=True)
    summary = summarise(runs)
    for n, s in summary.items():
        print(f"{n:40s} median {s['median']:12.4f}  spread {s['spread']:.4f}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "seconds": seconds,
                       "trace": args.trace, "runs": runs,
                       "summary": summary}, f, indent=1)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Repeat the benchmark over several seeds and summarize its spread.

    python3 perfbench/steady.py --workload scene_pipeline --seeds 1 2 3 4 5 6 7 8 9 10 \
        [--seconds 1] [--trace 0] [--out perfbench/results/scene_pipeline.json]

Runs ``perfbench/run.py`` once per seed, one run at a time, and reports
for every metric of the last output line its median, quartiles
(``statistics.quantiles(values, n=4)``) and spread, the distance between
the quartiles as a share of the median. Each run's full report line is
kept beside the summary.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def summarize(values: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else values * 3
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None, "values": values}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float, default=None,
                    help="default: run_seconds from BENCHMARK.json")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        seconds = args.seconds or json.load(f)["run_seconds"]

    runs = []
    for seed in args.seeds:
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace)],
            cwd=root, capture_output=True, text=True, timeout=600)
        wall = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        result, report = json.loads(lines[-1]), json.loads(lines[-2])
        runs.append({"seed": seed, "wall_s": wall, "result": result, "report": report})
        print(f"seed {seed}: {wall:.1f} s, correct={result['correct']}, "
              + ", ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
              file=sys.stderr)

    names = list(runs[0]["result"]["metrics"])
    summary = {
        "workload": args.workload,
        "seconds": seconds,
        "trace": args.trace,
        "seeds": args.seeds,
        "host": runs[0]["report"]["host"],
        "all_correct": all(r["result"]["correct"] for r in runs),
        "wall_s": summarize([r["wall_s"] for r in runs]),
        "metrics": {n: summarize([r["result"]["metrics"][n]["value"] for r in runs])
                    for n in names},
        "named_metrics": {n: summarize([r["report"]["metrics"][n]["value"] for r in runs])
                          for n in runs[0]["report"]["metrics"]
                          if all(r["report"]["metrics"][n]["value"] is not None for r in runs)},
        "runs": runs,
    }
    text = json.dumps(summary, indent=1, sort_keys=True)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text + "\n")
    for n, s in summary["metrics"].items():
        print(f"{n:28s} median {s['median']:12.4f}  q1 {s['q1']:12.4f}  q3 {s['q3']:12.4f}  "
              f"spread {s['spread'] or 0:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarise the spread.

    python3 perfbench/sweep.py --workload trickle_mor_wide --seeds 1 2 3 4 5 \
        [--trace 0] [--seconds 10] [--out sweep.json]

Runs one process per seed, one after another, and prints for each metric
the median, the quartiles and their distance as a share of the median
(``statistics.quantiles(values, n=4)``). ``--out`` keeps every run's
result, so no draw is lost.
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


def spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "iqr_share": (q3 - q1) / med if med else None}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    runs = []
    for seed in args.seeds:
        t0 = time.monotonic()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)],
            capture_output=True, text=True, timeout=600,
        )
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if lines else {}
        runs.append({"seed": seed, "exit": proc.returncode, "wall_s": time.monotonic() - t0,
                     "notes": [ln for ln in lines if ln.startswith("#")], **result})
        print(f"seed {seed}: exit {proc.returncode}, {runs[-1]['wall_s']:.1f} s, "
              f"correct={result.get('correct')}", file=sys.stderr)
    names = sorted({k for r in runs for k in r.get("metrics", {})})
    summary = {}
    for name in names:
        values = [r["metrics"][name]["value"] for r in runs if name in r.get("metrics", {})]
        if len(values) >= 2:
            summary[name] = spread(values)
            s = summary[name]
            print(f"{name:36s} median {s['median']:14.4f}  q1 {s['q1']:14.4f}  q3 {s['q3']:14.4f}"
                  f"  iqr/median {s['iqr_share'] if s['iqr_share'] is not None else float('nan'):.4f}")
    print(f"wall per run: max {max(r['wall_s'] for r in runs):.1f} s, "
          f"mean {statistics.mean(r['wall_s'] for r in runs):.1f} s")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "trace": args.trace, "seconds": args.seconds,
                       "runs": runs, "summary": summary}, f, indent=1)
    return 0 if all(r["exit"] == 0 and r.get("correct") for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())

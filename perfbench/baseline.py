#!/usr/bin/env python3
"""Fold sweep results into the recorded baseline.

    python3 perfbench/baseline.py SWEEP.json [SWEEP.json ...] --out perfbench/baseline.json

Each input is a ``sweep.py --out`` file (one workload, traced or not).
The baseline keeps every run, the end-to-end medians and quartiles per
workload, the per-layer medians of the traced runs, and the tracing
overhead: how much lower the traced runs' ingest throughput is than the
untraced runs', as a share of the untraced median.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

SIZING = {
    "bulk_mor_hot": "9000 events per --seconds in 4 batches, 16 buckets: the largest backfill whose "
                    "run, with set-up and checks, stays near a minute on 4 cores",
    "trickle_mor_wide": "2000-event batches, 0.45 per --seconds (at least 5), 16 buckets, 2 lookups "
                        "per batch: 2-3 s per batch on 4 cores, with one compaction and two "
                        "expiries inside the timed loop",
}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sweeps", nargs="+")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    out = {"cores": os.cpu_count(), "workloads": {}}
    for path in args.sweeps:
        with open(path) as f:
            sweep = json.load(f)
        w = out["workloads"].setdefault(sweep["workload"], {
            "sizing": SIZING[sweep["workload"]], "seconds": sweep["seconds"],
        })
        key = "per_layer" if sweep["trace"] else "end_to_end"
        w[key] = {"seeds": [r["seed"] for r in sweep["runs"]],
                  "summary": sweep["summary"], "runs": sweep["runs"]}
    for w in out["workloads"].values():
        if "per_layer" in w and "end_to_end" in w:
            traced = w["per_layer"]["summary"]["trace.ingest_events_per_s"]["median"]
            untraced = w["end_to_end"]["summary"]["ingest_events_per_s"]["median"]
            w["tracing_overhead"] = {
                "untraced_ingest_events_per_s": untraced,
                "traced_ingest_events_per_s": traced,
                "share": (untraced - traced) / untraced,
            }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Run one workload on several seeds and report each metric's spread: the
distance between the first and third quartile of its values, as a share of
their median.

    python3 perfbench/spread.py --workload gtfs_chain --seeds 1-10 [--trace 0] [--out f.json]

Run from the repository root; ``--seconds`` defaults to BENCHMARK.json's
``run_seconds``.
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
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0}


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="first-last")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    lo, hi = map(int, args.seeds.split("-"))
    runs = []
    for seed in range(lo, hi + 1):
        t0 = time.monotonic()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, check=True)
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        res["seed"], res["wall_s"] = seed, time.monotonic() - t0
        info = [ln for ln in proc.stderr.splitlines() if ln.startswith('{"workload"')]
        res["info"] = json.loads(info[-1]) if info else None
        runs.append(res)
        print(json.dumps(res), file=sys.stderr)
    report = {name: spread([r["metrics"][name]["value"] for r in runs])
              for name in runs[0]["metrics"]}
    report["wall_s"] = spread([r["wall_s"] for r in runs])
    out = {"workload": args.workload, "seconds": args.seconds, "trace": args.trace,
           "all_correct": all(r["correct"] for r in runs), "spread": report,
           "runs": runs}
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(out, fh, indent=1)
    print(json.dumps({k: out[k] for k in ("workload", "all_correct", "spread")},
                     indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())

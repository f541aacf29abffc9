"""Run a workload on several seeds and report each end-to-end metric's
median and quartile spread (Q3 - Q1, as a share of the median), next to
the bound in BENCHMARK.json, and the median and longest run wall.

    python3 perfbench/spread.py --workload quote_ingest --seeds 1-10
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


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="first-last")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    lo, hi = (int(x) for x in args.seeds.split("-"))
    values: dict[str, list[float]] = {}
    walls: list[float] = []
    for seed in range(lo, hi + 1):
        t0 = time.perf_counter()
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "0",
        ]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        wall = time.perf_counter() - t0
        walls.append(wall)
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}", file=sys.stderr)
            return 1
        res = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: wall {wall:.1f} s correct={res['correct']} attempted={res['attempted']} failed={res['failed']}", flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"run wall: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    print(f"{'metric':32s} {'median':>12s} {'spread':>8s} {'bound':>6s}")
    for k, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [vs[0]] * 3
        spread = (q[2] - q[0]) / med if med else float("nan")
        print(f"{k:32s} {med:12.4g} {spread:8.3f} {bounds[k]:>6}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Steadiness command: repeat each workload with fresh seeds and report,
for every end-to-end metric, the median over the runs and the spread (the
distance between the first and third quartile, as a share of the median).
A bound of three times the spread, kept within [0.05, 0.25], is printed
next to each; `setup_s` always gets the largest bound, 0.25.

    python3 perfbench/steady.py --runs 10 [--workloads tpch,operators] [--first-seed 100]

Runs go one after another (the benchmark itself uses every core).  The
wall time of each run is reported too, since a full check of the benchmark
makes 4 + 22 * workloads runs.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else 0.0 if q3 == q1 else float("inf")


def bound_for(name: str, s: float) -> float:
    if name == "setup_s":
        return 0.25
    return min(0.25, max(0.05, math.ceil(min(3 * s, 1) * 100) / 100))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--workloads",
                   default=",".join(w["name"] for w in bench["workloads"]))
    p.add_argument("--first-seed", type=int, default=100)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--log", help="append every run's ENV and result lines here")
    args = p.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok = True
    for wl in args.workloads.split(","):
        vals: dict[str, list[float]] = {}
        walls, failed, attempted = [], 0, 0
        for i in range(args.runs):
            seed = args.first_seed + i
            cmd = bench["command"] + ["--workload", wl, "--seed", str(seed),
                                      "--seconds", str(bench["run_seconds"]),
                                      "--trace", str(args.trace)]
            t0 = time.monotonic()
            r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            walls.append(time.monotonic() - t0)
            last = (r.stdout.strip().splitlines() or [""])[-1]
            if r.returncode != 0 or not last.startswith("{"):
                print(f"{wl} seed {seed}: exit {r.returncode}\n{r.stderr[-2000:]}")
                ok = False
                continue
            if args.log:
                with open(args.log, "a") as f:
                    f.write("\n".join(x for x in r.stdout.splitlines()
                                      if x.startswith(("ENV ", "{"))) + "\n")
            env = next((json.loads(x[4:]) for x in r.stdout.splitlines()
                        if x.startswith("ENV ")), {})
            res = json.loads(last)
            ok &= res["correct"]
            failed += res["failed"]
            attempted += res["attempted"]
            for k, v in res["metrics"].items():
                vals.setdefault(k, []).append(v["value"])
            print(f"{wl} seed {seed}: {walls[-1]:.1f} s  steal "
                  f"{env.get('steal_s', float('nan')):.1f} s  raw pass_s "
                  f"{env.get('pass_wall_s', float('nan')):.4g}  " + "  ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                flush=True)
        print(f"\n{wl}: {len(walls)} runs, wall median {statistics.median(walls):.1f} s"
              f" max {max(walls):.1f} s; failed {failed} of {attempted} ops")
        print(f"  {'metric':24s} {'median':>10s} {'spread':>8s} {'bound':>6s} {'derived':>8s}")
        for k, v in vals.items():
            if len(v) < 2:
                continue
            s = spread(v)
            flag = "" if k == "setup_s" or k not in bounds or s <= bounds[k] / 3 else "  > bound/3"
            print(f"  {k:24s} {statistics.median(v):10.4f} {s:8.3f} "
                  f"{bounds.get(k, float('nan')):6.2f} {bound_for(k, s):8.2f}{flag}")
        print(flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Runs the benchmark on one or more workloads over several seeds and
prints, for each end-to-end metric, the median and the quartile spread
((Q3 - Q1) / median) against a third of the metric's bound.

    python3 perfbench/spread.py --workloads lake_write --seeds 5
    python3 perfbench/spread.py --seeds 10 --first-seed 100

Run from the root of a graft checkout, like run.py.
"""

import argparse
import json
import os
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for wl in args.workloads:
        values = {k: [] for k in bounds}
        walls = []
        for seed in range(args.first_seed, args.first_seed + args.seeds):
            t0 = time.time()
            out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                                  "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                                  "--trace", "0"], capture_output=True, text=True)
            walls.append(time.time() - t0)
            if out.returncode != 0:
                print(f"{wl} seed {seed}: exit {out.returncode}: {out.stderr.strip()[-300:]}")
                continue
            res = json.loads(out.stdout.strip().splitlines()[-1])
            print(f"{wl} seed {seed} ({walls[-1]:.0f} s): correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']} " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
            for k, v in res["metrics"].items():
                values[k].append(v["value"])
        print(f"{wl}: wall median {stats.median(walls):.1f} s, max {max(walls):.1f} s")
        for k, xs in values.items():
            if len(xs) >= 2:
                sp = stats.quartile_spread(xs)
                flag = "ok" if sp < bounds[k] / 3 else ("within bound" if sp < bounds[k] else "TOO WIDE")
                print(f"  {k:18s} median {stats.median(xs):12.4f} spread {sp:.4f} "
                      f"(bound {bounds[k]}, third {bounds[k] / 3:.4f}) {flag}")


if __name__ == "__main__":
    main()

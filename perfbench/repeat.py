#!/usr/bin/env python3
"""Run the benchmark repeatedly and keep each run's output.

    python3 perfbench/repeat.py OUT_DIR --workloads relay_burst,train_pipelines \
        --seeds 1-10 [--trace 0] [--seconds 8]

Run from the repository root. Writes OUT_DIR/<workload>-<seed>.out (the
whole stdout, last line the JSON result) for perfbench/compare.py.
Workloads alternate within each seed, so slow drift of the machine
spreads over all of them.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    p = argparse.ArgumentParser()
    p.add_argument("out")
    p.add_argument("--workloads", default="relay_burst,relay_steady,train_pipelines")
    p.add_argument("--seeds", default="1-10", help="a-b range or comma list")
    p.add_argument("--trace", default="0")
    p.add_argument("--seconds", default=None)
    p.add_argument("--keep", action="store_true", help="pass --keep to run.py")
    a = p.parse_args()
    if "-" in a.seeds:
        lo, hi = a.seeds.split("-")
        seeds = range(int(lo), int(hi) + 1)
    else:
        seeds = [int(s) for s in a.seeds.split(",")]
    if a.seconds is None:
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            a.seconds = str(json.load(f)["run_seconds"])
    os.makedirs(a.out, exist_ok=True)
    for seed in seeds:
        for w in a.workloads.split(","):
            t0 = time.time()
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", a.seconds,
                                "--trace", a.trace] + (["--keep"] if a.keep else []),
                               capture_output=True, text=True)
            with open(os.path.join(a.out, "%s-%d.out" % (w, seed)), "w") as f:
                f.write(r.stdout)
            print("%s seed %d: rc=%d %.1f s" % (w, seed, r.returncode, time.time() - t0),
                  flush=True)
            if r.returncode != 0:
                print(r.stderr[-2000:], file=sys.stderr)


if __name__ == "__main__":
    main()

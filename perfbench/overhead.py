#!/usr/bin/env python3
"""Tracing overhead: the end-to-end metrics of traced runs against untraced
runs of the same seeds, as (traced - untraced) / untraced of the medians.

    python3 perfbench/overhead.py --workload feeds --seeds 1,2,3 --seconds 8

Run from the repository root. A traced run keeps its own end-to-end values
in .bench_build/trace/<workload>-<seed>-t1-c<cpus>.e2e.json (run.py writes
it); the untraced values are read from the runs' result lines.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys


def run(workload, seed, seconds, trace, cpus):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    if cpus:
        cmd += ["--cpus", str(cpus)]
    out = subprocess.run(cmd, capture_output=True, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1,2,3")
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--cpus", type=int, default=None)
    a = ap.parse_args()
    cpus = a.cpus or os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()
    untraced, traced = {}, {}
    for seed in (int(s) for s in a.seeds.split(",")):
        for k, v in run(a.workload, seed, a.seconds, 0, a.cpus)["metrics"].items():
            untraced.setdefault(k, []).append(v["value"])
        run(a.workload, seed, a.seconds, 1, a.cpus)
        path = os.path.join(".bench_build", "trace",
                            f"{a.workload}-{seed}-t1-c{cpus}.e2e.json")
        with open(path) as fh:
            values = json.load(fh)
        for k in untraced:
            traced.setdefault(k, []).append(values[k])
    print(f"{'metric':22s} {'untraced':>12s} {'traced':>12s} {'overhead':>9s}")
    for k in untraced:
        u, t = statistics.median(untraced[k]), statistics.median(traced[k])
        print(f"{k:22s} {u:12.3f} {t:12.3f} {(t - u) / u:+9.1%}")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Runs one workload over several seeds and prints each end-to-end metric's
median and quartile spread (Q3 - Q1, as a share of the median), the way
the benchmark's steadiness is judged.

    python3 benchmark/spread.py --workload geo_scan --seeds 1-10 [--seconds 10]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-5")
    ap.add_argument("--seconds", default=None)
    a = ap.parse_args()
    lo, _, hi = a.seeds.partition("-")
    seeds = range(int(lo), int(hi or lo) + 1)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = a.seconds or str(spec["run_seconds"])
    values = {}
    for s in seeds:
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(s), "--seconds", seconds, "--trace", "0"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, cwd=ROOT)
        r = json.loads(p.stdout.strip().splitlines()[-1])
        print(f"seed {s}: {time.time() - t0:.0f}s exit {p.returncode} correct {r['correct']} failed {r['failed']}/"
              f"{r['attempted']} " + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
              flush=True)
        for k, v in r["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for m in spec["end_to_end"]:
        v = values.get(m["name"], [])
        if len(v) < 2:
            continue
        q1, med, q3 = statistics.quantiles(v, n=4)
        print(f"{m['name']:>16}: median {statistics.median(v):.6g} {m['unit']}  "
              f"spread {(q3 - q1) / statistics.median(v):.3f}  bound {m['bound']}")


if __name__ == "__main__":
    main()

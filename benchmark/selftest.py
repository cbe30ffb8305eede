#!/usr/bin/env python3
"""The benchmark's own tests.

    python3 benchmark/selftest.py

1. Runs every workload end to end at the small scale, untraced and traced,
   with all its checks, and requires exit 0, "correct": true, exactly the
   known share of failed operations (KNOWN_FAILED) and exactly the metrics
   BENCHMARK.json names (end-to-end ones above 0).
2. Runs graftbench.SelfTest, which feeds every check a correct answer and
   corrupted ones (a coordinate moved, a row missing, a pair's area
   changed, a line key dropped, an orphaned staging dir, ...) and requires
   each check to accept the first and reject the others.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402

# Share of failed operations (failed, out of attempted) that a correct run
# shows: one operation of the ten in each geo_scan pass, ST_GeometryType
# over a union of GeoArrow-native class files, fails on every pass because
# GeometryTypeFoldRule folds the union to its first child's class.
KNOWN_FAILED = {"geo_scan": (1, 10)}


def main():
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bad = []
    for w in run.WORKLOADS:
        for trace, names in (("0", spec["end_to_end"]), ("1", spec["per_layer"])):
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", "3", "--seconds", "2", "--trace", trace, "--scale", "small"],
                               stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                               cwd=build.ROOT)
            try:
                r = json.loads(p.stdout.strip().splitlines()[-1])
            except (IndexError, ValueError):
                r = None
            want = {m["name"] for m in names}
            why = []
            if p.returncode != 0:
                why.append(f"exit {p.returncode}")
            if r is None:
                why.append("no result line")
            else:
                num, den = KNOWN_FAILED.get(w, (0, 1))
                if r["correct"] is not True or r["failed"] * den != r["attempted"] * num \
                        or r["attempted"] < 1:
                    why.append(f"correct={r['correct']} failed={r['failed']} attempted={r['attempted']}")
                if set(r["metrics"]) != want:
                    why.append(f"metrics differ: {sorted(set(r['metrics']) ^ want)}")
                if trace == "0":
                    why += [f"{k} is {v['value']}" for k, v in r["metrics"].items() if not v["value"] > 0]
            print(f"{'ok  ' if not why else 'FAIL'} {w} trace={trace} {'; '.join(why)}", flush=True)
            if why:
                bad.append(w)
                sys.stderr.write(p.stderr[-4000:])
    work = os.path.join(build.OUT, "selftest")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    p = run.jvm(build.build(), "1g", os.path.join(work, "tmp"), "graftbench.SelfTest", [work], 170)
    print(p.stdout, end="")
    shutil.rmtree(work, ignore_errors=True)
    if p.returncode != 0:
        bad.append("checks")
    print("selftest: PASS" if not bad else f"selftest: FAIL {bad}")
    sys.exit(0 if not bad else 1)


if __name__ == "__main__":
    main()

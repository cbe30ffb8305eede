#!/usr/bin/env python3
"""Runs one workload of the benchmark in one JVM and prints its result.

    python3 benchmark/run.py --workload geo_scan --seed 1 --seconds 10 --trace 0

From the repository root. Builds the program and the benchmark from
source when they changed (benchmark/build.py), generates the workload's
inputs for the seed (and once its seed-independent warm-up inputs) in a
separate JVM unless they are cached, then runs
the measured JVM. The last line of standard output is one JSON object:
correct, attempted, failed and the metrics (end-to-end ones with
--trace 0, per-layer ones with --trace 1). Exit code 0 only when every
check passed.

Everything it writes is under .bench_build/ at the repository root.
"""
import argparse
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("geo_scan", "spatial_join", "stream_dedup")
# Run time budget of one invocation, build excluded.
BUDGET_S = 170
# Timed inputs of at most this many seeds stay cached per workload.
CACHED_SEEDS = 12

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm(classpath, heap, tmp, main, args, timeout):
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    log4j = os.path.join(build.ROOT, "benchmark", "log4j2.properties")
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseG1GC",
            "-XX:-UseDynamicNumberOfCompilerThreads",
            f"-Djava.io.tmpdir={tmp}", f"-Dlog4j2.configurationFile={log4j}",
            "-Dspark.ui.enabled=false"] + opens + ["-cp", classpath, main] + args)
    return subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=timeout,
                          cwd=build.ROOT)


def generate(classpath, d, gen_args, deadline):
    """Writes one input directory with graftbench.Gen unless it is there."""
    if os.path.isfile(os.path.join(d, "_DONE")):
        os.utime(d)
        return d
    shutil.rmtree(d, ignore_errors=True)
    tmp = os.path.join(build.OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    p = jvm(classpath, "1g", tmp, "graftbench.Gen", gen_args + [d], deadline - time.time())
    sys.stderr.write(p.stdout)
    if p.returncode != 0:
        raise SystemExit(f"run: input generation failed ({p.returncode})")
    return d


def inputs_for(classpath, workload, seed, scale, seconds, deadline):
    """The workload's timed inputs for the seed and its warm-up inputs,
    which are the same for every seed; returns both directories."""
    root = os.path.join(build.OUT, "inputs")
    os.makedirs(root, exist_ok=True)
    # keyed by the build stamp too: a changed generator never reuses old inputs
    with open(os.path.join(build.OUT, "bench.stamp")) as fh:
        version = fh.read()[:12]
    warm = generate(classpath, os.path.join(root, f"{workload}-{scale}-warm-{version}"),
                    [workload, "warm", scale], deadline)
    # stream_dedup writes as many timed slices as --seconds can use
    span = f"-{seconds:g}s" if workload == "stream_dedup" else ""
    timed = generate(classpath, os.path.join(root, f"{workload}-{scale}-seed{seed}{span}-{version}"),
                     [workload, "timed", str(seed), scale, str(seconds)], deadline)
    mine = sorted((os.path.join(root, n) for n in os.listdir(root)
                   if n.startswith(workload + "-") and "-warm-" not in n), key=os.path.getmtime)
    stale = [os.path.join(root, n) for n in os.listdir(root)
             if "-warm-" in n and n.startswith(workload + "-") and os.path.join(root, n) != warm]
    for old in mine[:-CACHED_SEEDS] + stale:
        shutil.rmtree(old, ignore_errors=True)
    return timed, warm


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--scale", default="full", choices=("full", "small"))
    a = ap.parse_args()

    classpath = build.build()
    deadline = time.time() + BUDGET_S
    inputs, warm = inputs_for(classpath, a.workload, a.seed, a.scale, a.seconds, deadline)
    work = os.path.join(build.OUT, "runs", f"{a.workload}-seed{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        p = jvm(classpath, "2g", os.path.join(work, "tmp"), "graftbench.Main",
                ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--trace", a.trace, "--scale", a.scale, "--inputs", inputs, "--warm-inputs", warm,
                 "--work", os.path.join(work, "work"),
                 "--traces", os.path.join(build.OUT, "traces")],
                deadline - time.time())
    except subprocess.TimeoutExpired:
        raise SystemExit("run: the measured JVM ran out of time")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = p.stdout.rstrip("\n").splitlines()
    result = lines[-1] if lines and lines[-1].startswith("{") else None
    for ln in lines[:-1] if result else lines:
        print(ln)
    if result is None:
        raise SystemExit(f"run: no result line (exit {p.returncode})")
    print(result, flush=True)
    sys.exit(p.returncode)


if __name__ == "__main__":
    main()

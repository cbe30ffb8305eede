#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the program's sources (src/main/scala of the repository root) and
then the benchmark's own sources (benchmark/src/main/scala) with the Scala
2.13 compiler that ships in Spark's jars directory, straight to class
directories under .bench_build/. Nothing is read from or written to a
dependency cache: the program needs only the Spark jars, as in the root
build.sbt.

    python3 benchmark/build.py        # from the repository root

A stamp of every source file's path and content hash skips a rebuild
when nothing changed.
"""
import hashlib
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "benchmark", "src", "main", "scala")


def spark_home():
    """$SPARK_HOME, else the first Spark installation on PATH that ships
    the Scala 2.13.17 compiler in its jars directory."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit")))
        home = os.path.dirname(home)
        if os.path.isfile(os.path.join(home, "jars", "scala-compiler-2.13.17.jar")):
            return home
    raise SystemExit("build: set SPARK_HOME to a Spark 4.1 installation")


SPARK_JARS = os.path.join(spark_home(), "jars")
PROGRAM_CLASSES = os.path.join(OUT, "classes", "program")
BENCH_CLASSES = os.path.join(OUT, "classes", "bench")


def sources(d):
    out = []
    for dirpath, _, files in os.walk(d):
        out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def compiler_cp():
    jars = [os.path.join(SPARK_JARS, f"{n}-2.13.17.jar")
            for n in ("scala-compiler", "scala-library", "scala-reflect")]
    missing = [j for j in jars if not os.path.isfile(j)]
    if missing:
        raise SystemExit(f"build: Scala 2.13.17 compiler jars not found: {missing}")
    return os.pathsep.join(jars)


def scalac(files, out_dir, classpath):
    os.makedirs(out_dir, exist_ok=True)
    argfile = out_dir + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(f'"{f}"' for f in files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler_cp(),
           "scala.tools.nsc.Main", "-nowarn", "-Ybackend-parallelism", "2",
           "-d", out_dir, "-classpath", classpath, "@" + argfile]
    if subprocess.run(cmd).returncode != 0:
        raise SystemExit(f"build: scalac failed for {out_dir}")


def step(name, src_files, out_dir, classpath, depends=""):
    if not src_files:
        raise SystemExit(f"build: no Scala sources for {name}")
    stamp = os.path.join(OUT, f"{name}.stamp")
    want = digest(src_files) + depends
    if os.path.isfile(stamp) and open(stamp).read() == want:
        return want
    print(f"build: compiling {name} ({len(src_files)} files)", file=sys.stderr, flush=True)
    if os.path.isdir(out_dir):
        subprocess.run(["rm", "-rf", out_dir], check=True)
    scalac(src_files, out_dir, classpath)
    with open(stamp, "w") as fh:
        fh.write(want)
    return want


def build():
    """Compile what changed; return the runtime classpath."""
    spark_cp = os.path.join(SPARK_JARS, "*")
    if not os.path.isdir(PROGRAM_SRC):
        raise SystemExit(f"build: program sources missing at {PROGRAM_SRC}")
    prog = step("program", sources(PROGRAM_SRC), PROGRAM_CLASSES, spark_cp)
    step("bench", sources(BENCH_SRC), BENCH_CLASSES,
         os.pathsep.join([PROGRAM_CLASSES, spark_cp]), depends=prog)
    return os.pathsep.join([BENCH_CLASSES, PROGRAM_CLASSES, spark_cp])


if __name__ == "__main__":
    print(build())

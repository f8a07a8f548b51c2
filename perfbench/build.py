#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (``src/main/scala``) and then the benchmark
harness (``perfbench/src``) with the Scala compiler that ships in the
Spark distribution, into ``.bench_build/`` at the checkout root. A stamp
of the source hashes skips a rebuild when nothing changed.

    python3 perfbench/build.py          # build (or confirm up to date)
"""
import glob
import hashlib
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_JARS = os.environ.get("SPARK_JARS_DIR", "/opt/spark/jars")
OUT = os.path.join(ROOT, ".bench_build")
APP_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")

APP_CLASSES = os.path.join(OUT, "app-classes")
BENCH_CLASSES = os.path.join(OUT, "bench-classes")


def spark_classpath():
    jars = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    if not jars:
        raise SystemExit(f"build: no jars under {SPARK_JARS}")
    return jars


def runtime_classpath():
    return os.pathsep.join([BENCH_CLASSES, APP_CLASSES] + spark_classpath())


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _compile(srcs, out, extra_cp, label):
    stamp_file = out + ".stamp"
    stamp = _stamp(srcs) + ":" + ":".join(extra_cp)
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return False
    if not srcs:
        raise SystemExit(f"build: no {label} sources")
    subprocess.run(["rm", "-rf", out], check=True)
    os.makedirs(out)
    compiler = [os.path.join(SPARK_JARS, j) for j in (
        "scala-compiler-2.13.17.jar", "scala-library-2.13.17.jar",
        "scala-reflect-2.13.17.jar")]
    cp = os.pathsep.join(extra_cp + spark_classpath())
    argfile = out + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-Ybackend-parallelism", "4",
           "-classpath", cp, "-d", out, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"build: {label} compilation failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return True


def build():
    """Compile the program, then the harness against it."""
    os.makedirs(OUT, exist_ok=True)
    app = _compile(_sources(APP_SRC), APP_CLASSES, [], "program")
    if app and os.path.exists(BENCH_CLASSES + ".stamp"):
        os.remove(BENCH_CLASSES + ".stamp")
    _compile(_sources(BENCH_SRC), BENCH_CLASSES, [APP_CLASSES], "harness")


if __name__ == "__main__":
    build()
    print(runtime_classpath().split(os.pathsep)[0])

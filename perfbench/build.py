#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and
the harness (perfbench/src) with the Scala compiler that ships in
Spark's jar directory, into $CARGO_TARGET_DIR/perfbench (default
.bench_build/perfbench) under the checkout.

A content hash of every source file skips the compile when nothing
changed.

Usage: python3 perfbench/build.py   (from the root of a checkout)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """The jars of the Spark installation at $SPARK_HOME."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise SystemExit("build: set SPARK_HOME to the Spark installation")
    return os.path.join(home, "jars")


def build_dir():
    base = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    if not os.path.isabs(base):
        base = os.path.join(ROOT, base)
    return os.path.join(base, "perfbench")


def sources():
    engine = glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True)
    harness = glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
    if not engine:
        raise SystemExit("build: no engine sources under src/main/scala")
    return sorted(engine) + sorted(harness)


def stamp(srcs):
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update(" ".join(sorted(os.listdir(spark_jars()))).encode())
    return h.hexdigest()


def classpath():
    """Compiled classes first, then Spark's jars."""
    return os.path.join(build_dir(), "classes") + os.pathsep + os.path.join(spark_jars(), "*")


def build(log=sys.stderr):
    srcs = sources()
    out = build_dir()
    want = stamp(srcs)
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return
    tmp = os.path.join(out, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(out, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(["-nowarn", "-d", tmp] + srcs) + "\n")
    print(f"build: compiling {len(srcs)} files", file=log, flush=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "@" + args_file]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        print(p.stdout[-4000:], file=log)
        raise SystemExit(f"build: scalac failed ({p.returncode})")
    shutil.rmtree(os.path.join(out, "classes"), ignore_errors=True)
    os.rename(tmp, os.path.join(out, "classes"))
    with open(stamp_file, "w") as f:
        f.write(want)


if __name__ == "__main__":
    build()

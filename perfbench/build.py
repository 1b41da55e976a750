#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (`src/main/scala` of
the repository) and the benchmark (`perfbench/scala`) with the Scala
compiler that ships in the Spark distribution.

Two class directories under `.bench_build/perfbench/`, each rebuilt only
when the sources it depends on change (a digest of their paths and
contents is stored next to it):

    main/     the program
    bench/    the benchmark, compiled against main/

Usage: python3 perfbench/build.py      (prints the classpath)

Spark is found through SPARK_HOME, else through `spark-submit` on PATH.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "scala")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise SystemExit("perfbench: no Spark distribution (set SPARK_HOME)")
    return jars


def sources(root):
    found = []
    for d, _, files in os.walk(root):
        found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_into(name, srcs, classpath, stamp_extra=""):
    dest = os.path.join(OUT, name)
    stamp = os.path.join(OUT, name + ".digest")
    want = digest(srcs, stamp_extra)
    if os.path.isdir(dest) and os.path.exists(stamp) and open(stamp).read() == want:
        return dest
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    t0 = time.time()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", dest, "-classpath", classpath] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        shutil.rmtree(dest, ignore_errors=True)
        raise SystemExit(f"perfbench: compiling {name} failed")
    with open(stamp, "w") as fh:
        fh.write(want)
    sys.stderr.write(f"perfbench: compiled {name} ({len(srcs)} files) in {time.time() - t0:.1f}s\n")
    return dest


def build():
    """Compile what changed; return the runtime classpath."""
    main_srcs = sources(MAIN_SRC)
    bench_srcs = sources(BENCH_SRC)
    if not main_srcs or not bench_srcs:
        raise SystemExit("perfbench: program or benchmark sources missing")
    jars = os.path.join(spark_jars(), "*")
    os.makedirs(OUT, exist_ok=True)
    main = compile_into("main", main_srcs, jars)
    # the benchmark is rebuilt whenever the program is
    bench = compile_into("bench", bench_srcs, main + os.pathsep + jars,
                         stamp_extra=open(os.path.join(OUT, "main.digest")).read())
    return os.pathsep.join([bench, main, jars])


if __name__ == "__main__":
    print(build())

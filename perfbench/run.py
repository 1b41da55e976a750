#!/usr/bin/env python3
"""KG-construction benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program and the benchmark from
source (perfbench/build.py), stages the seeded inputs under
`.bench_build/perfbench/`, runs one JVM at local[nproc] as a closed loop
(one build at a time), checks the outputs (for query_suite also against
the queries' DuckDB oracles, perfbench/oracle.py), and prints one JSON line
{"correct", "attempted", "failed", "metrics"} as the last line of standard
output. Exits non-zero when a check fails or no build succeeded.
Workloads and metrics: perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("corpus_open", "import_neo4j", "query_suite")
# free disk needed before staging; a run stages well under 1 GB
MIN_FREE_BYTES = 4 << 30
HEAP = "3g"
TIME_LIMIT_S = 170

# Spark on JDK 17 outside spark-submit needs these (same list as build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    # a terminated run still stops its JVM and deletes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classpath = build.build()
    # per-seed digests are kept per build of the benchmark and program
    with open(os.path.join(build.OUT, "bench.digest")) as fh:
        state = os.path.join(build.OUT, "state-" + fh.read()[:16])
    started = time.time()  # the time limit applies to the run, not the build
    if shutil.disk_usage(build.ROOT).free < MIN_FREE_BYTES:
        raise SystemExit("perfbench: less than 4 GiB free disk, not staging")
    work = os.path.join(build.OUT, f"work-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-Xss8m",
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.log.level=WARN",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", os.path.join(work, "data"),
        "--state", state,
    ]
    proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE, text=True)
    try:
        try:
            out, _ = proc.communicate(timeout=max(10, TIME_LIMIT_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            raise SystemExit("perfbench: run exceeded its time limit")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        lines = [l for l in out.splitlines() if l.startswith("{")]
        if not lines:
            raise SystemExit(f"perfbench: no result (exit {proc.returncode})")
        result = json.loads(lines[-1])
        code = proc.returncode
        # query_suite leaves its query rows and oracle SQL for this check
        oracle_dir = os.path.join(work, "data", "oracle")
        if code == 0 and os.path.isdir(oracle_dir):
            t0 = time.time()
            failures = oracle.check(oracle_dir)
            sys.stderr.write(f"perfbench: oracle comparison took {time.time() - t0:.1f}s\n")
            for f in failures:
                sys.stderr.write(f"perfbench: CHECK FAILED: {f}\n")
            if failures:
                result["correct"] = False
                code = 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    sys.exit(code)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as one JSON line.

    python3 graftbench/run.py --workload pipeline --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program and the
harness from source (sbt, classes under .bench_build/); later runs reuse
the build while the sources are unchanged. The JVM is launched directly on
the compiled classpath with a fixed heap, the Spark UI off and logging at
WARN. The last line of standard output is the result:

    {"correct": true, "attempted": 120, "failed": 0, "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer split
(spans are also written to .bench_build/trace/). See graftbench/README.md.
"""
import argparse
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
SPARK_JARS = "/opt/spark/jars"
WORKLOADS = ("pipeline", "inference")
HEAP = "3g"
JAVA_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True))
    return files + [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]


def build():
    """Compile the program and the harness unless the build is current."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("the program's sources (src/main/scala/graft) are not in this checkout")
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp_path = os.path.join(BUILD, "stamp")
    stamp = h.hexdigest()
    if os.path.isfile(stamp_path) and open(stamp_path).read() == stamp:
        return
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        try:
            rc = subprocess.run(["sbt", "-batch", "compile"], cwd=BENCH, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0:
        fail(f"build failed (rc={rc}); see {os.path.join(BUILD, 'build.log')}")
    with open(stamp_path, "w") as fh:
        fh.write(stamp)


def main():
    # a terminated launcher still stops its JVM (the finally blocks below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record", metavar="VERIFY_DIR",
                   help="rewrite expected/<workload>.tsv from an oracle-checked graft.Verify output directory")
    a = p.parse_args()

    data = os.path.join(BENCH, "data")
    expected = os.path.join(BENCH, "expected", f"{a.workload}.tsv")
    if not a.record and not os.path.isfile(expected):
        fail(f"expected digests missing: {expected}")
    build()

    work = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = os.path.join(work, "result.json")
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
            "-cp", f"{CLASSES}:{SPARK_JARS}/*", "graft.bench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--work", work, "--out", out,
            "--spans", os.path.join(BUILD, "trace", f"{a.workload}-seed{a.seed}.jsonl"),
            "--expected", expected, "--launch-ms", str(int(time.time() * 1000))]
    if a.record:
        cmd += ["--record", os.path.abspath(a.record)]
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stdin=subprocess.DEVNULL)
    try:
        try:
            rc = proc.wait(timeout=JAVA_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = -1
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        if a.record:
            sys.exit(rc)
        if rc != 0 or not os.path.isfile(out):
            fail(f"benchmark JVM exited with rc={rc}")
        with open(out) as fh:
            print(fh.read().strip(), flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

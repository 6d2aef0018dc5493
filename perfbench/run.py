#!/usr/bin/env python3
"""Run one benchmark workload; the last stdout line is the JSON result.

    python3 perfbench/run.py --workload extract_batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program and the
runner from source with sbt (perfbench/build.sbt) and reuses the build
while no source file changes. Scratch data goes to perfbench/.work/<pid>
and is removed at exit; traced runs write perfbench/out/trace-*.json.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
WORKLOADS = ("extract_batch", "dom_sql", "curate_train")

# Spark 4 on JDK 17 outside spark-submit needs these (the list in the
# repository's build.sbt, from Spark's JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# A 3 GiB heap keeps a run small next to other work on the host;
# ParallelGC as in the repository's build.sbt. The heap is committed
# whole, with a fixed 1 GiB young generation (no adaptive resizing), so
# the collections in a call do not depend on how the collector sized the
# heap earlier in the run (a heap left small after a full collection
# turns every later collection into a full one). No perf-data file in
# /tmp, so a run writes only inside its checkout.
JVM_FLAGS = ["-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
             "-XX:-UsePerfData"]


def sources_digest():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (PROGRAM_SRC, os.path.join(HERE, "src", "main", "scala")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    digest = sources_digest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    print("perfbench: building with sbt", file=sys.stderr, flush=True)
    r = subprocess.run(["sbt", "-batch", "compile"], cwd=HERE,
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit("perfbench: build failed")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def main():
    p = argparse.ArgumentParser(description=__doc__,
                                formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    p.add_argument("--turns", type=int,
                   help="input turns per call of extract_batch or dom_sql "
                        "(default 40000), to compare layer shares at other batch sizes")
    a = p.parse_args()
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        sys.exit(f"perfbench: no program sources at {os.path.relpath(PROGRAM_SRC)}; "
                 "run from the root of a full checkout")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        sys.exit("perfbench: SPARK_HOME must point at a Spark installation")
    build()

    work = os.path.join(HERE, ".work", str(os.getpid()))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java"] + JVM_FLAGS
           + [f for o in ADD_OPENS for f in ("--add-opens", o + "=ALL-UNNAMED")]
           + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
              "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
              "-cp", CLASSES + os.pathsep + os.path.join(spark_home, "jars", "*"),
              "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--work", work, "--out", os.path.join(HERE, "out")]
           + (["--turns", str(a.turns)] if a.turns else []))
    child = subprocess.Popen(cmd, cwd=ROOT)

    def stop(signum, _frame):
        child.terminate()
        try:
            child.wait(timeout=20)
        except subprocess.TimeoutExpired:
            child.kill()
            child.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    code = child.wait()
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Build and run the repository benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload pagerank-lakehouse --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest [--tables DIR]

The engine sources (src/main/scala) and the benchmark sources
(perfbench/src) are compiled together with the Scala compiler that ships in
Spark's jars directory ($SPARK_HOME/jars, default /opt/spark/jars) into
.bench_build/; the build is redone only when a source file changes. The run
itself is one JVM (perfbench.Main), whose last stdout line is the JSON
result. Everything the run writes goes under .bench_work/.
"""
import argparse
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "stamp")
HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not any("scala-compiler" in j for j in jars):
        fail(f"no Spark jars with a Scala compiler under {home}/jars")
    return jars


def sources():
    engine = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not engine:
        fail("no engine sources under src/main/scala: run from the repository root")
    return engine + sorted(glob.glob("perfbench/src/**/*.scala", recursive=True))


def build(jars):
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    cp = os.pathsep.join(jars)
    print(f"perfbench: compiling {len(files)} files", file=sys.stderr)
    r = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
         "-classpath", cp, "-d", CLASSES, "-nowarn", *files],
        stdout=sys.stderr)
    if r.returncode != 0:
        fail("compilation failed")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def java(main, args, jars):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = ["java", f"-Xmx{HEAP}", *opens, "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
           "-Dlog4j2.configurationFile=" + os.path.join(ROOT, "perfbench", "log4j2.properties"),
           "-cp", os.pathsep.join([CLASSES, *jars]), main, *args]
    return subprocess.run(cmd).returncode


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--tables", help="TPC-H parquet directory for --selftest")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    jars = spark_jars()
    build(jars)
    # leftovers of an interrupted run; traces of earlier runs are kept
    for d in ["spark-local", "tmp"] + [os.path.basename(p) for p in
              glob.glob(os.path.join(WORK, "durable-*")) + glob.glob(os.path.join(WORK, "tpch-*"))]:
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    os.makedirs(WORK, exist_ok=True)
    if a.selftest:
        args = ["--work", WORK] + (["--tables", a.tables] if a.tables else [])
        return java("perfbench.SelfTest", args, jars)
    return java("perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", WORK], jars)


if __name__ == "__main__":
    sys.exit(main())

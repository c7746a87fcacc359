#!/usr/bin/env python3
"""Run one graft benchmark workload in one JVM.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload viewer|ingest|curation --seed N \
        --seconds S --trace 0|1

Builds the engine (src/main/scala) and the benchmark (perfbench/src)
from source with the Scala compiler that ships in Spark's jars
directory ($SPARK_HOME/jars), caching the classes under
$CARGO_TARGET_DIR (default .bench_build) keyed by a hash of every
source file. Then runs
graftbench.Main, which prints one JSON summary as its last stdout line
and writes the full record to .bench_build/records/. Exits non-zero
when the build fails, an output check fails, or the run overruns.
"""
import argparse
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
RUN_TIMEOUT_S = 170

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """$SPARK_HOME/jars, else the jars beside the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        fail("no Spark jars directory: set SPARK_HOME")
    return jars


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True))
    if not engine:
        fail("engine sources (src/main/scala) not found: nothing to benchmark")
    if not bench:
        fail("benchmark sources (perfbench/src) not found")
    return engine + bench


def build(build_dir, jars):
    """Compile engine + benchmark into build_dir/classes unless the stamp matches."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    compiler = sorted(glob.glob(os.path.join(jars, "scala-compiler-*.jar")))
    library = sorted(glob.glob(os.path.join(jars, "scala-library-*.jar")))
    reflect = sorted(glob.glob(os.path.join(jars, "scala-reflect-*.jar")))
    if not (compiler and library and reflect):
        fail(f"Scala compiler jars not found in {jars}")
    h.update(os.path.basename(compiler[0]).encode())
    digest = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(build_dir, "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read().strip() == digest:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    if os.path.exists(stamp):
        os.remove(stamp)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = [
        "java", "-Xss8m", "-Xmx2g",
        "-cp", os.pathsep.join([compiler[0], library[0], reflect[0]]),
        "scala.tools.nsc.Main", "-d", classes,
        "-classpath", os.path.join(jars, "*"),
        "-Ybackend-parallelism", str(min(4, os.cpu_count() or 1)),
        "-nowarn", "@" + argfile,
    ]
    print(f"[perfbench] compiling {len(srcs)} sources ...", file=sys.stderr)
    if subprocess.run(cmd, cwd=ROOT).returncode != 0:
        fail("build failed", 3)
    with open(stamp, "w") as f:
        f.write(digest + "\n")
    return classes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["viewer", "ingest", "curation"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    args = ap.parse_args()

    build_dir = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    if not os.path.isabs(build_dir):
        build_dir = os.path.join(ROOT, build_dir)
    os.makedirs(build_dir, exist_ok=True)
    jars = spark_jars()
    classes = build(build_dir, jars)

    work = os.path.join(build_dir, "work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    record = os.path.join(build_dir, "records",
                          f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    cmd = ["java", "-Xmx3g", "-Xss4m"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={tmp}",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
        "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
        "graftbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", args.trace,
        "--out", record, "--work", work,
    ]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0:
        for ln in lines:
            print(ln, file=sys.stderr)
        fail(f"workload exited with code {proc.returncode}", proc.returncode)
    if not lines or not lines[-1].startswith("{"):
        fail("workload printed no summary", 5)
    print(lines[-1])


if __name__ == "__main__":
    main()

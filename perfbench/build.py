#!/usr/bin/env python3
"""Build the benchmark: compile the program (src/main/scala) together with
the benchmark's own sources (perfbench/src) with the Scala compiler that
ships in Spark's jar directory, into .bench_build/classes.

    python3 perfbench/build.py

A build is skipped when the sources are unchanged since the last one.
Exits non-zero when the program's sources are missing.
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]


def spark_jars():
    """$SPARK_HOME/jars, else the directory the project's own build compiles
    against (build.sbt's `unmanagedBase`)."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as fh:
            candidates += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    for jars in candidates:
        if glob.glob(os.path.join(jars, "spark-sql_*.jar")):
            return jars
    raise SystemExit(f"perfbench build: no Spark jars in {candidates}; set SPARK_HOME")


def sources():
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"perfbench build: source directory missing: {d}")
    files = sorted(glob.glob(os.path.join(SOURCE_DIRS[0], "**", "*.scala"), recursive=True) +
                   glob.glob(os.path.join(SOURCE_DIRS[1], "**", "*.scala"), recursive=True))
    if not any(f.startswith(SOURCE_DIRS[0]) for f in files):
        raise SystemExit("perfbench build: the program has no Scala sources")
    return files


def stamp(files, jars):
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile if needed; return (classes dir, Spark jars dir)."""
    jars = spark_jars()
    files = sources()
    want = stamp(files, jars)
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "stamp")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(CLASSES) and os.path.exists(stamp_file) and open(stamp_file).read() == want:
            return CLASSES, jars
        out = CLASSES + ".new"
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        cp = os.path.join(jars, "*")
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
               "scala.tools.nsc.Main", "-nowarn", "-classpath", cp, "-d", out] + files
        print(f"[perfbench] compiling {len(files)} sources", file=sys.stderr, flush=True)
        if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
            raise SystemExit("perfbench build: compilation failed")
        shutil.rmtree(CLASSES, ignore_errors=True)
        os.rename(out, CLASSES)
        with open(stamp_file, "w") as fh:
            fh.write(want)
    return CLASSES, jars


if __name__ == "__main__":
    build()

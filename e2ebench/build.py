#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the repository's main
Scala sources together with the benchmark's own sources (e2ebench/src) into
one class directory, with the Scala compiler and Spark jars of the Spark
installation: $SPARK_HOME/jars, or else the `unmanagedBase` jar directory
the repository's build.sbt names.

The output goes to .bench_build/classes-<digest> under the checkout, where
<digest> covers every compiled source, so a rebuilt tree never reuses stale
classes and an unchanged tree builds once.

Usage: python3 e2ebench/build.py        (prints the class directory)
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


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    m = os.path.exists(sbt) and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m:
        raise SystemExit("e2ebench: set SPARK_HOME (no unmanagedBase in build.sbt)")
    return m.group(1)


JVM_HOME_JARS = spark_jars()


def sources():
    """Every .scala file the benchmark runs: the program and the benchmark."""
    program = os.path.join(ROOT, "src", "main", "scala")
    bench = os.path.join(ROOT, "e2ebench", "src")
    if not os.path.isdir(program):
        raise SystemExit(f"e2ebench: no program sources at {program}")
    found = []
    for base in (program, bench):
        for dirpath, _, files in os.walk(base):
            found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def classpath():
    jars = glob.glob(os.path.join(JVM_HOME_JARS, "*.jar"))
    if not any("scala-compiler" in j for j in jars):
        raise SystemExit(f"e2ebench: no scala-compiler jar in {JVM_HOME_JARS}")
    return os.path.join(JVM_HOME_JARS, "*")


def build():
    srcs = sources()
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    out = os.path.join(BUILD, "classes-" + digest.hexdigest()[:16])
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(out):
            return out
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        args = os.path.join(BUILD, "sources.txt")
        with open(args, "w") as f:
            f.write("\n".join(srcs) + "\n")
        cp = classpath()
        cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-d", tmp, "-cp", cp, "@" + args]
        rc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode
        if rc != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise SystemExit(f"e2ebench: compile failed (exit {rc})")
        for old in glob.glob(os.path.join(BUILD, "classes-*")):
            if old != tmp:
                shutil.rmtree(old, ignore_errors=True)
        os.rename(tmp, out)
        return out


if __name__ == "__main__":
    print(build())

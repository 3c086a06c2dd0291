#!/usr/bin/env python3
"""End-to-end benchmark of the pipeline: builds the program and the
benchmark from source (e2ebench/build.py), then runs one workload in one JVM
and prints its result as the last stdout line.

Usage (from the repository root):
  python3 e2ebench/run.py --workload <analytic-suite|serve>
                          --seed <n> --seconds <s> --trace <0|1>
  python3 e2ebench/run.py --selftest
  python3 e2ebench/run.py --pin <outDir>   (re-derive pinned fingerprints)

All generated data, Spark scratch space and the trace file live under
.bench_build/ in the repository root.
"""
import argparse
import json
import os
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--pin")
    a = ap.parse_args()
    if not (a.selftest or a.pin or a.workload):
        ap.error("one of --workload, --selftest or --pin is required")

    classes = build.build()
    work = os.path.join(build.BUILD, "work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jvm = ["java", "-Xmx4g", "-Xss4m", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           "-Duser.timezone=UTC", "-Djava.io.tmpdir=" + tmp,
           "-Dspark.local.dir=" + os.path.join(tmp, "spark-local"),
           "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
           "-Dderby.system.home=" + os.path.join(work, "derby"),
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", p + "=ALL-UNNAMED"]
    jvm += ["-cp", classes + os.pathsep + build.classpath(), "e2ebench.Main",
            "--root", work, "--bench", os.path.join(build.ROOT, "e2ebench")]
    if a.selftest:
        jvm += ["--selftest"]
    elif a.pin:
        jvm += ["--pin", os.path.abspath(a.pin)]
    else:
        jvm += ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]

    # own process group, so a timeout stops the JVM and everything it started
    proc = subprocess.Popen(jvm, cwd=work, stdout=subprocess.PIPE, stderr=sys.stderr,
                            start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=None if a.pin else TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit("e2ebench: run exceeded %d s" % TIMEOUT_S)
    if proc.returncode != 0:
        sys.exit("e2ebench: benchmark JVM exited %d" % proc.returncode)
    if a.selftest or a.pin:
        return
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if not lines:
        sys.exit("e2ebench: no result line")
    json.loads(lines[-1])  # must parse
    print(lines[-1])


if __name__ == "__main__":
    main()

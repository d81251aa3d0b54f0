#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line.

    python3 lakebench/run.py --workload nightly --seed 1 --seconds 20 --trace 0

Builds the program with `build.py` if needed, then runs one JVM with
Spark as local[--cores]. Every run works in a fresh directory under
`.bench_build/work`, holding its fixtures, java.io.tmpdir, spark.local.dir
and warehouse, and removes it at the end. The JVM writes the result object
(printed last here) and a detail artifact kept under `.bench_build/out`.
Exits non-zero without a result if the build or the run fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("nightly", "lakehouse")
HEAP = "1536m"
TIMEOUT_S = 170

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=2, help="Spark runs as local[cores]")
    p.add_argument("--corrupt", type=int, choices=(0, 1), default=0,
                   help="self-test: damage the fixture so the checks must fail")
    a = p.parse_args()

    classes = build.ensure()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(build.BUILD, "work", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(build.BUILD, "out")
    result = os.path.join(work, "result.json")
    detail = os.path.join(out_dir, f"{tag}.json")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out_dir, exist_ok=True)
    opens = [x for o in JDK17_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")]
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:ReservedCodeCacheSize=256m",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", *opens,
           "-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
           "lakebench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--cores", str(a.cores), "--corrupt", str(a.corrupt),
           "--work", work, "--root", ROOT, "--out", result, "--detail", detail]
    # a terminated runner must not leave its JVM behind
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    started = time.monotonic()
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        try:
            code = proc.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
        if code != 0 or not os.path.exists(result):
            raise SystemExit(f"lakebench: run failed ({code})")
        with open(result) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"lakebench: JVM ran {time.monotonic() - started:.1f} s; detail in {os.path.relpath(detail, ROOT)}",
          file=sys.stderr)
    print(json.dumps(res))


if __name__ == "__main__":
    main()

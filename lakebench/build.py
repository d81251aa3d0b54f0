#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program's Scala sources (`src/main/scala` at the repository
root) together with the benchmark's own (`lakebench/src/main/scala`) with
the Scala compiler that ships in the Spark distribution's `jars/`
directory, into `.bench_build/classes-<hash of every source>`. A build
whose sources are unchanged is reused; nothing outside the checkout is
read or written except the Spark and JDK installations.

Usage: python3 lakebench/build.py          (prints the classes directory)
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"lakebench: no Scala compiler under {jars} (set SPARK_HOME)")
    return jars


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not prog:
        raise SystemExit("lakebench: no program sources under src/main/scala; run from a full checkout")
    bench = sorted(glob.glob(os.path.join(HERE, "src/main/scala/**/*.scala"), recursive=True))
    return prog + bench


def ensure():
    """Returns the classes directory, compiling it first if needed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(out, ".ok")):
            return out
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(BUILD, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        cp = os.path.join(jars, "*")
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-classpath", cp, "-d", tmp, "@" + argfile]
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise SystemExit(f"lakebench: compile failed ({r.returncode})")
        res = os.path.join(ROOT, "src/main/resources")
        if os.path.isdir(res):
            shutil.copytree(res, tmp, dirs_exist_ok=True)
        open(os.path.join(tmp, ".ok"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
        return out


if __name__ == "__main__":
    print(ensure())

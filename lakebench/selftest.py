#!/usr/bin/env python3
"""Self-test of the benchmark: a seconds-long smoke of every workload.

    python3 lakebench/selftest.py

For each workload in BENCHMARK.json it checks that
  * an untraced run prints every end-to-end metric, with its unit, and is correct;
  * a traced run prints every per-layer metric, with its unit, and is correct;
  * a run on a corrupted fixture reports correct=false with failed > 0;
and, once, that the benchmark exits non-zero without a result in a
directory holding only BENCHMARK.json and the benchmark's own files.
Takes about ten minutes; exits non-zero on the first failed check.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(spec, workload, trace, extra=(), cwd=ROOT):
    cmd = [*spec["command"], "--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", str(trace), *extra]
    r = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)
    lines = r.stdout.strip().splitlines()
    return r.returncode, (json.loads(lines[-1]) if r.returncode == 0 and lines else None), r.stderr


def expect(ok, what):
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        sys.exit(1)


def check_metrics(res, wanted, what):
    got = res["metrics"]
    for m in wanted:
        v = got.get(m["name"])
        expect(v is not None and v["unit"] == m["unit"] and isinstance(v["value"], (int, float)),
               f"{what}: {m['name']} printed in {m['unit']}")
    expect(set(got) == {m["name"] for m in wanted}, f"{what}: no metric beyond the declared ones")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        name = w["name"]
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, res, err = run(spec, name, trace)
            expect(res is not None, f"{name} trace={trace}: result printed (exit {code})" +
                   ("" if res else "\n" + err[-2000:]))
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                   f"{name} trace={trace}: correct, {res['attempted']} ops attempted")
            check_metrics(res, spec[key], f"{name} trace={trace}")
        code, res, _ = run(spec, name, 0, extra=("--corrupt", "1"))
        expect(res is not None and not res["correct"] and res["failed"] > 0,
               f"{name}: corrupted fixture trips the checks ({res and res['failed']} failed ops)")

    bare = os.path.join(ROOT, ".bench_build", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in spec["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    r = subprocess.run([*spec["command"], "--workload", spec["workloads"][0]["name"], "--seed", "1",
                        "--seconds", "1", "--trace", "0"], cwd=bare, capture_output=True, text=True, timeout=180)
    expect(r.returncode != 0 and not r.stdout.strip(), "without the program's sources: non-zero exit, no result")
    shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    main()

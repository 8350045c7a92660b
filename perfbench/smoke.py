#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at tiny sizes (about 4 minutes).

    python3 perfbench/smoke.py

Checks that
  1. an untraced run emits every end-to-end metric of BENCHMARK.json with
     its unit, and is correct with no failed operation;
  2. a traced run emits every per-layer metric with its unit;
  3. an injected failing read raises error_rate (failed > 0, not correct);
  4. a perturbed reference model fails the correctness check;
  5. a directory holding only BENCHMARK.json and the benchmark (no
     program) exits non-zero without printing a result.
Exits non-zero on the first check that does not hold.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(*extra, cwd=ROOT):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--seed", "7", "--seconds", "5",
           "--size", "tiny", *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            pass
    return p.returncode, result, p.stderr


def check(cond, what):
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        sys.exit(1)


def emitted(result, spec):
    got = result["metrics"]
    missing = [m["name"] for m in spec if m["name"] not in got]
    wrong_unit = [m["name"] for m in spec if m["name"] in got and got[m["name"]]["unit"] != m["unit"]]
    not_number = [k for k, v in got.items() if not isinstance(v.get("value"), (int, float))]
    return missing, wrong_unit, not_number


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)

    rc, res, err = run("--workload", "catchup", "--trace", "0")
    check(rc == 0 and res is not None, "untraced catchup run exits 0 with a result line")
    missing, wrong, nan = emitted(res, bench["end_to_end"])
    check(not missing and not wrong and not nan,
          f"every end-to-end metric emitted with its unit (missing {missing}, unit {wrong}, non-number {nan})")
    check(res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
          f"clean run is correct ({res['failed']}/{res['attempted']} failed)")

    rc, res, err = run("--workload", "reorg_serve", "--trace", "1")
    check(rc == 0 and res is not None, "traced reorg_serve run exits 0 with a result line")
    missing, wrong, nan = emitted(res, bench["per_layer"])
    check(not missing and not wrong and not nan,
          f"every per-layer metric emitted with its unit (missing {missing}, unit {wrong}, non-number {nan})")
    check(res["correct"], "traced run through the fork path is correct")

    rc, res, err = run("--workload", "catchup", "--trace", "0", "--inject-read-failure")
    check(rc == 0 and res is not None and res["failed"] > 0 and not res["correct"],
          f"an injected read failure raises error_rate ({res and res['failed']}/{res and res['attempted']})")

    rc, res, err = run("--workload", "catchup", "--trace", "0", "--perturb-model")
    check(rc == 0 and res is not None and not res["correct"] and res["failed"] > 0,
          "a perturbed model fails the correctness check")

    bare = tempfile.mkdtemp(prefix="bare-", dir=os.path.join(ROOT, ".bench_build"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("target", "project/target", "__pycache__"))
        rc, res, err = run("--workload", "catchup", "--trace", "0", cwd=bare)
        check(rc != 0 and res is None, f"without the program: exit {rc}, no result line")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("smoke test passed")


if __name__ == "__main__":
    main()

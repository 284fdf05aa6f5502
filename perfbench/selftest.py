#!/usr/bin/env python3
"""Benchmark self-test, run from the root of the checkout:

    python3 perfbench/selftest.py

1. BENCHMARK.json names exactly the metrics run.py reports, with their units.
2. A run with an injected throwing operation records it as `failed` with its
   error class and no wall time, counts it in failed/attempted, prints
   `"correct": false` and exits non-zero.
3. In a directory holding only BENCHMARK.json and perfbench/, the benchmark
   exits non-zero without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402


def check(cond, msg):
    print(("ok    " if cond else "FAIL  ") + msg)
    return cond


def main():
    ok = True
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    declared = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    ok &= check(declared == run.END_TO_END, "end_to_end metrics match run.py")
    declared = {m["name"]: m["unit"] for m in bench["per_layer"]}
    ok &= check(declared == run.per_layer_units(), "per_layer metrics match run.py")

    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "bulk_extract",
         "--seed", "5", "--seconds", "2", "--trace", "0", "--inject-throw"],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else {}
    ok &= check(proc.returncode != 0, f"injected failure exits non-zero ({proc.returncode})")
    ok &= check(result.get("correct") is False and result.get("failed", 0) >= 1,
                f"result counts the failure: failed={result.get('failed')} "
                f"attempted={result.get('attempted')}")
    with open(os.path.join(run.WORK, "runs", "bulk_extract_s5_t0", "record.json")) as fh:
        record = json.load(fh)
    thrown = [o for o in record["ops"] if o["name"] == "selftest_throw"]
    ok &= check(len(thrown) == 1 and thrown[0]["status"] == "failed"
                and thrown[0]["error"] == "java.lang.IllegalStateException"
                and "wall_s" not in thrown[0],
                "the throwing operation is recorded as failed with its error class, untimed")
    ok &= check(record["failed_frac"] > 0, f"failed_frac = {record['failed_frac']:.4f}")

    bare = os.path.join(run.WORK, "selftest_bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("target", "project", "__pycache__"))
    os.makedirs(os.path.join(bare, "perfbench", "project"))
    shutil.copy(os.path.join(HERE, "project", "build.properties"),
                os.path.join(bare, "perfbench", "project"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "bulk_extract", "--seed", "1",
         "--seconds", "2", "--trace", "0"],
        cwd=bare, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=170)
    ok &= check(proc.returncode != 0 and not proc.stdout.strip(),
                f"without the engine sources: exit {proc.returncode}, no result printed")
    shutil.rmtree(bare, ignore_errors=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()

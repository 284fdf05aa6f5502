#!/usr/bin/env python3
"""Benchmark runner: builds the engine and the benchmark from this checkout,
runs one workload in one Spark JVM, checks its outputs, and prints one JSON
result line.

    python3 perfbench/run.py --workload bulk_extract --seed 1 --seconds 15 --trace 0

Run from the root of the checkout. Build output goes to .bench_build/, inputs,
caches and run records to .bench_work/. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import corpus  # noqa: E402

WORKLOADS = ("bulk_extract", "export_mix")
CORPUS_SF = 0.01  # the traced run's query probe (lineitem 60k rows)
JVM_TIMEOUT_S = 170
KEEP_CORPORA = 8

END_TO_END = {"setup_s": "s", "peak_rss_mb": "MB", "unit_s": "s", "op_geomean_ms": "ms"}


def per_layer_units():
    units = {
        "geo.pip_ns": "ns", "geo.feature_intersects_ns": "ns", "geo.cover_ms": "ms",
        "functions.max_method_bytes": "bytes", "functions.codegen_compile_ms": "ms",
        "functions.non_wsc_nodes": "count", "model.where_parse_us": "us",
        "plan.build_ms": "ms", "plan.stage_s": "s",
        "sources.ingest_s": "s", "sources.append_jobs": "count",
        "sources.read_frac": "ratio", "sources.table_files": "count",
        "operators.extract_s": "s", "operators.decode_s": "s",
        "operators.assign_s": "s", "operators.tile_s": "s",
        "sinks.zip_MB_per_s": "MB/s",
        "stage.jobs": "count", "stage.tasks": "count", "stage.cpu_frac": "ratio",
        "stage.gc_frac": "ratio", "stage.shuffle_MB": "MB", "stage.spill_MB": "MB",
        "stage.core_idle_frac": "ratio", "stage.task_skew": "ratio",
    }
    for f in ("geojson", "parquet", "csv", "json", "shp", "kml", "fgb", "sql",
              "gpkg", "pmtiles", "mbtiles"):
        units[f"sinks.{f}_MB_per_s"] = "MB/s"
    for q in QUERIES:
        units[f"query.{q}_s"] = "s"
    return units


QUERIES = [  # Queries.Names
    "dedup_minhash_lsh", "dedup_simhash", "dedup_jaccard", "dedup_exact",
    "ann_ivf", "ann_cosine", "embed_neardup_lsh",
    "token_bpe", "lang_id", "text_quality",
    "geo_knn", "upsert_merge", "q3_join", "w1_window",
    "countries_q", "status_watermark"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---- build ---------------------------------------------------------------------

def sources_digest():
    h = hashlib.sha1()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(top)):
            inputs += [os.path.join(d, f) for f in sorted(fs)]
    for p in inputs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + benchmark with sbt (offline) once per source state and
    return the runtime classpath."""
    for p in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, p)):
            fail(f"engine sources not found: {p} (run from the root of a full checkout)")
    digest = sources_digest()
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log("building engine and benchmark with sbt")
    with open(os.path.join(BUILD, "sbt.log"), "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True, timeout=840)
        out.write(proc.stdout)
    lines = [ln for ln in proc.stdout.splitlines() if ".jar" in ln and not ln.startswith("[")]
    if proc.returncode != 0 or not lines:
        fail(f"sbt build failed (see {os.path.join(BUILD, 'sbt.log')})")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp, "w") as fh:
        fh.write(digest)
    return lines[-1].strip()


# ---- inputs --------------------------------------------------------------------

def corpus_dir(seed, sf):
    d = os.path.join(WORK, "cache", f"corpus_{seed}_{sf}")
    if not os.path.exists(os.path.join(d, "_SUCCESS")):
        shutil.rmtree(d, ignore_errors=True)
        corpus.generate(d, seed, sf)
        open(os.path.join(d, "_SUCCESS"), "w").close()
    os.utime(d)
    return d


def prune_cache():
    """Keep only the most recently used per-seed corpora (the image-row
    caches are bounded by their few seed variants)."""
    cache = os.path.join(WORK, "cache")
    if not os.path.isdir(cache):
        return
    entries = sorted((os.path.join(cache, e) for e in os.listdir(cache)
                      if e.startswith("corpus_")), key=os.path.getmtime, reverse=True)
    for e in entries[KEEP_CORPORA:]:
        shutil.rmtree(e, ignore_errors=True)


JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_jvm(cp, a, run_dir):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xmn1g", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           "-Dspark.sql.icu.caseMappings.enabled=false"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", run_dir,
            "--cache", os.path.join(WORK, "cache"),
            "--inject-throw", "1" if a.inject_throw else "0"]
    if a.trace:
        cmd += ["--corpus", corpus_dir(a.seed, CORPUS_SF)]
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s (log: {run_dir}/jvm.log)")
    if code != 0:
        fail(f"benchmark JVM exited with {code} (log: {run_dir}/jvm.log)")


# ---- main ----------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-throw", action="store_true",
                    help="self-test: add one operation that throws")
    a = ap.parse_args()

    cp = build()
    prune_cache()
    run_dir = os.path.join(WORK, "runs", f"{a.workload}_s{a.seed}_t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    run_jvm(cp, a, run_dir)

    with open(os.path.join(run_dir, "record.json")) as fh:
        record = json.load(fh)
    messages = list(record["check_failures"])
    failed = record["failed"] + len(record["check_failures"])
    if "oracle_sql" in record:
        bad, info, msgs = checks.corpus(record)
        record["query_checks"] = info
        failed += len(bad)
        messages += msgs
    if a.workload == "export_mix":
        bad, msgs = checks.exports(record)
        failed += bad
        messages += msgs
    for op in record["ops"]:
        if op["status"] == "failed":
            messages.append(f"{op['id']} {op['name']} failed: {op['error']}")

    units = per_layer_units() if a.trace else END_TO_END
    metrics = {}
    for name, unit in units.items():
        v = record["metrics"].get(name)
        if not isinstance(v, (int, float)):
            messages.append(f"metric {name} has no value")
            continue
        metrics[name] = {"value": v, "unit": unit}
    correct = failed == 0 and not messages

    record["output_check_messages"] = messages
    record["failed_total"] = failed
    with open(os.path.join(run_dir, "record.json"), "w") as fh:
        json.dump(record, fh)
    for sub in os.listdir(run_dir):  # keep the records, drop tables and outputs
        if os.path.isdir(os.path.join(run_dir, sub)):
            shutil.rmtree(os.path.join(run_dir, sub))
    for m in messages[:20]:
        log(m)
    log(f"record: {os.path.relpath(run_dir, ROOT)}/record.json; "
        f"failed_frac {failed / max(1, record['attempted']):.4f}")
    print(json.dumps({"correct": correct, "attempted": record["attempted"],
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()

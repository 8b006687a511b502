#!/usr/bin/env python3
"""Benchmark of the extract lifecycle, ingest admission and dedup funnels.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark harness from source (cached under
.bench_build/ by a hash of the sources), runs one JVM on local[4] that
generates the workload's inputs from the seed, times its closed loop for
the given seconds and checks its outputs, then prints one JSON line as the
last line of stdout: the end-to-end metrics with --trace 0, the per-layer
metrics with --trace 1.
"""
import argparse
import glob
import hashlib
import json
import os
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CPUS = "4"
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    files = []
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt; return the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    digest = source_hash()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("hash") == digest:
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=800)
    with open(log) as f:
        lines = f.read().splitlines()
    cp = [l for l in lines if not l.startswith("[") and ".jar" in l]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        die(f"build failed (exit {rc}); log in {log}")
    with open(stamp, "w") as f:
        json.dump({"hash": digest, "classpath": cp[-1].strip()}, f)
    return cp[-1].strip()


def run_jvm(classpath, args, run_dir):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main"] + args)
    # engine knobs and Spark's own directory overrides stay out of the run
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k not in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR")}
    env["SPARK_GRAFT_CPUS"] = CPUS
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    return rc, log


def oracle_failures(oracle_dir):
    """Compares each funnel query's Spark output with its DuckDB oracle,
    canonicalising cells with the repository's oracle gate."""
    import importlib.util
    import duckdb
    import pandas as pd
    sys.dont_write_bytecode = True  # leave no cache beside the gate's source
    spec = importlib.util.spec_from_file_location(
        "oracle_check", os.path.join(ROOT, "tools", "oracle_check.py"))
    oracle_check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(oracle_check)
    canon = oracle_check.canon
    with open(os.path.join(oracle_dir, "tables_dir")) as f:
        tables = f.read().strip()
    with open(os.path.join(oracle_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet/*.parquet'")
    fails = []
    for name, sql in sorted(oracles.items()):
        try:
            files = sorted(glob.glob(f"{oracle_dir}/{name}/*.parquet"))
            got = pd.concat([pd.read_parquet(p) for p in files], ignore_index=True)
            want = con.execute(sql).fetchdf()
        except Exception as e:  # noqa: BLE001 - any failure fails the check
            fails.append(f"{name}: {e}")
            continue
        got, want = got[sorted(got.columns)], want[sorted(want.columns)]
        if list(got.columns) != list(want.columns) or len(got) != len(want):
            fails.append(f"{name}: shape {got.shape} != oracle {want.shape}")
            continue
        for c in got.columns:
            if [canon(v) for v in got[c]] != [canon(v) for v in want[c]]:
                fails.append(f"{name}: column {c} differs from the oracle")
                break
    con.close()
    return fails


def median(xs):
    return statistics.median(xs)


def per_iteration(samples):
    """Sum over call names of each name's median: one loop iteration."""
    by_name = {}
    for s in samples:
        by_name.setdefault(s["name"], []).append(s)
    secs = sum(median([s["seconds"] for s in v]) for v in by_name.values())
    rows = sum(median([s["rows"] for s in v]) for v in by_name.values())
    return secs, rows


def end_to_end(res):
    """End-to-end metrics from the set-up and the untraced samples."""
    untraced = [s for s in res["samples"] if not s["traced"]]
    op_s, op_rows = per_iteration([s for s in untraced if s["kind"] == "op"])
    rerun_s, _ = per_iteration([s for s in untraced if s["kind"] == "rerun"])
    return {
        "setup_s": res["session_s"] + median(res["generate_s"]) + res["warmup_s"],
        "iteration_s": op_s,
        "rerun_s": rerun_s,
        "rows_per_s": op_rows / op_s,
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")) or not os.path.exists(spec_path):
        die(f"no engine sources under {ENGINE_SRC}; run from a full checkout")
    with open(spec_path) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        die(f"unknown workload {a.workload}")
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    classpath = build()
    # a fresh directory per run: deleting an earlier one is slow (see README)
    n = 0
    while True:
        run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}"
                               + (f"-{n}" if n else ""))
        if not os.path.exists(run_dir):
            break
        n += 1
    os.makedirs(run_dir)
    result_file = os.path.join(run_dir, "result.json")
    work = os.path.join(run_dir, "work")
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--result", result_file]
    # flush earlier runs' dirty pages so their write-back does not land in
    # this run's timed loop
    os.sync()
    rc, log = run_jvm(classpath, args, run_dir)
    if rc != 0 or not os.path.exists(result_file):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die(f"benchmark JVM failed ({rc}); log in {log}")
    with open(result_file) as f:
        res = json.load(f)

    failures = list(res["failures"])
    oracle_dir = os.path.join(work, "oracle")
    if os.path.isdir(oracle_dir):
        failures += oracle_failures(oracle_dir)

    if a.trace:
        values = {k: v["value"] for k, v in res["trace"]["metrics"].items()}
    else:
        values = end_to_end(res)
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        die(f"metrics not produced: {missing}")
    attempted = len(res["samples"])
    failed = min(len(failures), attempted)
    for msg in failures:
        print(f"FAIL {msg}")
    summary = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }
    detail = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "result": summary, "iterations": res["iterations"],
              "samples": len(res["samples"]), "extra": res["extra"],
              "trace_detail": {k: v for k, v in res["trace"].items() if k != "metrics"}}
    with open(os.path.join(run_dir, "summary.json"), "w") as f:
        json.dump(detail, f, indent=1)
    print(json.dumps(detail["trace_detail"]) if a.trace else
          f"{a.workload}: {res['iterations']} iterations, {attempted} calls")
    sys.stdout.flush()
    print(json.dumps(summary))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""graft's benchmark: one workload, one JVM, one JSON result line.

Usage (from the repository root):
  python3 perfbench/run.py --workload suite|serve|ingest --seed N \
      --seconds S --trace 0|1

Builds the engine plus the benchmark (perfbench/build.py), generates the
seeded tables (perfbench/gen.py; `ingest` generates its own inputs),
runs the workload in a JVM whose artifact, temp, warehouse and Spark
local directories all live in a fresh work directory under
.bench_build/, checks the outputs, removes the work directory (it is
kept, and its path printed, when the JVM fails), and prints two lines:
a report with every metric the workload measured (name, unit, sample
count, plus the run's context), then the result object whose metrics
are exactly BENCHMARK.json's end-to-end metrics (--trace 0) or
per-layer metrics (--trace 1).
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("suite", "serve", "ingest")
JVM_TIMEOUT_S = 165
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def oracle_failures(data_dir, checks):
    """Compare each query's rows with its DuckDB oracle over the same
    tables, as the engine's correctness gate does."""
    import duckdb
    import pandas as pd

    def norm(df):
        df = df.reindex(sorted(df.columns), axis=1)
        return df.sort_values(by=list(df.columns)).reset_index(drop=True)

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    failures = []
    for c in checks:
        try:
            files = glob.glob(os.path.join(c["path"], "*.parquet"))
            got = norm(pd.concat([pd.read_parquet(f) for f in files])) \
                if files else None
            want = norm(con.execute(c["sql"]).df())
            if got is None:
                if len(want):
                    failures.append(f"{c['query']}: no rows, oracle has {len(want)}")
                continue
            if list(got.columns) != list(want.columns):
                failures.append(f"{c['query']}: columns {list(got.columns)} "
                                f"vs {list(want.columns)}")
                continue
            pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                          check_exact=True)
        except AssertionError as e:
            failures.append(f"{c['query']}: {str(e).splitlines()[-1][:200]}")
        except Exception as e:  # an oracle that cannot run is a failure too
            failures.append(f"{c['query']}: {type(e).__name__}: {str(e)[:200]}")
    return failures


def run_jvm(classes, args, work, log_path):
    jars = os.path.join(build.spark_jars(), "*")
    with open(os.path.join(HERE, "config.json")) as fh:
        heap = json.load(fh)["jvm_heap"]
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k != "SPARK_LOCAL_DIRS"}
    env.update({
        "LC_ALL": "C.utf8", "LANG": "C.utf8",
        "SPARK_GRAFT_INDEX_DIR": os.path.join(work, "artifacts", "index"),
        "SPARK_GRAFT_IVF_DIR": os.path.join(work, "artifacts", "ivf"),
        "SPARK_GRAFT_PQ_DIR": os.path.join(work, "artifacts", "pq"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
    })
    for d in ("artifacts/index", "artifacts/ivf", "artifacts/pq", "tmp",
              "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cmd = ["java", f"-Xmx{heap}", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}/derby",
           "-Dfile.encoding=UTF-8", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{jars}", "graft.perfbench.Main"] + args
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(build.ENGINE_SRC) or not os.path.exists(bench_json):
        fail("run from a checkout holding the engine sources and BENCHMARK.json")
    with open(bench_json) as fh:
        spec = json.load(fh)
    with open(os.path.join(HERE, "config.json")) as fh:
        cfg = json.load(fh)

    started = time.time()
    try:
        classes, stamp = build.build()
    except Exception as e:
        fail(f"build failed: {e}")
    build_s = time.time() - started

    os.makedirs(build.BUILD, exist_ok=True)
    work = os.path.join(build.BUILD, f"work-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    keep_work = False
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
        data = os.path.join(work, "data")
        if "sf" in cfg[a.workload]:
            subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), data,
                            str(a.seed), str(cfg[a.workload]["sf"])],
                           check=True, timeout=120)
            args += ["--data", data]
        out = os.path.join(work, "result.json")
        log = os.path.join(work, "jvm.log")
        code = run_jvm(classes, args + [
            "--work", work, "--out", out,
            "--config", os.path.join(HERE, "config.json")], work, log)
        if code != 0 or not os.path.exists(out):
            keep_work = True
            with open(log, errors="replace") as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            fail(f"workload JVM {'timed out' if code is None else f'exited {code}'}"
                 f"; inputs and log kept in {work}")
        with open(out) as fh:
            res = json.load(fh)
        problems = list(res["problems"])
        attempted, failed = res["attempted"], res["failed"]
        checks = res["info"].pop("oracle_checks", [])
        if checks:
            bad = oracle_failures(data, checks)
            attempted += len(checks)
            failed += len(bad)
            problems += bad
        trace_dir = os.path.join(build.BUILD, "trace")
        if a.trace:
            os.makedirs(trace_dir, exist_ok=True)
            if os.path.exists(out + ".spans.jsonl"):
                shutil.copy(out + ".spans.jsonl", os.path.join(
                    trace_dir, f"{a.workload}-seed{a.seed}.spans.jsonl"))
    finally:
        if not keep_work:
            shutil.rmtree(work, ignore_errors=True)

    e2e, layers = res["e2e"], res["layers"]
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    source = layers if a.trace else e2e
    metrics, not_exercised = {}, []
    for m in wanted:
        if m["name"] in source:
            metrics[m["name"]] = {"value": source[m["name"]]["value"], "unit": m["unit"]}
        elif a.trace:  # a layer this workload does not exercise reads 0
            metrics[m["name"]] = {"value": 0.0, "unit": m["unit"]}
            not_exercised.append(m["name"])
        else:
            fail(f"workload did not produce end-to-end metric {m['name']}: {problems[:3]}")

    # tracing overhead: this traced run's end-to-end figures against the
    # last timed run of the same workload, seed and build in this checkout
    last = os.path.join(build.BUILD, "last", f"{a.workload}.json")
    if a.trace:
        timed = None
        if os.path.exists(last):
            with open(last) as fh:
                timed = json.load(fh)
        if timed and (timed["seed"], timed["stamp"]) == (a.seed, stamp):
            overhead = {k: {"traced": v["value"], "timed": timed["e2e"][k]["value"],
                            "diff": v["value"] - timed["e2e"][k]["value"]}
                        for k, v in e2e.items() if k in timed["e2e"]}
        else:
            overhead = {"missing": "the last timed run of this workload was not "
                        f"seed {a.seed} on these sources; run --trace 0 "
                        f"--seed {a.seed} first"}
    else:
        os.makedirs(os.path.dirname(last), exist_ok=True)
        with open(last, "w") as fh:
            json.dump({"seed": a.seed, "stamp": stamp, "e2e": e2e}, fh)

    e2e["error_frac"] = {"value": failed / max(1, attempted), "unit": "ratio",
                         "samples": attempted}
    report = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "build_s": round(build_s, 3),
        "verdict": "correct" if failed == 0 else "wrong",
        "end_to_end": e2e, "context": res["info"], "problems": problems[:20]}
    if a.trace:
        report["layers"] = layers
        report["not_exercised"] = not_exercised
        report["tracing_overhead"] = overhead
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": failed == 0 and attempted >= 1,
                      "attempted": max(1, attempted), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()

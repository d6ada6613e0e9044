#!/usr/bin/env python3
"""graft's benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It builds the engine and the harness
from source (sbt, offline) the first time, generates the workload's
inputs from the seed, runs the workload in one JVM on every core,
checks every answer, and prints as its last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are the per-layer ones, and a span file is kept.
`--workload all` runs every workload in turn and prints each one's own
named metrics. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main")
OUT = os.path.join(HERE, "target", "perfbench")
WORKLOADS = ("ingest_stream", "query_history", "lifecycle")
RUN_LIMIT_S = 170


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        die(f"no BENCHMARK.json at {ROOT}")
    with open(path) as f:
        return json.load(f)


# ---------------------------------------------------------------- build

def source_stamp():
    """Content hash of everything the harness is compiled from."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness when their sources changed; returns the
    runtime classpath."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala")):
        die(f"no engine sources under {ENGINE_SRC}: run from a checkout")
    stamp = source_stamp()
    os.makedirs(OUT, exist_ok=True)
    stamp_file = os.path.join(OUT, "build.stamp")
    cp_file = os.path.join(OUT, "classpath.txt")
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    print("perfbench: building engine and harness (sbt)", file=sys.stderr)
    with open(os.path.join(OUT, "build.log"), "w") as log:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
            text=True, timeout=850)
        log.write(p.stdout)
    lines = [l for l in p.stdout.splitlines()
             if "classes" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        die(f"build failed, see {os.path.join(OUT, 'build.log')}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


# ------------------------------------------------------------ lifecycle

VOCAB = ("the a data table row column key value join merge filter group "
         "sort hash scan batch stream spark query order line part customer "
         "window vector agg index small big fast slow").split()
LANGS = ["en", "en", "fr", "es", "de", "zh"]


def gen_corpus(path, seed):
    """The lifecycle rows' input tables, deterministic per seed: 500
    documents (a tenth are near-copies of another, so dedup and
    winnowing find pairs) and 1500 orders."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = np.random.default_rng(seed)
    texts = []
    for i in range(500):
        if i > 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = VOCAB[
                int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB),
                                                    int(rng.integers(8, 70)))]
        texts.append(" ".join(words))
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array(range(500), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[int(x)] for x in
                          rng.integers(0, len(LANGS), 500)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(500)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(path, "documents.parquet"))
    n = 1500
    day0 = np.datetime64("2024-01-01T00:00:00", "us")
    pq.write_table(pa.table({
        "o_orderkey": pa.array(range(1, n + 1), pa.int64()),
        "o_custkey": pa.array(rng.integers(1, 151, n), pa.int64()),
        "o_orderstatus": pa.array([["F", "O", "P"][int(x)] for x in
                                   rng.integers(0, 3, n)], pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(100, 5e4, n), 2),
                                 pa.float64()),
        "o_orderdate": pa.array(day0 + rng.integers(0, 2000, n)
                                .astype("timedelta64[D]"), pa.timestamp("us")),
        "o_orderpriority": pa.array([f"{int(x)}-PRIO" for x in
                                     rng.integers(1, 6, n)], pa.string()),
    }), os.path.join(path, "orders.parquet"))


def oracle_failures(data_dir, out_dir):
    """Compares each lifecycle row's first-pass result with its DuckDB
    oracle; returns {row: reason} for the rows that differ."""
    import duckdb
    import pandas as pd

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        for c in df.columns:
            if str(df[c].dtype).startswith("datetime64"):
                df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        return df.reset_index(drop=True)

    con = duckdb.connect()
    for t in ("documents", "orders"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = {}
    for name, sql in sorted(oracle.items()):
        try:
            got = canon(con.execute(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')")
                .df())
            want = canon(con.execute(sql).df())
        except Exception as e:  # an unreadable result is a wrong answer
            bad[name] = f"compare error: {str(e)[:200]}"
            continue
        if list(got.columns) != list(want.columns):
            bad[name] = f"columns {list(got.columns)} != {list(want.columns)}"
        elif len(got) != len(want):
            bad[name] = f"{len(got)} rows != {len(want)}"
        else:
            for c in got.columns:
                a, b = got[c], want[c]
                if a.dtype.kind == "f" or b.dtype.kind == "f":
                    eq = ((a.isna() & b.isna()) | (a == b)).all()
                else:
                    eq = a.astype(object).where(pd.notna(a), None).equals(
                        b.astype(object).where(pd.notna(b), None))
                if not eq:
                    bad[name] = f"column {c} differs"
                    break
    return bad


# ------------------------------------------------------------------ run

JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def heap_size():
    """A quarter of the machine's memory, between 2 and 4 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f
                      if l.startswith("MemTotal:"))
        return f"{max(2, min(4, kb // (4 * 1048576)))}g"
    except (OSError, StopIteration):
        return "2g"


def run_jvm(cp, work, args, deadline):
    """Runs one workload JVM; returns its result record."""
    out = os.path.join(work, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, f"-Xmx{heap_size()}", f"-Djava.io.tmpdir={tmp}",
           "-Djava.awt.headless=true", *JAVA_OPENS, "-cp", cp,
           "perfbench.Main", "--work", work, "--out", out, *args]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log,
                             stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(1, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.isfile(out):
        with open(log_path, errors="replace") as f:
            tail = f.read()[-3000:]
        die(f"workload JVM failed ({rc}):\n{tail}", code=1)
    with open(out) as f:
        return json.load(f)


def run_workload(a, cp, deadline):
    work = os.path.join(OUT, f"work-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        jargs = ["--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace)]
        if a.workload == "lifecycle":
            corpus = os.path.join(work, "corpus")
            gen_corpus(corpus, a.seed)
            jargs += ["--data", corpus]
        res = run_jvm(cp, work, jargs, deadline)
        if a.workload == "lifecycle":
            out_dir = os.path.join(work, "lifecycle_out")
            with open(os.path.join(out_dir, "runs.json")) as f:
                runs = json.load(f)
            for name, why in oracle_failures(corpus, out_dir).items():
                res["failed"] += runs.get(name, 1)
                res["failures"].append(f"{name} differs from its oracle: {why}")
        if a.trace and a.workload == "ingest_stream":
            base = os.path.join(work, "one-core")
            os.makedirs(base)
            one = run_jvm(cp, base, ["--workload", "backfill_1core",
                                     "--seed", str(a.seed), "--seconds",
                                     str(a.seconds), "--cores", "1"],
                          deadline)
            res["layers"].update({k: v for k, v in one["layers"].items()
                                  if k == "spark.backfill_ev_s_1core"})
            res["attempted"] += one["attempted"]
            res["failed"] += one["failed"]
            res["failures"] += one["failures"]
        if a.trace:
            spans = os.path.join(work, "spans.jsonl")
            keep = os.path.join(OUT, f"spans-{a.workload}-{a.seed}.jsonl")
            shutil.copyfile(spans, keep)
            res["context"]["span_file"] = os.path.relpath(keep, ROOT)
        return res
    finally:
        shutil.rmtree(work, ignore_errors=True)


def overhead_note(a, res):
    """Traced vs untraced end-to-end figures of the same workload and
    seed: the cost of tracing."""
    ref = os.path.join(OUT, f"untraced-{a.workload}-{a.seed}.json")
    if not a.trace:
        with open(ref, "w") as f:
            json.dump(res["e2e"], f)
        return None
    if not os.path.isfile(ref):
        return "no untraced run of this workload and seed to compare with"
    with open(ref) as f:
        base = json.load(f)
    return {k: f"{(res['e2e'][k] / base[k] - 1) * 100:+.1f}%"
            for k in base if k in res["e2e"] and base[k]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    s = spec()
    cp = build()
    names = WORKLOADS if a.workload == "all" else (a.workload,)
    if any(n not in WORKLOADS for n in names):
        die(f"unknown workload {a.workload}; one of {', '.join(WORKLOADS)}, all")
    wanted = s["per_layer" if a.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in wanted}
    results = []
    for n in names:
        a.workload = n
        # each run must end within its limit, counted from after the
        # build (a build happens once per checkout)
        res = run_workload(a, cp, time.monotonic() + RUN_LIMIT_S)
        res["context"]["tracing_overhead"] = overhead_note(a, res)
        results.append(res)
        print("perfbench: " + json.dumps({
            "workload": n, "named": res["named"],
            "error_rate": res["failed"] / max(1, res["attempted"]),
            "failures": res["failures"], "context": res["context"]}))
    if len(names) == 1:
        res = results[0]
        got = res["layers" if a.trace else "e2e"]
        missing = [k for k in units if k not in got]
        if missing and not a.trace:
            res["failed"] += 1
            print(f"perfbench: metrics not measured: {missing}",
                  file=sys.stderr)
        # a per-layer metric of a layer this workload does not load is 0
        metrics = {k: {"value": got.get(k, 0.0), "unit": units[k]}
                   for k in units}
        bad = [k for k, m in metrics.items()
               if not isinstance(m["value"], (int, float))
               or not math.isfinite(m["value"])]
        if bad:
            res["failed"] += 1
            print(f"perfbench: metrics without a finite value: {bad}",
                  file=sys.stderr)
            for k in bad:
                metrics[k]["value"] = 0.0
    else:
        metrics = {f"{r['workload']}.{k}": v for r in results
                   for k, v in r["named"].items()}
    attempted = sum(r["attempted"] for r in results)
    failed = sum(r["failed"] for r in results)
    print(json.dumps({"correct": failed == 0, "attempted": max(1, attempted),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()

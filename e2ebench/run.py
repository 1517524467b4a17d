#!/usr/bin/env python3
"""End-to-end benchmark of the user-profile pipeline.

    python3 e2ebench/run.py --workload live|analytics --seed N \
        --seconds S --trace 0|1

Builds the program and the benchmark from source (`build.py`), runs one
workload in a fresh JVM, compares analytics outputs with DuckDB, and prints
as its last line one JSON object: `correct`, `attempted`, `failed` and
`metrics` (the end-to-end metrics with `--trace 0`, the per-layer metrics
with `--trace 1`). Everything it writes stays under `.bench_build/` of the
checkout. See README.md for what each workload and metric means.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

import build

WORKLOADS = ("live", "analytics")

END_TO_END = {
    "setup_s": "s",
    "throughput_rps": "1/s",
    "sink_latency_p50_ms": "ms",
    "freshness_p50_ms": "ms",
    "dashboard_refresh_p50_ms": "ms",
    "sink_bytes_per_record": "bytes",
    "query_wall_s": "s",
}

QUERIES = ("d21_lsh_recall", "n11_pq_adc", "graph2_triangles")

PER_LAYER = dict(
    [("source.offset_ms", "ms"), ("source.files_per_batch", "count"),
     ("source.rows_per_batch", "count"),
     ("ops.parse_ms", "ms"), ("ops.explode_ms", "ms"), ("ops.flatten_ms", "ms"),
     ("ops.filter_ms", "ms"), ("ops.rows_in", "count"), ("ops.rows_exploded", "count"),
     ("ops.rows_out", "count"),
     ("stream.trigger_ms", "ms"), ("stream.planning_ms", "ms"), ("stream.add_batch_ms", "ms"),
     ("stream.wal_commit_ms", "ms"), ("stream.commit_offsets_ms", "ms"),
     ("stream.wait_ms", "ms"), ("stream.jobs_per_batch", "count"),
     ("stream.shuffles_per_batch", "count"), ("stream.batches", "count"),
     ("sink.cassandra.write_ms", "ms"), ("sink.mongo.write_ms", "ms"), ("sink.files", "count"),
     ("sink.bytes", "bytes"), ("sink.rows", "count"), ("sink.dup_rows_dropped", "count"),
     ("dash.a1_ms", "ms"), ("dash.a2_ms", "ms"), ("dash.a3_ms", "ms"), ("dash.a4_ms", "ms"),
     ("dash.files_scanned", "count"), ("dash.bytes_scanned", "bytes"),
     ("dash.poll_wait_ms", "ms")]
    + [(f"q.{q}.{m}", u) for q in QUERIES for m, u in (
        ("wall_ms", "ms"), ("tasks", "count"), ("shuffle_bytes", "bytes"),
        ("spill_bytes", "bytes"), ("task_cpu_ms", "ms"), ("driver_ms", "ms"))]
    + [("session.start_ms", "ms"), ("jvm.gc_ms", "ms"), ("jvm.heap_peak_mb", "MB"),
       ("jvm.rss_peak_mb", "MB"), ("jvm.heap_after_gc_peak_mb", "MB"),
       ("gen.late_ms_p99", "ms"), ("trace.overhead_pct", "%")])

TABLES = ("documents", "embeddings", "lineitem")
JVM_TIMEOUT_S = 160


def fail(msg: str) -> None:
    print(f"e2ebench: {msg}", file=sys.stderr)
    sys.exit(1)


def run_jvm(classpath: str, work: Path, args) -> dict:
    out = work / "result.json"
    # only a ceiling on the heap: the collector sizes it from what the run uses
    cmd = ["java", *build.JVM_FLAGS, "-Xmx3g", "-Xss8m",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dspark.local.dir={work / 'spark-local'}",
           f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
           "-Dspark.ui.enabled=false",
           "-cp", classpath, "e2ebench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", str(work), "--out", str(out)]
    (work / "tmp").mkdir(parents=True)
    log = work / "jvm.log"
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"the benchmark JVM ran past {JVM_TIMEOUT_S} s:\n{log.read_text()[-3000:]}")
    if proc.returncode != 0 or not out.exists():
        fail(f"the benchmark JVM exited with {proc.returncode}:\n{log.read_text()[-3000:]}")
    for line in log.read_text().splitlines():
        if line.startswith("[e2ebench "):
            print(line, file=sys.stderr)
    return json.loads(out.read_text())


def canon_rows(df):
    """Rows as strings, columns sorted by name and rows sorted, as
    tools/compare_oracle.py compares them."""
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return list(df.columns), df.astype(str).values.tolist()


def oracle_checks(res: dict) -> list:
    """Compares every analytics output with DuckDB's result for the query's
    oracle statement; returns (query, problem) for each mismatch."""
    if not res["checks"]:
        return []
    import duckdb
    import pandas as pd
    tables = Path(res["tables"])
    h = hashlib.sha256()
    for t in TABLES:
        for f in sorted((tables / f"{t}.parquet").glob("*.parquet")):
            h.update(f.read_bytes())
    inputs = h.hexdigest()
    cache = build.OUT / "duckdb-cache"
    cache.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet/*.parquet'")
    problems = []
    expected = {}
    for c in res["checks"]:
        qid, sql = c["id"], c["sql"]
        if not Path(c["path"]).exists():
            continue  # the query raised; the JVM counted it as failed
        if not sql:
            problems.append((qid, "no oracle statement"))
            continue
        if sql not in expected:
            key = cache / (hashlib.sha256((inputs + sql).encode()).hexdigest() + ".json")
            if key.exists():
                expected[sql] = json.loads(key.read_text())
            else:
                cols, rows = canon_rows(con.execute(sql).fetchdf())
                expected[sql] = {"columns": cols, "rows": rows}
                key.write_text(json.dumps(expected[sql]))
        cols, rows = canon_rows(pd.read_parquet(c["path"]))
        exp = expected[sql]
        if cols != exp["columns"]:
            problems.append((qid, f"pass {c['pass']}: columns {cols} vs {exp['columns']}"))
        elif rows != exp["rows"]:
            n = sum(1 for a, b in zip(rows, exp["rows"]) if a != b) + abs(len(rows) - len(exp["rows"]))
            problems.append((qid, f"pass {c['pass']}: {n} of {len(exp['rows'])} rows differ"))
    con.close()
    return problems


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    try:
        classpath = build.build()
    except build.BuildError as e:
        fail(str(e))

    work = build.OUT / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        res = run_jvm(classpath, work, args)
        mismatches = oracle_checks(res)
        if (work / "trace.jsonl").exists():
            traces = build.OUT / "traces"
            traces.mkdir(exist_ok=True)
            shutil.copy(work / "trace.jsonl", traces / f"{args.workload}-{args.seed}.jsonl")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed = res["failed"] + len(mismatches)
    for p in res["problems"] + [f"{q}: {m}" for q, m in mismatches]:
        print(f"check failed: {p}", file=sys.stderr)
    wanted = PER_LAYER if args.trace else END_TO_END
    source = res["layer"] if args.trace else res["e2e"]
    metrics = {}
    correct = True
    for name, unit in wanted.items():
        v = source.get(name)  # null: the JVM measured no sample
        if v is None:
            correct = False
            print(f"metric {name} was not measured", file=sys.stderr)
            continue
        metrics[name] = {"value": v, "unit": unit}
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()

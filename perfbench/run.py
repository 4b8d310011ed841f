#!/usr/bin/env python3
"""Engine benchmark: one workload, one seed, one JVM at 4 cores.

    python3 perfbench/run.py --workload tpch_10x --seed 1 --seconds 3 --trace 0

Run from the root of a checkout of the engine. The first run builds the
engine and the harness with sbt into `.bench_build/`; later runs reuse
the build while the sources are unchanged. Inputs are generated from
the seed (see datagen.py), the harness JVM (src/main/scala/perfbench)
times the workload, and every query's output is then checked against
its `SparkEntry.oracleSql` run in DuckDB over the same parquet files.
The last line of stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json,
with --trace 1 the per-layer ones. See README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import duckdb

import datagen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")

# Every workload starts from the sf0.01 base tables; `tpch_10x` runs on
# their 10x key-shifted copy. name -> (copies, queries in run order)
SF = 0.01
WORKLOADS = {
    "tpch_10x": (10, [
        "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
        "q21_suppliers_waiting"]),
    "curation": (1, [
        "doc_minhash_pairs", "doc_wordpiece", "graph_bfs_levels",
        "io_csv_roundtrip"]),
    "stream_replay": (1, [
        "stream_rig_baseline", "stream_running_agg"]),
}
JVM_OPTS = [
    *[f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")],
    "-Xmx4g",
]
RUN_LIMIT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Hash of every source the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    for top in ("build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src"):
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def classpath():
    """Build engine and harness once per source digest; return the
    runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail("the engine sources (build.sbt, src/main) are not in this checkout")
    stamp = os.path.join(BUILD, f"classpath-{source_digest()}.txt")
    if not os.path.isfile(stamp):
        os.makedirs(BUILD, exist_ok=True)
        proc = subprocess.run(
            ["sbt", "-batch", "--no-server", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            sys.stderr.write(proc.stdout)
            fail("build failed")
        with open(stamp + ".tmp", "w") as fh:
            fh.write(lines[-1].strip())
        os.replace(stamp + ".tmp", stamp)
    with open(stamp) as fh:
        return fh.read()


def inputs(seed, copies):
    """The seeded base tables, or their checked key-shifted copy."""
    data = os.path.join(BUILD, "data")
    base = datagen.ensure(os.path.join(data, f"seed{seed}-sf{SF}"),
                          lambda d: datagen.generate(d, seed, SF))
    if copies == 1:
        return base
    out = os.path.join(data, f"seed{seed}-sf{SF}-x{copies}")
    offset = datagen.key_offset(base)
    datagen.ensure(out, lambda d: datagen.replicate(base, d, copies, offset))
    datagen.check_copy(base, out, copies, offset)
    return out


def canon(v):
    return "NaN" if isinstance(v, float) and math.isnan(v) else repr(v)


def frame(rel):
    """Columns sorted by name, rows by value; DuckDB HUGEINT is compared
    as a float, as a pandas-based comparison would see it. This is the
    comparison of tools/compare_local.py, kept here so the benchmark does
    not change when the tools do."""
    cols, types = rel.columns, [str(t) for t in rel.types]
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(tuple(canon(float(r[i]) if types[i] == "HUGEINT" and r[i] is not None
                              else r[i]) for i in idx)
                  for r in rel.fetchall())
    return [cols[i] for i in idx], rows


def oracle_check(result, data, out):
    """Compare each dumped cold-pass output with its oracle; return
    {query: reason} for the ones that do not match."""
    con = duckdb.connect()
    con.execute("SET threads=4")
    for f in os.listdir(data):  # the 10x copy holds only the TPC-H tables
        t = f.removesuffix(".parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{f}'")
    bad = {}
    for name, sql in result["oracle_sql"].items():
        if result["executions"][name][0] is not None:
            continue  # already failed in the cold pass
        try:
            gcols, grows = frame(con.sql(f"SELECT * FROM '{out}/{name}/*.parquet'"))
            ecols, erows = frame(con.sql(sql))
        except Exception as e:  # an oracle that cannot run fails the query
            bad[name] = f"oracle check error: {type(e).__name__}: {e}"
            continue
        if gcols != ecols:
            bad[name] = f"columns {gcols} != oracle {ecols}"
        elif grows != erows:
            bad[name] = f"{len(grows)} rows differ from the oracle's {len(erows)}"
    return bad


def warm_sum(passes):
    """A warm pass as the sum over queries of each query's median over
    the warm passes."""
    return sum(statistics.median(p[q] for p in passes) for q in passes[0])


def metrics(result, trace):
    """The metrics of BENCHMARK.json's list for this mode, with units."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer" if trace else "end_to_end"]
    if trace:
        values = result["layers"]
    else:
        values = {
            "setup_s": statistics.median(result["setup_cpu"]),
            "cold_cpu_s": sum(result["cold_cpu"].values()),
            "warm_cpu_s": warm_sum(result["warm_cpu"]),
        }
    # wall times, for the record: on a shared host they follow its steal
    # time (see README.md), so they are not end-to-end metrics
    print(f"perfbench: wall setup_s={statistics.median(result['setup']):.3f} "
          f"cold_s={sum(result['cold'].values()):.3f} "
          f"warm_s={warm_sum(result['warm']):.3f} passes={len(result['warm'])}",
          file=sys.stderr)
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM (see the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    copies, queries = WORKLOADS[args.workload]

    cp = classpath()
    started = time.time()  # the run limit excludes a first build
    data = inputs(args.seed, copies)
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    proc = None
    try:
        launched_ms = int(time.time() * 1000)
        proc = subprocess.Popen(
            ["java", *JVM_OPTS, f"-Djava.io.tmpdir={work}/tmp", "-cp", cp,
             "perfbench.Main", "--data", data, "--work", work,
             "--queries", ",".join(queries), "--seconds", str(args.seconds),
             "--trace", str(args.trace),
             "--launched-ms", str(launched_ms)],
            cwd=work, stdout=sys.stderr)
        try:
            code = proc.wait(timeout=RUN_LIMIT_S - (time.time() - started))
        except subprocess.TimeoutExpired:
            fail("the engine run did not finish in time")
        if code != 0:
            fail(f"the engine run exited with {code}")
        with open(os.path.join(work, "result.json")) as fh:
            result = json.load(fh)
        wrong = oracle_check(result, data, os.path.join(work, "out"))
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    names = result["queries"]
    attempted = failed = 0
    for name in names:
        runs = result["executions"][name]
        attempted += len(runs)
        reasons = [r for r in runs if r is not None]
        if name in wrong:  # every run repeats the cold output that failed
            reasons = [wrong[name]] * len(runs)
        failed += len(reasons)
        if reasons:
            print(f"perfbench: {name} failed {len(reasons)}/{len(runs)}: {reasons[0]}",
                  file=sys.stderr)
    print(json.dumps({
        # a wrong output is counted in `failed`, so every operation that
        # did not fail was checked correct
        "correct": True,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics(result, args.trace == 1),
    }))


if __name__ == "__main__":
    main()

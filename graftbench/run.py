#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

Usage (from the root of a checkout):
  python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the driver (graftbench/build.sbt, which compiles the checkout's
graft sources) into .bench_build/ unless an up-to-date build is there,
generates the workload's inputs from the seed, runs the JVM driver,
checks its outputs, and prints as the last stdout line one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.
With --trace 0 the line before it carries the workload's own named
metrics (ingest_s, retrieve_p50_ms, suite_s, ...). Traced runs keep
their span file in .bench_build/traces/.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("memory-loop", "query-suite")
RUN_LIMIT_S = 170
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

sys.path.insert(0, BENCH)
import gen  # noqa: E402


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- stats

def median(xs):
    return statistics.median(xs)


def tail_percentile(xs, p):
    """Nearest-rank p-th percentile, or None when fewer than ten
    samples lie beyond it."""
    n = len(xs)
    rank = math.ceil(p / 100.0 * n)
    if n == 0 or n - rank < 10:
        return None
    return sorted(xs)[rank - 1]


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


# ---------------------------------------------------------------- build

def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile the driver with graft's sources; return its classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("graft sources not found next to graftbench/; run from a full checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        if open(stamp_file).read() == stamp:
            return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS="-Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if p.returncode != 0:
        log(p.stdout[-4000:])
        raise SystemExit(f"build failed (exit {p.returncode})")
    cp = [ln.strip() for ln in p.stdout.splitlines()
          if ".jar" in ln and ":" in ln and not ln.startswith("[")]
    if not cp:
        log(p.stdout[-4000:])
        raise SystemExit("build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built driver in {time.time() - t0:.0f}s")
    return cp[-1]


# ---------------------------------------------------------------- run

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def run_driver(cp, workload, in_dir, work, seconds, trace, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, "result.json")
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", workload, "--in", in_dir,
            "--work", work, "--seconds", str(seconds), "--trace", str(trace), "--out", out]
    with open(os.path.join(work, "driver.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=logf, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("driver exceeded the run time limit")
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(work, "driver.log")) as f:
            log(f.read()[-4000:])
        raise SystemExit(f"driver failed (exit {code})")
    with open(out) as f:
        return json.load(f)


def oracle_check(in_dir, out_dir):
    """Compare each dumped query output with its DuckDB oracle; returns
    (attempted, failures)."""
    import duckdb
    con = duckdb.connect()
    for t in gen.SIZES["suite"]:
        if os.path.exists(os.path.join(in_dir, f"{t}.parquet")):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{in_dir}/{t}.parquet'")

    def canon(df):
        cols = sorted(df.columns)
        df = df[cols]
        return ([(c, str(df[c].dtype)) for c in cols],
                sorted(tuple(str(v) for v in r) for r in df.itertuples(index=False)))

    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    failures = []
    for name, sql in sorted(oracle.items()):
        try:
            if canon(con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()) != \
                    canon(con.sql(sql).df()):
                failures.append(f"{name} differs from its DuckDB oracle")
        except Exception as e:  # a missing dump or a failing oracle
            failures.append(f"{name} oracle check raised {e}")
    return len(oracle), failures


# ---------------------------------------------------------------- reduce

def workload_metrics(workload, res, gen_info, gen_s):
    """The workload's own named metrics (value, unit)."""
    s, v, su = res["samples"], res["values"], res["setup"]
    m = {"setup_s": (gen_s + su["session_s"] + su["load_s"] + su["warmup_s"], "s")}
    if workload == "memory-loop":
        m["ingest_s"] = (median(s["ingest_s"]), "s")
        m["append_p50_s"] = (median(s["append_s"]), "s")
        m["delete_s"] = (median(s["delete_s"]), "s")
        m["store_bytes_per_input_byte"] = (median(s["store_bytes"]) / gen_info["input_bytes"], "ratio")
        m["retrieve_p50_ms"] = (median(s["retrieve_ms"]), "ms")
        p95 = tail_percentile(s["retrieve_ms"], 95)
        if p95 is not None:
            m["retrieve_p95_ms"] = (p95, "ms")
        m["retrieve_samples"] = (len(s["retrieve_ms"]), "count")
        m["batch_p50_ms"] = (median(s["batch_ms"]), "ms")
        m["hybrid_p50_ms"] = (median(s["hybrid_ms"]), "ms")
        m["serve_qps"] = (v["serve_qps"], "queries/s")
        m["recall_at_10"] = (v["recall_at_10"], "ratio")
    else:
        per_query = {k.split(".", 1)[1]: median(x) for k, x in s.items() if k.startswith("query_ms.")}
        m["suite_s"] = (sum(per_query.values()) / 1e3, "s")
        m["suite_qps"] = (len(per_query) / m["suite_s"][0], "queries/s")
        m["suite_geomean_ms"] = (geomean(list(per_query.values())), "ms")
        m.update({f"{q}_ms": (x, "ms") for q, x in per_query.items()})
    m["retained_heap_mb"] = (median(s["heap_mb"]), "MB")
    return m


def end_to_end(workload, named):
    """The metrics every workload reports (BENCHMARK.json end_to_end):
    set-up, the latency of the workload's unit operation, the wall of
    its bulk operation, the queries it answers per second, and the heap
    it retains."""
    if workload == "memory-loop":
        op, bulk, qps = named["retrieve_p50_ms"], named["ingest_s"], named["serve_qps"]
    else:
        op, bulk, qps = named["suite_geomean_ms"], named["suite_s"], named["suite_qps"]
    return {"setup_s": named["setup_s"], "op_ms": op, "bulk_s": bulk, "qps": qps,
            "retained_heap_mb": named["retained_heap_mb"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp = build()
    deadline = time.time() + RUN_LIMIT_S
    work = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    in_dir = os.path.join(work, "input")
    try:
        # Input generation is the set-up step repeated within a run;
        # its median enters setup_s.
        gen_times = []
        for _ in range(3):
            t0 = time.time()
            gen_info = gen.generate(a.workload, a.seed, in_dir)
            gen_times.append(time.time() - t0)
        gen_s = median(gen_times)
        t0 = time.time()
        res = run_driver(cp, a.workload, in_dir, work, a.seconds, a.trace, deadline)
        log(f"driver took {time.time() - t0:.1f}s; set-up parts {res['setup']}")
        attempted, failed, failures = res["attempted"], res["failed"], list(res["failures"])
        if a.workload == "query-suite":
            n, bad = oracle_check(in_dir, os.path.join(work, "oracle"))
            attempted, failed, failures = attempted + n, failed + len(bad), failures + bad
        for msg in failures:
            log(f"check failed: {msg}")
        trace_file = os.path.join(work, "trace.jsonl")
        if os.path.exists(trace_file):
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            shutil.copy(trace_file, os.path.join(BUILD, "traces", f"{a.workload}-s{a.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if a.trace:
        metrics = {m["name"]: {"value": res["layers"].get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        named = workload_metrics(a.workload, res, gen_info, gen_s)
        named["failed_ops_ratio"] = (failed / attempted, "ratio")
        print(json.dumps({"workload": a.workload,
                          "metrics": {k: {"value": x, "unit": u} for k, (x, u) in named.items()}}))
        e2e = end_to_end(a.workload, named)
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    bad = [n for n in metrics if not NAME_RE.match(n)]
    if bad:
        raise SystemExit(f"invalid metric names {bad}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {medallion,index} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. Builds the engine and the benchmark's JVM
program from source on first use (sbt, offline), generates the inputs
from the seed, runs one JVM (`local[1]`, one closed-loop client),
times a fixed number of units of work (`--seconds` divided by the
workload's nominal unit time, rounded up), checks every answer, and
prints one JSON line last on stdout. With
`--trace 0` it reports the end-to-end metrics; with `--trace 1` the
per-layer ledger metrics of a traced run.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen      # noqa: E402
import ledger   # noqa: E402

WORKLOADS = ("medallion", "index")
WORK = os.path.join(ROOT, ".perfbench_work")
CLASSPATH = os.path.join(HERE, "target", "run-classpath.txt")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 175
# The host's cores are shared with other tenants, so a run that wants
# every core measures their load as much as the engine. One task thread
# (`local[1]`, and the engine's matching shuffle width), a JVM sized for
# two CPUs, and the quick JIT tier only (`TieredStopAtLevel=1`: the
# optimizing tier compiled Spark's generated classes all run long,
# burning a second core and leaving op times trending down) keep a run
# at about 1.25 cores; at these sizes the engine is bound by coordination.
SPARK_CPUS = 1
JVM_CPUS = 2
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads, to reuse a finished build."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"),
                os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            inputs += [os.path.join(d, f) for f in files]
    for p in sorted(inputs):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile the engine and the benchmark; return the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"perfbench: engine source missing ({need}); "
                             "run from the repository root")
    stamp = source_stamp()
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    log("building the engine and the benchmark (sbt)")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    cp = next((l for l in reversed(lines)
               if ".jar" in l and not l.startswith("[")), None)
    if proc.returncode != 0 or cp is None:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(stamp + "\n" + cp.strip())
    log(f"built in {time.time() - t0:.0f} s")
    return cp.strip()


def driver_mem():
    """The tier-1 recipe: half the host's memory, clamped to [2, 8] GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def run_jvm(cp, workload, inputs, work, seconds, trace, deadline):
    """Run the benchmark JVM; returns its result and launch time (ms)."""
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-XX:ActiveProcessorCount={JVM_CPUS}", "-XX:TieredStopAtLevel=1"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{driver_mem()}", "-Duser.timezone=UTC",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-Dspark.callstack.depth=200",
            "-cp", cp, "perfbench.Main", workload, inputs,
            os.path.join(work, "state"), str(seconds), str(trace), out]
    env = dict(os.environ, SPARK_GRAFT_TMPFS="0",
               SPARK_GRAFT_CPUS=str(SPARK_CPUS))
    launched = time.time() * 1000
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, env=env,
                                stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("perfbench: run timed out")
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: benchmark JVM exited with {rc}")
    with open(out) as f:
        return json.load(f), launched


def duck_canon(rows, cols):
    """Rows as sorted strings over name-sorted columns (the oracle gate's
    comparison: floats to 9 significant digits)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else f"{v:.9g}"
            vals.append(repr(v))
        out.append("|".join(vals))
    return sorted(out)


def compare(con, oracle_sql, result_glob):
    """None when the parquet result equals DuckDB's answer to the oracle
    SQL (same column names and types, same rows), else what differs."""
    o = con.sql(oracle_sql)
    ocols, otypes, orows = o.columns, [str(t) for t in o.types], o.fetchall()
    r = con.sql(f"SELECT * FROM '{result_glob}'")
    rcols, rtypes, rrows = r.columns, [str(t) for t in r.types], r.fetchall()
    if dict(zip(ocols, otypes)) != dict(zip(rcols, rtypes)):
        return f"columns {sorted(zip(rcols, rtypes))} != oracle {sorted(zip(ocols, otypes))}"
    if duck_canon(orows, ocols) != duck_canon(rrows, rcols):
        return f"{len(rrows)} result rows differ from {len(orows)} oracle rows"
    return None


def check_medallion(facts, ops):
    """After every increment (on its snapshot): silver holds each landed
    id once, and gold's sum(total_events) equals the silver row count.
    Every dashboard result equals DuckDB's answer to the query's oracle
    SQL over the slices landed by then.
    At the end: silver equals a one-shot keep-latest recompute over every
    landed row (the pipeline's tie-break: ts, then every column, desc).
    Returns ({op id: error}, {check: error or None})."""
    import duckdb
    con = duckdb.connect()
    op_errors = {}
    for op in ops:
        k = op["info"].get("slice")
        if op["kind"] == "report":
            files = [os.path.join(facts["inputs"], f)
                     for f in facts["slices"][:k + 1]]
            con.sql(f"CREATE OR REPLACE VIEW events AS "
                    f"SELECT * FROM read_parquet({files!r})")
            name = op["info"]["query"]
            err = compare(con, facts["oracle_sql"][name], os.path.join(
                facts["reports"], f"{k:05d}", name, "*.parquet"))
            if err:
                op_errors[op["id"]] = f"{name}: {err}"
            continue
        snap = os.path.join(facts["snapshots"], f"{k:05d}")
        rows, ids = con.sql(
            f"SELECT count(*), count(DISTINCT event_id) FROM "
            f"'{snap}/silver/**/*.parquet'").fetchone()
        gold = con.sql(f"SELECT sum(total_events) FROM "
                       f"'{snap}/gold/*.parquet'").fetchone()[0]
        want = facts["expected_ids"][k]
        if rows != ids:
            op_errors[op["id"]] = f"silver has {rows} rows for {ids} ids"
        elif rows != want:
            op_errors[op["id"]] = f"silver has {rows} rows, {want} ids landed"
        elif gold != rows:
            op_errors[op["id"]] = f"gold counts {gold} events, silver {rows}"
    expect = f"""
        SELECT event_id, ts AS event_time, user_id, event_type,
               CASE WHEN value IS NULL OR value < 0 THEN 0.0
                    WHEN value > 300 THEN 300.0 ELSE value END AS depth_km
        FROM (SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY
                ts DESC, user_id DESC, event_type DESC, value DESC,
                props DESC) AS rn
              FROM '{facts["landing"]}/*.parquet') WHERE rn = 1"""
    got = f"""SELECT event_id, event_time, user_id, event_type, depth_km
              FROM '{facts["silver"]}/**/*.parquet'"""
    missing = con.sql(f"SELECT count(*) FROM (({expect}) EXCEPT ALL "
                      f"({got}))").fetchone()[0]
    extra = con.sql(f"SELECT count(*) FROM (({got}) EXCEPT ALL "
                    f"({expect}))").fetchone()[0]
    final = None
    if missing or extra:
        final = f"{missing} expected rows missing, {extra} unexpected rows"
    return op_errors, {"silver_recompute": final}


def check_index(facts, ops, inputs):
    """The maintained index serves what a fresh index over the live set
    would: each search ranks exactly as the engine's DuckDB BM25 oracle
    ranks it over the documents live at that point, and the final totals
    equal the live set's. Returns ({op id: error}, {check: error})."""
    import duckdb
    with open(os.path.join(inputs, "index_plan.json")) as f:
        plan = json.load(f)
    cycles = plan["cycles"]
    con = duckdb.connect()
    files = [os.path.join(inputs, "documents.parquet")] + [
        os.path.join(inputs, c["batch"]) for c in cycles]
    con.sql(f"CREATE TABLE docs AS SELECT doc_id, text FROM read_parquet({files!r})")
    con.sql("CREATE TABLE queries (qid BIGINT, text VARCHAR)")

    def live_after(n_ingested, n_deleted):
        live = set(plan["base_ids"])
        for c in cycles[:n_ingested]:
            live.update(c["ids"])
        for c in cycles[:n_deleted]:
            live.difference_update(c["deletes"])
        con.execute("CREATE OR REPLACE TABLE live_ids AS "
                    "SELECT unnest(?::BIGINT[]) AS doc_id", [sorted(live)])
        con.sql("CREATE OR REPLACE VIEW live_docs AS SELECT * FROM docs "
                "SEMI JOIN live_ids USING (doc_id)")
        return live

    def ranking_error(queries, got):
        con.sql("DELETE FROM queries")
        con.executemany("INSERT INTO queries VALUES (?, ?)", queries)
        want = con.sql(facts["oracle_sql"]).fetchall()
        got = [tuple(r) for r in got]
        cols = ["qid", "rank", "doc_id", "bm25"]
        if not got or duck_canon(want, cols) != duck_canon(got, cols):
            return (f"ranking differs from the live-set oracle "
                    f"({len(got)} vs {len(want)} rows)")
        return None

    op_errors = {}
    for op in ops:
        if op["kind"] != "search":
            continue
        k = op["info"]["cycle"]
        live_after(k + 1, k)
        err = ranking_error(cycles[k]["queries"], facts["searches"][str(k)])
        if err:
            op_errors[op["id"]] = err
    n = facts["cycles_run"]
    live = live_after(n, n)
    probe = ranking_error(facts["probe_queries"], facts["probe"])
    n_docs, sum_dl = con.sql(facts["stats_sql"]).fetchone()
    totals = None
    if facts["totals"] != [n_docs, sum_dl] or n_docs != len(live):
        totals = (f"index totals {facts['totals']} != live set "
                  f"[{n_docs}, {sum_dl}]")
    return op_errors, {"probe": probe and f"final probe: {probe}",
                       "totals": totals}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.time() + RUN_TIMEOUT_S

    cp = build()
    deadline = max(deadline, time.time() + RUN_TIMEOUT_S - 30)
    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    t0 = time.time()
    gen.generate(args.workload, args.seed, inputs)
    gen_s = time.time() - t0

    result, launched = run_jvm(cp, args.workload, inputs, work,
                               args.seconds, args.trace, deadline)
    facts = result["facts"]
    ops = result["ops"]
    checked = result["untimed_ops"] + ops
    if args.workload == "medallion":
        op_errors, checks = check_medallion(facts, checked)
    else:
        op_errors, checks = check_index(facts, checked, inputs)
    for op in checked:
        op["error"] = op.get("error") or op_errors.get(op["id"])

    bad_ops = [op for op in checked if op["error"]]
    bad_checks = {k: v for k, v in checks.items() if v}
    for op in bad_ops[:10]:
        log(f"op {op['id']} {op['kind']} {op['label']}: {op['error']}")
    for k, v in bad_checks.items():
        log(f"check {k}: {v}")
    attempted = len(checked) + len(checks)
    failed = len(bad_ops) + len(bad_checks)

    walls = [op["wall_s"] for op in ops]
    q, tail = ledger.tail_percentile(walls)
    log(f"{args.workload}: {len(ops)} ops ({result['units']} units) in "
        f"{result['measure_s']:.1f} s, "
        f"p50 {ledger.percentile(walls, 0.5):.3f} s, "
        f"p{round(q * 100)} {tail:.3f} s (n={len(walls)}), "
        f"{failed}/{attempted} failed")

    if args.trace:
        values, recs = ledger.per_layer(result)
        values["jvm.peak_rss_mb"] = result["peak_rss_kb"] / 1024
        metrics = {k: {"value": v, "unit": unit_of(k)}
                   for k, v in values.items()}
        with open(os.path.join(work, "ledger.md"), "w") as f:
            f.write(ledger.ledger_table(recs) + "\n")
    else:
        metrics = {
            "setup_s": {"value": gen_s + (result["ready_ms"] - launched) / 1000,
                        "unit": "s"},
            "ops_per_s": {"value": ledger.ops_per_s(ops), "unit": "1/s"},
        }
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def unit_of(name):
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes"):
        return "bytes"
    if "_per_" in name:
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()

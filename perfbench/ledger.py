"""Benchmark arithmetic: percentiles and the per-module cost ledger.

The ledger splits each op's wall time into time inside Spark jobs,
attributed to the engine module that launched the job, and driver self
time (op wall minus the union of the op's job intervals), so that
`sum(module in_job_s) + driver.self_s == op wall` holds exactly.
"""
import math
import re
import statistics

# Layers the ledger reports; any other graft package or a job with no
# graft frame on its stack lands in `other`.
MODULES = ["sources", "state", "pipeline", "operators", "queries",
           "streaming", "plans", "layout", "functions", "expressions",
           "other"]

# Op kinds of the workloads: the medallion day (increment, dashboard
# report) and the index cycle (ingest, search, delete, compact).
OP_KINDS = ["increment", "report", "ingest", "search", "delete", "compact"]

_GRAFT_FRAME = re.compile(r"^\s*(?:at\s+)?graft\.([a-z][a-z0-9_]*)\.")
# Spark gives the jobs of a streaming query the call site of the
# query's start(), so they show as its writer, or its engine's frames.
_STREAM_FRAME = re.compile(r"org\.apache\.spark\.sql\.(?:classic\."
                           r"DataStreamWriter|execution\.streaming|streaming)\.")


def percentile(values, q, min_beyond=10):
    """The nearest-rank q-quantile of `values`, or None when fewer than
    `min_beyond` samples lie above it (a tail figure needs that many to
    mean anything). q = 0.5 is the median and needs only one sample.
    """
    vals = sorted(values)
    n = len(vals)
    if n == 0:
        return None
    if q == 0.5:
        return statistics.median(vals)
    k = max(0, math.ceil(q * n - 1e-9) - 1)
    if n - 1 - k < min_beyond:
        return None
    return vals[k]


def tail_percentile(values, levels=(0.99, 0.95, 0.9, 0.75)):
    """(q, value) for the highest level with enough samples beyond it."""
    for q in levels:
        v = percentile(values, q)
        if v is not None:
            return q, v
    return 0.5, percentile(values, 0.5)


def op_group(op):
    """What an op's latency is compared with: its kind, and for a
    dashboard report also the query it ran."""
    if op["kind"] == "report":
        return f"report:{op['label'].split('@')[0]}"
    return op["kind"]


def ops_per_s(ops):
    """Closed-loop throughput from median latencies: the op count over
    the time the ops would take if each ran in its group's median time.
    One op stalled by the host moves a median less than a sum."""
    groups = {}
    for op in ops:
        groups.setdefault(op_group(op), []).append(op["wall_s"])
    return len(ops) / sum(len(v) * statistics.median(v)
                          for v in groups.values())


def frame_module(stack, layer="other"):
    """The engine module a job is charged to, from the call stack of the
    SQL execution (or stage) that ran it, innermost frame first:

    - the module of the innermost `graft.<module>.` frame;
    - else `streaming`, when a streaming query ran it;
    - else `layer`, the module of the public function the op called
      (the job ran a lazy result that the benchmark materialized).
    """
    for line in (stack or "").splitlines():
        m = _GRAFT_FRAME.match(line)
        if m:
            mod = m.group(1)
            return mod if mod in MODULES else "other"
    if _STREAM_FRAME.search(stack or ""):
        return "streaming"
    return layer if layer in MODULES else "other"


def split_union(labelled):
    """Share the union of labelled intervals among labels: each instant
    covered by k intervals gives 1/k of itself to each of their labels.
    Returns {label: time}; the values sum to the length of the union.
    """
    points = sorted({p for _, s, e in labelled for p in (s, e)})
    share = {}
    for a, b in zip(points, points[1:]):
        active = [lab for lab, s, e in labelled if s <= a and e >= b]
        for lab in active:
            share[lab] = share.get(lab, 0.0) + (b - a) / len(active)
    return share


def op_ledger(op, jobs, stages, execs, compiles):
    """Cost record of one op from the spans that fall in it.

    Jobs belong to the op whose id they carry; SQL executions and
    compile phases to the op whose interval holds their start.
    Times are milliseconds on the listener clock.
    """
    start, end = op["start"], op["end"]
    by_id = {x["id"]: x for x in execs}
    mine = [j for j in jobs if j["op"] == str(op["id"])]
    labelled = []
    rec = {"jobs": len(mine), "stages": 0, "tasks": 0, "input_bytes": 0,
           "input_records": 0, "shuffle_bytes": 0, "output_bytes": 0,
           "output_records": 0, "spill_bytes": 0,
           "module_jobs": {m: 0 for m in MODULES}}
    for j in mine:
        x = by_id.get(int(j["exec"])) if j.get("exec") else None
        mod = frame_module(x["details"] if x else j["details"],
                           op.get("layer", "other"))
        rec["module_jobs"][mod] += 1
        s, e = max(j["start"], start), min(j["end"] if j["end"] >= 0
                                           else end, end)
        if e > s:
            labelled.append((mod, s, e))
        for sid in j["stages"]:
            m = stages.pop(str(sid), None)   # a stage counts once
            if m is None:
                continue
            rec["stages"] += 1
            rec["tasks"] += m.get("tasks", 0)
            rec["input_bytes"] += m.get("input_bytes", 0)
            rec["input_records"] += m.get("input_records", 0)
            rec["shuffle_bytes"] += m.get("shuffle_write_bytes", 0)
            rec["output_bytes"] += m.get("output_bytes", 0)
            rec["output_records"] += m.get("output_records", 0)
            rec["spill_bytes"] += m.get("spill_bytes", 0)
    share = split_union(labelled)
    rec["wall_ms"] = end - start
    rec["in_job_ms"] = {m: share.get(m, 0.0) for m in MODULES}
    rec["self_ms"] = rec["wall_ms"] - sum(share.values())
    in_op = [x for x in execs if start <= x["start"] <= end]
    rec["sql_execs"] = len(in_op)
    rec["files_written"] = sum(x["files_written"] for x in in_op)
    rec["compile_ms"] = sum(c["ms"] for c in compiles
                            if start <= c["start"] <= end)
    return rec


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(result):
    """Per-layer metrics of a traced run: per-op means unless a ratio."""
    ops = result["ops"]
    spans = result["spans"]
    stages = dict(spans["stages"])
    recs = [op_ledger(op, spans["jobs"], stages, spans["execs"],
                      spans["compiles"]) for op in ops]
    n = max(len(recs), 1)

    def tot(key):
        return sum(r[key] for r in recs)

    def info(kind_key):
        return [op["info"][kind_key] for op in ops if kind_key in op["info"]]

    def wall_of(kind):
        return [op["wall_s"] for op in ops if op["kind"] == kind]

    m = {
        "op.wall_s": tot("wall_ms") / 1000 / n,
        "jvm.cpu_s": sum(op["cpu_s"] for op in ops) / n,
        "driver.self_s": tot("self_ms") / 1000 / n,
        "driver.compile_s": tot("compile_ms") / 1000 / n,
        "spark.jobs": tot("jobs") / n,
        "spark.sql_execs": tot("sql_execs") / n,
        "spark.stages": tot("stages") / n,
        "spark.tasks": tot("tasks") / n,
        "exec.in_job_s": sum(sum(r["in_job_ms"].values())
                             for r in recs) / 1000 / n,
        "exec.input_bytes": tot("input_bytes") / n,
        "exec.shuffle_bytes": tot("shuffle_bytes") / n,
        "exec.output_bytes": tot("output_bytes") / n,
        "exec.spill_bytes": tot("spill_bytes") / n,
    }
    for mod in MODULES:
        m[f"{mod}.jobs"] = sum(r["module_jobs"][mod] for r in recs) / n
        m[f"{mod}.in_job_s"] = sum(r["in_job_ms"][mod]
                                   for r in recs) / 1000 / n
    landed = sum(info("landed_bytes"))
    m["sources.files_written"] = tot("files_written") / n
    m["sources.bytes_written_per_input_byte"] = (
        tot("output_bytes") / landed if landed else 0.0)
    new_rows = sum(info("new_rows"))
    m["pipeline.rows_written_per_new_row"] = (
        sum(r["output_records"] for r, op in zip(recs, ops)
            if "new_rows" in op["info"]) / new_rows if new_rows else 0.0)
    m["operators.text.append_s"] = _mean(info("append_s"))
    for k in ("delete", "compact", "search"):
        m[f"operators.text.{k}_s"] = _mean(wall_of(k))
    results = sum(info("results"))
    read = sum(r["input_records"] for r, op in zip(recs, ops)
               if op["kind"] == "search")
    m["operators.text.rows_read_per_result"] = read / results if results else 0.0
    m["operators.text.files_live"] = result["facts"].get("files_live", 0)
    for k in ("trigger", "query_planning", "wal_commit", "add_batch",
              "latest_offset"):
        m[f"streaming.{k}_ms"] = _mean(info(f"{k}_ms"))
    for kind in OP_KINDS:
        m[f"op.{kind}_p50_s"] = percentile(wall_of(kind), 0.5) or 0.0
    return m, recs


def ledger_table(recs):
    """Markdown per-module table: mean seconds and jobs per op."""
    n = max(len(recs), 1)
    wall = sum(r["wall_ms"] for r in recs) / 1000 / n
    rows = ["| layer | jobs/op | s/op | share of wall |", "|---|---|---|---|"]
    for mod in MODULES:
        s = sum(r["in_job_ms"][mod] for r in recs) / 1000 / n
        j = sum(r["module_jobs"][mod] for r in recs) / n
        if s or j:
            rows.append(f"| {mod} (in jobs) | {j:.1f} | {s:.3f} | "
                        f"{s / wall:.0%} |")
    self_s = sum(r["self_ms"] for r in recs) / 1000 / n
    rows.append(f"| driver self | - | {self_s:.3f} | {self_s / wall:.0%} |")
    rows.append(f"| **op wall** | {sum(r['jobs'] for r in recs) / n:.1f} | "
                f"{wall:.3f} | 100% |")
    return "\n".join(rows)

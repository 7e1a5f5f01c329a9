"""Turns the runner's result file into checks, metrics and spans."""
import json
import os
import subprocess

import duckdb
import pyarrow.parquet as pq

import checks

# the library module behind a batch query, by its name's prefix
LAYERS = (("graph", "qg_"), ("ops", "qp_"))


def git_commit(root):
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or None if out.returncode == 0 else None
    except OSError:
        return None


def executed_ops(plan, records):
    """(record, op) in execution order: the warm-up ops, then the ops of
    each pass, the passes numbered across all sections."""
    pos = {}
    for r in records:
        if r["phase"] == "warmup":
            op = plan["warmup"][r["i"]]
        else:
            j = pos.get(r["pass"], 0)
            pos[r["pass"]] = j + 1
            op = plan["passes"][r["pass"]][j]
        yield r, op


def _duck():
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    return con


def _duck_tables(data_dir, tables):
    con = _duck()
    for t in tables:
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    return con


def check_outputs(workload, plan, res, data_dir, out_dir):
    """Every op that failed, plus every op whose output did not match
    DuckDB, counts as failed. A batch query's output is the one its
    first warm-up execution wrote; a mismatch fails all its executions. OLTP
    reads, writes and KV gets are replayed in order against DuckDB and a
    dict, and the written classes' final contents are compared."""
    records = res["records"]
    failed = {r["i"] for r in records if not r["ok"]}
    mismatches = []
    attempted = len(records)
    if workload == "doc_oltp":
        con = _duck_tables(data_dir, ["region", "nation", "customer", "orders", "documents"])
        kv = {}
        for r, op in executed_ops(plan, records):
            if not r["ok"]:
                continue
            kind = op["kind"]
            if kind == "read":
                want = con.execute(f"SELECT count(*) FROM ({op['duck']})").fetchone()[0]
            elif kind == "write":
                want = con.execute(op["duck"]).fetchone()[0]
            elif kind == "kv_put":
                kv[op["key"]] = op["value"]
                continue
            else:
                want = kv.get(op["key"])
            if r["result"] != want:
                failed.add(r["i"])
                mismatches.append(f"op {r['i']} {op['name']}: {r['result']} != {want}")
        for cls, cols in plan["final_classes"].items():
            attempted += 1
            why = res["check_errors"].get(cls)
            if why is None:
                why = checks.compare_tables(
                    pq.read_table(os.path.join(out_dir, cls)),
                    con.sql(f"SELECT {', '.join(cols)} FROM {cls}").arrow())
            if why:
                failed.add(f"final:{cls}")
                mismatches.append(f"final {cls}: {why}")
    else:
        con = _duck()
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(data_dir, f)}')")
        # the first warm-up execution of each query wrote its output
        first_ok = {}
        for r in records:
            if r["phase"] == "warmup":
                first_ok.setdefault(r["name"], r["ok"])
        for name in sorted(first_ok):
            why = None if first_ok[name] else "warm-up execution failed"
            if why is None:
                spark_tb = pq.read_table(os.path.join(out_dir, name))
                if name in res["oracle"]:
                    why = checks.compare_tables(spark_tb,
                                                con.sql(res["oracle"][name]).arrow())
                elif spark_tb.num_rows == 0:
                    why = "no rows and no oracle"
            if why:
                mismatches.append(f"{name}: {why}")
                failed |= {r["i"] for r in records if r["name"] == name}
    return {"attempted": attempted, "failed": len(failed), "mismatches": mismatches[:20]}


def _ms(records):
    return [r["ms"] for r in records]


def _union_s(intervals, lo, hi):
    """seconds of [lo, hi] covered by the union of (start, end) intervals."""
    total, cur = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, cur), min(e, hi)
        if e > s:
            total += e - s
            cur = e
    return total


def _latency(values):
    tail = checks.tail_percentile(values)
    return {"n": len(values), "p50": checks.median(values),
            "tail_pct": tail and tail[0], "tail": tail and tail[1]}


def metrics(res, verdicts):
    """(end-to-end metrics, per-layer metrics, full record)."""
    recs = res["records"]
    timed = [r for r in recs if r["phase"] == "timed"]
    k = res["context"]["k"]
    e2e = {
        "setup_s": ((res["first_timed_us"] - res["launch_us"]) / 1e6, "s"),
        "wall_s": (sum(res["pass_walls"]), "s"),
        # the geometric mean, not the median: doc_oltp's ops are 14
        # templates from 5 ms to 3 s, and the median of their mix falls in
        # a gap between templates, so on the same code it spread by 0.14
        # of itself over 5 seeds where the geometric mean spread by 0.02
        "op_geomean_ms": (checks.geomean(_ms(timed)), "ms"),
        "ok_frac": (1 - verdicts["failed"] / verdicts["attempted"], "ratio"),
        "retained_heap_mb": (res["heap_mb"], "MB"),
    }
    classes = {"read": ["read"], "write": ["write"], "kv": ["kv_put", "kv_get"]}
    latency = {c: _latency(_ms([r for r in timed if r["kind"] in kinds]))
               for c, kinds in classes.items()}
    latency["op"] = _latency(_ms(timed))

    tr = [r for r in recs if r["phase"] == "traced"]
    per = {}
    if tr:
        per = per_layer(res, tr, latency, k)
    record = {"metrics": {n: v for n, (v, _) in e2e.items()},
              "latency_ms": latency, "passes": len(res["pass_walls"]),
              "pass_walls_s": res["pass_walls"], "checks": verdicts,
              "failed_frac": verdicts["failed"] / verdicts["attempted"],
              "per_layer": {n: v for n, (v, _) in per.items()},
              "errors": sorted({r["err"] for r in recs if r["err"]})[:10]}
    return e2e, per, record


def metric_line(metrics, names, digits=None):
    """The `metrics` object of the result line: every named metric as
    {"value", "unit"}; a metric the workload has no samples for reads 0.
    `digits` rounds to that many significant digits (the full values
    stay in the run record)."""
    out = {}
    for n in names:
        v, unit = metrics[n]
        v = v or 0
        out[n] = {"value": float(f"{v:.{digits}g}") if digits else v, "unit": unit}
    return out


def per_layer(res, tr, latency, k):
    """Layer metrics of the traced section `tr`: Spark counters per pass,
    graph/ops build and exec per pass, engine, Catalyst and KV means per
    op; the OLTP latency classes come from the untraced section."""
    walls = res["traced_walls"]
    npass = len(walls)
    lo, hi = res["trace_us"][0] / 1000, res["trace_us"][1] / 1000
    ids = {r["i"] for r in tr}
    jobs = [j for j in res["jobs"] if j[1] in ids]
    busy_s = _union_s([(j[3], j[4]) for j in jobs if j[4] >= 0], lo, hi) / 1000

    def per_pass(f, rs=tr):
        return sum(f(r) if callable(f) else r[f] for r in rs) / npass

    def mean(f, rs):
        return sum(f(r) if callable(f) else r[f] for r in rs) / len(rs) if rs else 0

    def build_s(r):
        return _span_s(r["build_us"])

    def exec_s(r):
        return _span_s(r["exec_us"])
    mb = 1 / 1048576
    per = {
        "spark.jobs": (len(jobs) / npass, "count"),
        "spark.stages": (per_pass("stages"), "count"),
        "spark.tasks": (per_pass("tasks"), "count"),
        "spark.idle_gap_s": (((hi - lo) / 1000 - busy_s) / npass, "s"),
        "spark.core_busy_frac": (sum(r["task_ms"] for r in tr) / 1000 / (sum(walls) * k),
                                 "ratio"),
        "spark.task_s": (per_pass("task_ms") / 1000, "s"),
        "spark.task_cpu_s": (per_pass("cpu_ms") / 1000, "s"),
        "spark.gc_s": (per_pass("gc_ms") / 1000, "s"),
        "spark.shuffle_write_mb": (per_pass("shuffle_write") * mb, "MB"),
        "spark.shuffle_read_mb": (per_pass("shuffle_read") * mb, "MB"),
        "spark.spill_mb": (per_pass("spill") * mb, "MB"),
        "spark.storage_peak_mb": (res["storage_peak"] * mb, "MB"),
        "spark.task_failures": (sum(r["task_failures"] for r in tr), "count"),
        "sources.bytes_read": (per_pass("bytes_read"), "B"),
        "sources.records_read": (per_pass("records_read"), "count"),
    }
    for layer, prefix in LAYERS:
        rs = [r for r in tr if r["kind"] == "query" and r["name"].startswith(prefix)]
        per[f"{layer}.build_s"] = (per_pass(build_s, rs), "s")
        per[f"{layer}.build_jobs"] = (per_pass("build_jobs", rs), "count")
        per[f"{layer}.exec_s"] = (per_pass(exec_s, rs), "s")
    eng = [r for r in tr if r["kind"] in ("read", "write")]
    reads = [r for r in eng if r["kind"] == "read" and r["ok"]]
    rows = sum(r["result"] for r in reads)
    writes = [r for r in eng if r["kind"] == "write" and r["plan_nodes"] >= 0]
    kvs = [r for r in tr if r["kind"].startswith("kv_")]
    puts = [r for r in kvs if r["kind"] == "kv_put" and r["plan_nodes"] >= 0]
    # traced section wall minus the mean of the untraced sections
    # before and after it, per pass
    untraced = (sum(res["pass_walls"]) + sum(res["after_walls"])) / 2
    per.update({
        "engine.parse_ms": (mean("parse_ms", eng), "ms"),
        "engine.build_ms": (mean(build_s, eng) * 1000, "ms"),
        "engine.exec_ms": (mean(exec_s, eng) * 1000, "ms"),
        "engine.build_jobs": (mean("build_jobs", eng), "count"),
        "engine.rows_scanned_per_row": (sum(r["records_read"] for r in reads) / rows
                                        if rows else 0, "ratio"),
        "catalog.plan_nodes": (mean("plan_nodes", writes), "count"),
        "catalyst.analysis_ms": (mean("analysis_ms", tr), "ms"),
        "catalyst.optimize_ms": (mean("optimize_ms", tr), "ms"),
        "catalyst.plan_ms": (mean("plan_ms", tr), "ms"),
        "kv.jobs_per_op": (mean("jobs", kvs), "count"),
        "kv.plan_nodes": (mean("plan_nodes", puts), "count"),
        "trace.overhead_s": ((sum(walls) - untraced) / npass, "s"),
    })
    per["op.p50_ms"] = (latency["op"]["p50"], "ms")
    for c in ("read", "write", "kv"):
        per[f"oltp.{c}_p50_ms"] = (latency[c]["p50"], "ms")
        per[f"oltp.{c}_p90_ms"] = (latency[c]["tail"], "ms")
    return per


def _span_s(us):
    return (us[1] - us[0]) / 1e6 if us[0] >= 0 and us[1] >= 0 else 0.0


# per-op counters the runner records for a traced op
COUNTERS = ("ms", "parse_ms", "jobs", "build_jobs", "stages", "tasks", "task_ms",
            "cpu_ms", "gc_ms", "shuffle_write", "shuffle_read", "spill", "bytes_read",
            "records_read", "task_failures", "analysis_ms", "optimize_ms", "plan_ms")


def layer_of(r):
    if r["kind"] == "query":
        return next(layer for layer, prefix in LAYERS if r["name"].startswith(prefix))
    return "kv" if r["kind"].startswith("kv_") else "engine"


def write_trace(path, res):
    """Spans of the traced section (op > build/exec > job > stage), and
    per op name and per layer the summed counters and self times. A
    span's self time is its duration minus the time its children cover:
    an op's children are its build and exec spans, theirs the jobs
    launched in them."""
    tr = [r for r in res["records"] if r["phase"] == "traced"]
    ids = {r["i"] for r in tr}
    jobs = [j for j in res["jobs"] if j[1] in ids]
    spans, per_op, per_layer = [], {}, {}
    for r in tr:
        op = f"op:{r['i']}"
        spans.append({"id": op, "parent": None, "name": r["name"],
                      "start_us": r["start_us"], "end_us": r["end_us"]})
        self_s = {}
        for ph in ("build", "exec"):
            lo, hi = r[f"{ph}_us"]
            if lo < 0:
                continue
            spans.append({"id": f"{ph}:{r['i']}", "parent": op, "name": ph,
                          "start_us": lo, "end_us": hi})
            covered = _union_s([(j[3] * 1000, j[4] * 1000) for j in jobs
                                if j[1] == r["i"] and j[2] == ph and j[4] >= 0], lo, hi)
            self_s[f"{ph}_self_s"] = (hi - lo - covered) / 1e6
        children = [tuple(r[f"{ph}_us"]) for ph in ("build", "exec") if r[f"{ph}_us"][0] >= 0]
        self_s["op_self_s"] = (r["end_us"] - r["start_us"]
                               - _union_s(children, r["start_us"], r["end_us"])) / 1e6
        row = dict(self_s, n=1, **{c: r[c] for c in COUNTERS})
        for table, key in ((per_op, r["name"]), (per_layer, layer_of(r))):
            agg = table.setdefault(key, {})
            for f, v in row.items():
                agg[f] = agg.get(f, 0) + v
    for j in jobs:
        spans.append({"id": f"job:{j[0]}", "parent": f"{j[2] or 'op'}:{j[1]}",
                      "name": f"job {j[0]}", "start_us": j[3] * 1000,
                      "end_us": j[4] * 1000, "ok": j[5]})
    for s in res["stages"]:
        if s[3] in ids:
            spans.append({"id": f"stage:{s[0]}.{s[1]}", "parent": f"job:{s[2]}",
                          "name": f"stage {s[0]}", "start_us": s[4] * 1000,
                          "end_us": s[5] * 1000, "tasks": s[6], "failed": s[7]})
    with open(path, "w") as fh:
        json.dump({"passes": len(res["traced_walls"]), "per_layer": per_layer,
                   "per_op": per_op, "spans": spans}, fh)

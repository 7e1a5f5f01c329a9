#!/usr/bin/env python3
"""graft benchmark: one closed-loop client thread, one JVM, Spark local[k].

Usage (from the repo root):
  python3 graftbench/run.py --workload graph_iter --seed 1 --seconds 14 --trace 0

A run builds the library and the benchmark's Scala runner when their
sources changed (graftbench/build.py), generates the workload's tables
and op stream from --seed (datagen.py, workloads.py), and runs them in
graftbench/scala/graft/bench/Runner.scala: set-up (JVM, Spark session,
one warm-up execution of every distinct op, and for doc_oltp one more
pass), then a timed section of a fixed number of passes, --seconds /
PASS_S rounded; with --trace 1 an untraced, a traced and another
untraced section. It checks every output against DuckDB and prints one
JSON line last on stdout: the end-to-end metrics with --trace 0, the
per-layer metrics of the traced section with --trace 1. The full record of the run (context, sample counts, check
results) and, when traced, its spans go to
.bench_build/graftbench/runs/<workload>-s<seed>-t<trace>/.
"""
import argparse
import json
import os
import subprocess
import sys
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave the benchmark's directory as checked out

import build  # noqa: E402
import datagen  # noqa: E402
import report  # noqa: E402
import workloads  # noqa: E402

# scale factor of the generated tables (datagen.tables): 1,500
# customers, 15,000 orders and 200 documents
SF = 0.01
HEAP = "3g"
# Spark local[k] with one core of a 4-core machine left to the driver
# thread, the JIT and GC: with all 4 cores running tasks, graph_iter's
# wall varied by 18% (IQR/median over 5 seeds) between runs, with 3 by 5%
K = 3
# nominal wall of one pass: a timed section is the fixed number of
# passes closest to --seconds. At --seconds 14 that is one graph_iter
# pass (3 ops) and two doc_oltp passes (40 ops, four samples of each
# read template)
PASS_S = {"graph_iter": 12.0, "doc_oltp": 7.0}
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
# the runner's share of the 180 s a run may take
DEADLINE_S = 150


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(PASS_S))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def make_plan(args, data_dir, out_dir):
    """Warm-up ops and the timed passes: one section, or with --trace
    three of the same length (untraced, traced, untraced). At full length
    each doc_oltp section holds one checkpoint of each written class, so
    the traced section is compared with untraced ones of the same work."""
    n = max(1, round(args.seconds / PASS_S[args.workload]))
    total = n * (3 if args.trace else 1)
    if args.workload == "doc_oltp":
        rows = {t: pq.read_metadata(os.path.join(data_dir, f"{t}.parquet")).num_rows
                for t in ("customer", "orders")}
        warm, passes = workloads.oltp_plan(args.seed, rows["customer"],
                                           rows["orders"], total)
    else:
        warm, passes = workloads.batch_plan(workloads.GRAPH_QUERIES, args.seed, total)
    return {"workload": args.workload, "data_dir": data_dir, "out_dir": out_dir,
            "k": max(1, min(K, (os.cpu_count() or 1) - 1)), "section_passes": n,
            "trace": bool(args.trace), "warmup": warm, "passes": passes,
            "final_classes": workloads.WRITTEN}


def run_jvm(classes, plan, out_dir, launch_budget):
    plan_path = os.path.join(out_dir, "plan.json")
    result_path = os.path.join(out_dir, "result.json")
    with open(plan_path, "w") as fh:
        json.dump(plan, fh)
    if os.path.exists(result_path):
        os.remove(result_path)
    cp = os.pathsep.join([classes] + build.spark_classpath())
    cmd = (["java", f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={os.path.join(out_dir, 'tmp')}"]
           + [a for m in JDK_OPENS for a in ("--add-opens", f"java.base/{m}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.bench.Runner", plan_path, result_path])
    os.makedirs(os.path.join(out_dir, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(out_dir, "tmp"))
    with open(os.path.join(out_dir, "jvm.log"), "w") as log:
        launch_us = time.time_ns() // 1000
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            rc = proc.wait(timeout=launch_budget)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"runner exceeded {launch_budget:.0f} s")
    if rc != 0 or not os.path.exists(result_path):
        raise RuntimeError(f"runner exited {rc}; see {out_dir}/jvm.log")
    with open(result_path) as fh:
        res = json.load(fh)
    res["launch_us"] = launch_us
    return res


def main(argv):
    t_start = time.time()
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        print(f"graftbench: no library sources under {root}/src/main/scala; "
              "run from the repo root", file=sys.stderr)
        return 2
    # the benchmark's inputs and outputs all live under .bench_build
    classes, digest = build.build(root)
    t_built = time.time()
    base = os.path.join(root, ".bench_build", "graftbench")
    data_dir = datagen.generate(os.path.join(base, "data", f"sf{SF}-s{args.seed}"),
                                args.seed, SF)
    out_dir = os.path.join(base, "runs", f"{args.workload}-s{args.seed}-t{args.trace}")
    os.makedirs(out_dir, exist_ok=True)
    plan = make_plan(args, data_dir, out_dir)
    t_jvm = time.time()
    res = run_jvm(classes, plan, out_dir, DEADLINE_S - (t_jvm - t_built))
    t_check = time.time()
    verdicts = report.check_outputs(args.workload, plan, res, data_dir, out_dir)
    context = dict(res["context"], seed=args.seed, workload=args.workload,
                   scale_factor=SF, heap=HEAP, seconds=args.seconds,
                   source_sha256=digest, commit=report.git_commit(root),
                   build_s=t_built - t_start, inputs_s=t_jvm - t_built,
                   jvm_s=t_check - t_jvm, check_s=time.time() - t_check)
    e2e, per_layer, record = report.metrics(res, verdicts)
    record["context"] = context
    with open(os.path.join(out_dir, "record.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    if args.trace:
        report.write_trace(os.path.join(out_dir, "trace.json"), res)
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    # per-layer values are cut to 6 significant digits so that the line
    # stays under 2,000 characters
    metrics = (report.metric_line(per_layer, [m["name"] for m in spec["per_layer"]], 6)
               if args.trace else
               report.metric_line(e2e, [m["name"] for m in spec["end_to_end"]]))
    line = {"correct": verdicts["failed"] == 0, "attempted": verdicts["attempted"],
            "failed": verdicts["failed"], "metrics": metrics}
    print(json.dumps(line, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except (RuntimeError, subprocess.CalledProcessError, OSError) as e:
        print(f"graftbench: {e}", file=sys.stderr)
        sys.exit(1)

"""Benchmark entry point.

    python3 perfbench/run.py --workload block_ingest --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  Prints the run's result as the last
line of standard output:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` they are its per-layer metrics, and the spans are
written to ``.perfbench_out/trace-<workload>-<seed>.json``.  Every file the
run creates lives under ``.perfbench_work/`` (deleted at exit) or
``.perfbench_out/``.  Progress and failures go to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

E2E_UNITS = {
    "setup_s": "s", "cold_pass_s": "s", "ops_per_s": "1/s",
    "op_p50_ms": "ms", "op_p90_ms": "ms", "driver_rss_mb": "MB",
}
# per-layer metrics: span self times and counts, per timed op unless noted
LAYER_UNITS = {
    "session.start_ms": "ms",
    "promql_expr.parse_ms": "ms", "promql_expr.plan_ms": "ms",
    "promql_api.envelope_ms": "ms", "promql_api.rows_collected": "count",
    "spark.exec_ms": "ms", "spark.jobs_per_op": "count", "spark.tasks_per_op": "count",
    "spark.scan_ms": "ms", "spark.pipeline_ms": "ms", "spark.shuffle_write_ms": "ms",
    "spark.shuffle_bytes": "B", "spark.broadcast_collect_ms": "ms",
    "arrow.python_boot_ms": "ms", "arrow.python_init_ms": "ms",
    "arrow.python_exec_ms": "ms", "arrow.bytes_sent": "B",
    "entry.plan_ms": "ms",
    "tsdb_block.read_index_ms": "ms", "tsdb_block.decode_ms": "ms",
    "tsdb_block.samples_decoded": "count",
    "writer.write_sorted_ms": "ms", "writer.files_written": "count",
    "writer.bytes_written": "B",
    "maintenance.compact_ms": "ms", "maintenance.bytes_rewritten": "B",
    "timeseries.load_tsdb_ms": "ms", "datasource.block_read_ms": "ms",
    "ingest.samples_per_s": "1/s", "ingest.bytes_per_sample": "B",
    "jvm.rss_peak_mb": "MB", "trace.op_ms": "ms", "trace.ops_per_s_delta": "1/s",
}
# span name -> per-layer metric fed by its self time
SPAN_SELF = {
    "promql_expr.parse": "promql_expr.parse_ms",
    "promql_expr.plan": "promql_expr.plan_ms",
    "entry.plan": "entry.plan_ms",
    "spark.exec": "spark.exec_ms",
    "tsdb_block.read_index": "tsdb_block.read_index_ms",
    "tsdb_block.decode": "tsdb_block.decode_ms",
    "writer.write_sorted": "writer.write_sorted_ms",
    "maintenance.compact": "maintenance.compact_ms",
    "timeseries.load_tsdb": "timeseries.load_tsdb_ms",
    "datasource.block_read": "datasource.block_read_ms",
}
COLD_ONLY = ("arrow.python_boot_ms", "arrow.python_init_ms")


def pin_environment(work: str) -> None:
    """Everything Spark, its Python workers and the JVM write goes under
    ``work``; workers import the program from this checkout."""
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.update({
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": cpus,
        "TSDB_SPARK_DRIVER_MEM": "3g",
    })
    for var in ("SPARK_GRAFT_SF_DIR", "TSDB_SPARK_TSDB_PATH", "TSDB_SPARK_CODEC"):
        os.environ.pop(var, None)


def layer_metrics(res: dict, ctx) -> dict[str, float]:
    timed = res.pop("_traced")
    cold = res.pop("_cold")
    ops = {e.op_id for e in timed}
    n = len(timed)
    tr = ctx.tracer
    self_ms, total_ms, counts = tr.self_ms(ops), tr.total_ms(ops), tr.counts_for(ops)
    cold_counts = tr.counts_for({e.op_id for e in cold})
    out = {k: 0.0 for k in LAYER_UNITS}
    for span, metric in SPAN_SELF.items():
        out[metric] = self_ms.get(span, 0.0) / n
    for name in LAYER_UNITS:
        if name in counts and name != "spark.exec_ms":
            out[name] = counts[name] / n
    for name in COLD_ONLY:
        out[name] = cold_counts.get(name, 0.0)
    # PromQL ops: the probe re-ran each formatter's plan with toArrow()
    probe_ms = counts.get("spark.exec_ms", 0.0)
    out["spark.exec_ms"] += probe_ms / n
    out["promql_api.envelope_ms"] = max(0.0, total_ms.get("promql_api.format", 0.0) - probe_ms) / n
    out["session.start_ms"] = statistics.median(ctx.detail["session_start_s"]) * 1000.0
    out["trace.op_ms"] = total_ms.get("op", 0.0) / n
    out["trace.ops_per_s_delta"] = res["ops_per_s"] - res.pop("_untraced_ops_per_s")
    out["jvm.rss_peak_mb"] = res.pop("_jvm_rss_mb")
    for k in ("ingest.samples_per_s", "ingest.bytes_per_sample"):
        out[k] = res.get(k, 0.0)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("small", "tiny"), default="small",
                    help="input size; 'tiny' is for the benchmark's own tests")
    args = ap.parse_args(argv)

    for need in ("tsdb_parquet_spark/__init__.py", "__spark_entry__.py",
                 "scripts/check_oracle.py", "data/tsdb.parquet"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a checkout",
                  file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    from perfbench import harness, workloads
    from perfbench.trace import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    pin_environment(work)
    import __spark_entry__  # noqa: F401 - the checkout's driver registry, before any other path

    workload = workloads.WORKLOADS[args.workload]()
    ctx = harness.Ctx(ROOT, work, args.seed, args.scale, bool(args.trace), Tracer())
    runner = harness.Runner(workload, ctx, args.seconds)
    try:
        out = runner.run(trace=bool(args.trace))
    finally:
        harness.stop_session(ctx)
        jvm_rss = harness.shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    res = out["metrics"]
    if args.trace:
        res["_jvm_rss_mb"] = jvm_rss
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]}
                   for k, v in layer_metrics(res, ctx).items()}
        outdir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(outdir, exist_ok=True)
        ctx.tracer.dump(os.path.join(outdir, f"trace-{args.workload}-{args.seed}.json"))
    else:
        metrics = {k: {"value": res[k], "unit": u} for k, u in E2E_UNITS.items()}
    detail = {k: v for k, v in ctx.detail.items() if not k.startswith("_")}
    print("perfbench detail " + json.dumps(detail, default=str), file=sys.stderr)
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

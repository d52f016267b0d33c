"""The benchmark harness behind ``run.py``: one workload, one closed
loop, one result line. See ``run.py`` for the command line and
``README.md`` for the workloads and metrics."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

from perfbench import host, trace, workloads
from perfbench.stats import highest_supported_percentile, median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = "summit_23_snowpark_data_lake_workloads_spark"
SCRATCH = os.path.join(ROOT, ".perfbench_scratch")
OUT = os.path.join(ROOT, ".perfbench_out")

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "latency_s_p50": "s",
    "rows_per_s": "1/s",
}
#: the workload's own name for the latency and throughput figures
NAMED = {
    "stream_ingest": ("freshness_s_p50", "rows_per_s"),
    "medallion_batch": ("cycle_s_p50", "rows_per_s"),
}
#: layers whose Spark work the traced run reports, by span-name prefix
LAYERS = [
    "lakehouse", "sink", "txn_refresh", "txn_catalog", "batch",
    "unstructured", "medallion", "catalog", "apps", "dedup",
]
LAYER_WORK = {"jobs": "count", "shuffle_write_mb": "MB", "spill_mb": "MB", "task_skew": "ratio"}
PER_LAYER = {
    "session.get_spark_s": "s",
    "warmup_s": "s",
    "trace.latency_s_p50": "s",
    "lakehouse.append_s": "s",
    "lakehouse.table_schema_s": "s",
    "lakehouse.last_committed_batch_s": "s",
    "lakehouse.versions": "count",
    "lakehouse.live_files": "count",
    "lakehouse.merge_s": "s",
    "lakehouse.delete_mor_s": "s",
    "lakehouse.files_rewritten": "count",
    "sink.drain_s": "s",
    "txn_refresh.tick_s": "s",
    "rollup.incremental_frac": "ratio",
    "txn_catalog.read_s": "s",
    "batch.ingest_s": "s",
    "unstructured.extract_pdf_text_s": "s",
    "unstructured.pdfs_per_s": "1/s",
    "medallion.customer_step_s": "s",
    "medallion.invoice_step_s": "s",
    "medallion.sales_enrich_step_s": "s",
    "catalog.save_table_s": "s",
    "apps.overdue_invoices_s": "s",
    "apps.recommendations_s": "s",
    "dedup.ngram_jaccard_s": "s",
    "dedup.minhash_lsh_s": "s",
    "dedup.clusters_s": "s",
    "dedup.pairs_out": "count",
    **{f"{layer}.{k}": unit for layer in LAYERS for k, unit in LAYER_WORK.items()},
}


class Context:
    def __init__(self, spark, tracer, scratch: str, seed: int):
        self.spark, self.tracer, self.scratch, self.seed = spark, tracer, scratch, seed


def parse_args(argv):
    p = argparse.ArgumentParser(description="Run one perfbench workload.")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, ENGINE)) or not os.path.isdir(
        os.path.join(ROOT, "tests")
    ):
        print(f"engine package {ENGINE} or tests/ not found under {ROOT}", file=sys.stderr)
        return 2
    if args.workload not in workloads.NAMES:
        print(f"unknown workload {args.workload!r}; one of {workloads.NAMES}", file=sys.stderr)
        return 2
    # fresh scratch for every run: no state leaks from one run to the next
    scratch = os.path.join(SCRATCH, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    env = host.spark_env()
    os.environ.update(env)
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    try:
        result, info = run(args, scratch, env)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(info))
    print(json.dumps(result))
    return 0


def run(args, scratch: str, env: dict) -> tuple[dict, dict]:
    wl = workloads.get(args.workload)
    tracer = trace.Tracer(bool(args.trace))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.local.dir": os.path.join(scratch, "tmp"),
        # the whole heap committed and touched up front: peak RSS and GC
        # behaviour stop depending on when the heap happened to grow
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')} "
        f"-Xms{env['SPARK_DRIVER_MEMORY']} -XX:+AlwaysPreTouch",
    }
    if args.trace:
        os.makedirs(os.path.join(scratch, "eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": os.path.join(scratch, "eventlog"),
            }
        )

    t_setup = time.perf_counter()
    with tracer.span("session.get_spark") as s_spark:
        from summit_23_snowpark_data_lake_workloads_spark.session import get_spark

        spark = get_spark(f"perfbench_{args.workload}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    tracer.label_jobs(spark.sparkContext)
    ctx = Context(spark, tracer, scratch, args.seed)
    attempted = failed = 0
    correct = True

    def one(i: int):
        nonlocal attempted, failed, correct
        tracer.op = f"op-{i}"
        attempted += 1
        try:
            sample = wl.op(ctx, i)
            ok = wl.check(ctx, sample)
        except Exception:
            traceback.print_exc()
            sample, ok = None, False
        if not ok:
            failed += 1
            correct = False
        return sample

    try:
        wl.setup(ctx)
        t_warm = time.perf_counter()
        warm = [one(i) for i in range(wl.warmup_ops)]
        warmup_s = time.perf_counter() - t_warm
        setup_s = time.perf_counter() - t_setup

        n_ops = max(3, round(args.seconds / wl.nominal_op_s))
        measured = list(range(wl.warmup_ops, wl.warmup_ops + n_ops))
        meter = host.CpuMeter()
        samples = [one(i) for i in measured]
        contention = meter.stop()
        peak_rss = host.peak_rss_mb([os.getpid(), host.jvm_pid()])

        tracer.op = "finish"
        attempted += 1
        try:
            ok = wl.finish(ctx)
        except Exception:
            traceback.print_exc()
            ok = False
        if not ok:
            failed += 1
            correct = False
        layer = wl.layer_metrics(ctx, measured) if args.trace else {}
    finally:
        host.stop_spark(spark)

    done = [s for s in samples if s is not None]
    latency = median([s.latency_s for s in done]) if done else float("nan")
    # per-operation medians: one operation slowed by a neighbour on the
    # host moves neither figure
    rows_per_s = median([s.rows / s.busy_s for s in done]) if done else float("nan")
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "named": dict(zip(NAMED[args.workload], (latency, rows_per_s))),
        "samples": len(done),
        "highest_supported_percentile": highest_supported_percentile(len(done)),
        "noise_controls": {
            **env,
            "heap_pretouched": True,
            "fresh_scratch": True,
            "warmup_ops": wl.warmup_ops,
            "warmup_op_s": [round(s.busy_s, 3) for s in warm if s is not None],
            "measured_ops": n_ops,
            "measured_op_s": [round(s.busy_s, 3) for s in done],
            **contention,
        },
    }
    if not args.trace:
        metrics = {
            "setup_s": setup_s,
            "peak_rss_mb": peak_rss,
            "latency_s_p50": latency,
            "rows_per_s": rows_per_s,
        }
        return _result(correct, attempted, failed, metrics, END_TO_END), info

    ops = [f"op-{i}" for i in measured]
    work = trace.attribute(
        *trace.read_event_log(_only_log(os.path.join(scratch, "eventlog"))), tracer.spans
    )
    metrics = {
        "session.get_spark_s": s_spark.duration,
        "warmup_s": warmup_s,
        "trace.latency_s_p50": latency,
        **{m: _median_or_0(tracer.durations(span, ops)) for m, span in wl.spans.items()},
        **layer,
        **trace.layer_work(tracer.spans, work, ops, LAYERS),
    }
    path = os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace.json")
    tracer.dump(path, {k: vars(v) for k, v in work.items()})
    info["trace_file"] = os.path.relpath(path, ROOT)
    return _result(correct, attempted, failed, metrics, PER_LAYER), info


def _result(correct, attempted, failed, values: dict, units: dict) -> dict:
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            name: {"value": float(values.get(name, 0.0)), "unit": unit}
            for name, unit in units.items()
        },
    }


def _median_or_0(xs: list[float]) -> float:
    return median(xs) if xs else 0.0


def _only_log(eventlog_dir: str) -> str:
    (app,) = os.listdir(eventlog_dir)
    return os.path.join(eventlog_dir, app)

#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload {sync,analytics} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. The run builds a Spark session sized to
the CPUs it may use, generates the workload's inputs from ``--seed``,
warms up, times a body of fixed work sized to last about ``--seconds``
on a 4-core box, checks every output against an independent reference
and prints, as its last stdout line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the body runs
twice (untraced, then traced) and the metrics are the per-layer ones.
Lines before it starting with ``#`` describe the host, the traffic and
every operation. All scratch state lives in ``.perfbench-work/`` under
the current directory and is removed at exit, except the reference
cache.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402
from harness import RssSampler, hd_quantile, tail_percentile  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "records_per_s": "1/s",
}
LAYERS = ("sources", "pipeline", "queries", "operators")
PER_LAYER = {
    "session.get_spark_s": "s",
    "pipeline.cycle_s": "s",
    "pipeline.self_s": "s",
    "pipeline.full_load_s": "s",
    "pipeline.noop_cycle_s": "s",
    "pipeline.rows_extracted": "count",
    "pipeline.rows_loaded": "count",
    "sources.sf_model.rows_read": "count",
    "sources.sf_model.useful_ratio": "ratio",
    "sources.jdbc.upsert_s": "s",
    "sources.jdbc.upsert_rows": "count",
    "sources.incremental.advance_watermark_s": "s",
    "sources.load_s": "s",
    "queries.build_s": "s",
    "queries.exec_s": "s",
    **{f"queries.{q}.exec_s": "s" for q in (
        "q_agg_group", "q_join_star", "q_win_dedup_latest", "q_sort",
        "q_snapshot_diff", "q_funnel", "q_sessionize", "q_rollup_cascade",
        "q_join_asof", "q_agg_countdistinct", "q_quantile_sketch",
        "q_cohort_retention",
    )},
    **{f"{s}_s": "s" for s in (
        "operators.repetition.repetition_profile",
        "operators.dupspans.strip_dup_spans",
        "operators.dedup.neardup_pairs",
        "operators.clustering.dedup_clusters",
        "operators.simsearch.semdedup_pairs",
        "operators.decontam.contamination_overlap",
        "operators.mixture.budget_select",
    )},
    "operators.dedup.pairs_out": "count",
    "operators.clustering.clusters_out": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.input_bytes": "B",
    "spark.utilisation": "ratio",
    "spark.jvm_gc_s": "s",
    "spark.task_failures": "count",
    **{f"self.{layer}_s": "s" for layer in LAYERS},
    "trace.uncovered_s": "s",
    "trace.overhead_s": "s",
    "trace.bookkeeping_s": "s",
}


def _workload(name: str):
    if name == "sync":
        from sync import Sync

        return Sync
    from analytics import Analytics

    return Analytics


def _note(label: str, value) -> None:
    print(f"# {label}: {json.dumps(value, default=str)}", flush=True)


def host_info(spark) -> dict:
    import duckdb
    import numpy
    import pyarrow
    import pyspark

    return {
        "cores": harness.cpu_count(),
        "ram_mb": harness.ram_mb(),
        "driver_mem_mb": harness.driver_mem_mb(),
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "python": platform.python_version(),
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
    }


def end_to_end(wl, body, setup_s: float, peak_bytes: int) -> tuple[dict, dict]:
    main = body.main(wl.op_kinds)
    secs = [o.seconds for o in main]
    p_tail = tail_percentile(len(secs))
    values = {
        "setup_s": setup_s,
        "run_s": body.seconds,
        "op_p50_s": hd_quantile(secs, 0.5),
        "op_tail_s": hd_quantile(secs, p_tail),
        "records_per_s": sum(o.records for o in main) / sum(secs),
    }
    notes = {"op_kinds": wl.op_kinds, "op_samples": len(secs),
             "op_tail_percentile": round(100 * p_tail, 1), "op_sample_median": statistics.median(secs),
             "op_sample_max": max(secs), "peak_rss_mb": peak_bytes / 2**20}
    return values, notes


def per_layer(wl, spark, tracer, body, untraced, session_s: float) -> dict:
    from spans import SparkMetrics

    sm = SparkMetrics(spark)
    values = {k: 0.0 for k in PER_LAYER}
    values["session.get_spark_s"] = session_s
    values.update(wl.layer_metrics(tracer, sm))
    n_ops = max(1, len(body.ops))
    spark_tot = sm.for_spans([s.sid for s in tracer.spans])
    for k in ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes", "input_bytes"):
        values[f"spark.{k}"] = spark_tot.get(k, 0.0) / n_ops
    cores = harness.cpu_count()
    values["spark.utilisation"] = spark_tot.get("executor_run_s", 0.0) / (body.seconds * cores)
    values["spark.jvm_gc_s"] = spark_tot.get("jvm_gc_s", 0.0)
    values["spark.task_failures"] = spark_tot.get("task_failures", 0.0)
    for layer, sec in tracer.self_seconds().items():
        if f"self.{layer}_s" in values:
            values[f"self.{layer}_s"] = sec
    t_end = body.t0 + body.seconds
    values["trace.uncovered_s"] = body.seconds - tracer.covered_seconds(body.t0, t_end)
    values["trace.overhead_s"] = body.seconds - untraced.seconds
    values["trace.bookkeeping_s"] = tracer.bookkeeping_s
    return values


def run(args) -> dict:
    work = harness.make_workdir()
    spark = None
    try:
        harness.pin_environment(work, ui=args.trace == 1)
        sys.path.insert(0, harness.ROOT)
        from spans import Tracer

        with RssSampler() as rss:
            t = time.perf_counter()
            from salesforce_postgresql_etl_spark.session import get_spark

            spark = get_spark(app_name=f"perfbench-{args.workload}")
            session_s = time.perf_counter() - t
            spark.sparkContext.setLogLevel("ERROR")
            _note("host", host_info(spark))
            wl = _workload(args.workload)(spark, work, args.seed, args.seconds, args.smoke)
            wl.setup()
            setup_s = time.perf_counter() - T0
            untraced = wl.body(Tracer())
            body, tracer = untraced, None
            if args.trace:
                tracer = Tracer(spark, enabled=True)
                wl.trace_hooks(tracer)
                try:
                    body = wl.body(tracer)
                finally:
                    tracer.unwrap_all()
            peak = rss.peak_bytes

        bad = wl.verify()
        failed = sum(1 for o in body.ops if not o.ok or o.name in bad)
        for o in body.ops:
            _note("op", {"kind": o.kind, "name": o.name, "s": round(o.seconds, 4),
                         "records": o.records, "ok": o.ok and o.name not in bad, "error": o.error})
        for msg in bad.values():
            _note("mismatch", msg)
        _note("traffic", wl.traffic())
        e2e, notes = end_to_end(wl, body, setup_s, peak)
        notes.update(session_s=session_s, prep_s=wl.prep_s,
                     failed_frac=failed / max(1, len(body.ops)))
        for kind in {o.kind for o in body.ops} - set(wl.op_kinds):  # sync's full load and no-op cycle
            notes[f"{kind}_s"] = statistics.median(o.seconds for o in body.main((kind,)))
        _note("summary", notes)
        if args.trace:
            values = per_layer(wl, spark, tracer, body, untraced, session_s)
            units = PER_LAYER
        else:
            values, units = e2e, END_TO_END
        return {
            "correct": failed == 0 and not bad,
            "attempted": len(body.ops),
            "failed": failed,
            "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
        }
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("sync", "analytics"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the self-test")
    args = ap.parse_args(argv)
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

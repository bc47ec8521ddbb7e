"""Per-layer metrics of the traced run.

Every metric is printed for every workload; a layer the workload does not
exercise reports 0. Times and counters are medians over the traced
operations of the per-operation value.
"""

from __future__ import annotations

import time

import corpus
import measure

ENGINE = {  # per-layer name -> event-log counter (per operation)
    "spark.jobs_per_op": "jobs",
    "spark.stages_per_op": "stages",
    "spark.tasks_per_op": "tasks",
    "spark.scheduler_delay_s": "sched_delay_s",
    "spark.executor_run_s": "run_s",
    "spark.executor_cpu_s": "cpu_s",
    "spark.shuffle_write_bytes": "shuffle_write_bytes",
    "spark.shuffle_read_bytes": "shuffle_read_bytes",
    "spark.shuffle_fetch_wait_s": "fetch_wait_s",
    "spark.spill_bytes": "spill_bytes",
}
STREAM_FIELDS = {"trigger_s": "s", "add_batch_s": "s", "planning_s": "s", "commit_s": "s",
                 "state_rows": "count", "state_bytes": "bytes", "state_commit_s": "s"}

PER_LAYER: dict[str, str] = {
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.scheduler_delay_s": "s",
    "battery.floor_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_fetch_wait_s": "s",
    "spark.spill_bytes": "bytes",
    "spark.jvm_gc_s": "s",
    "session.get_spark_s": "s",
    "sources.read_odds_json.self_s": "s",
    "sources.input_bytes": "bytes",
    "sources.games_in": "count",
    "flatten.self_s": "s",
    "flatten.rows_out": "count",
    "odds.self_s": "s",
    "odds.exchanges": "count",
    "markets.self_s": "s",
    "markets.exchanges": "count",
    "markets.shuffle_bytes": "bytes",
    "ev.self_s": "s",
    "app.collect_s": "s",
    "app.rows_collected": "count",
    "sinks.append_s": "s",
    "sinks.files_written": "count",
    "sinks.bytes_written_per_user_byte": "ratio",
    "sinks.compact_s": "s",
    "sinks.bytes_rewritten": "bytes",
    "sinks.files_live": "count",
    **{f"stream.{q}.{k}": u for q in ("dedup", "rollup", "moves") for k, u in STREAM_FIELDS.items()},
    "stream.moves.python_rows_sent": "count",
    "stream.moves.events_out": "count",
    **{f"battery.{e}_s": "s" for e in corpus.ENTRIES},
    "features.self_s": "s",
    "forecast.train_s": "s",
    "forecast.iterations": "count",
    "forecast.predict_s": "s",
    "evaluation.backtest_s": "s",
    "forecast.cycle_s": "s",
    "process.peak_rss_mb": "MB",
    "trace.op_p50_s": "s",
    "trace.overhead_pct": "%",
}


def battery_floor(spark) -> float:
    """The near-empty query floor: min of four runs of a 1k-row, 8-task
    group-by through the noop sink (the same query as bench.py's
    ``calib_floor_sec``)."""
    from pyspark.sql import functions as F

    samples = []
    for _ in range(4):
        df = (spark.range(0, 1_000, 1, 8).groupBy((F.col("id") % 10).alias("k"))
              .agg(F.count("*").alias("n")))
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        samples.append(time.perf_counter() - t0)
    return min(samples)


def per_layer_metrics(run, groups: dict, get_spark_s: float, floor_s: float):
    spans = run.tracer.spans
    samples = {k: v for k, v in run.layer.items() if not k.startswith("_")}
    for op in run.layer.get("_engine_ops", []):
        c = measure.span_counters(
            spans, groups, lambda s: s["op"] == op and not s["name"].startswith("prefix."))
        for name, key in ENGINE.items():
            samples.setdefault(name, []).append(c[key])
    # the flatten below the markets tables shuffles nothing, so their
    # prefixes' shuffle writes are the markets layer's own
    for ids in run.layer.get("_markets_spans", []):
        samples.setdefault("markets.shuffle_bytes", []).append(sum(
            groups.get(g, {}).get("shuffle_write_bytes", 0.0)
            for sid in ids for g in spans[sid]["groups"]))
    if run.layer.get("_sinks.user_bytes"):  # a ratio of sums, not a median of ratios
        samples["sinks.bytes_written_per_user_byte"] = [
            sum(run.layer["_sinks.written_bytes"]) / sum(run.layer["_sinks.user_bytes"])]
    samples["session.get_spark_s"] = [get_spark_s]
    samples["battery.floor_s"] = [floor_s]
    samples["process.peak_rss_mb"] = [run.rss.total_mb()]
    traced, plain = measure.median(run.traced_op_s), measure.median(run.op_s)
    samples["trace.op_p50_s"] = [traced]
    samples["trace.overhead_pct"] = [(traced / plain - 1.0) * 100.0 if plain else 0.0]
    metrics = {name: {"value": measure.median(samples.get(name, [])), "unit": unit}
               for name, unit in PER_LAYER.items()}
    notes = [f"traced operations: {len(run.traced_op_s)}, untraced reference: {len(run.op_s)}",
             f"tracing overhead: traced op p50 {traced:.4g} s vs untraced {plain:.4g} s"]
    return metrics, notes

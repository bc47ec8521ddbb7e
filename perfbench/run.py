"""Benchmark entry point for the sports-odds engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload odds_backfill --seed 1 --seconds 6 --trace 0

Builds its inputs from ``--seed``, runs one workload in this process (one
Spark session on ``local[nproc]``, one closed-loop client), verifies every
operation and prints, as the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` is a separate traced run that reports the
per-layer metrics. Everything the run writes stays under ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "sports_data_integration_and_forecasting_pipeline_spark"

# End-to-end metric -> the name the workload's own documentation gives it.
E2E_ALIASES = {
    "odds_backfill": {"rows_per_s": "backfill_rows_per_s"},
    "line_stream": {"op_p50_s": "microbatch_p50_s", "rows_per_s": "line_changes_per_s"},
}
TAIL_ALIASES = {"line_stream": "microbatch_tail_s"}
E2E_UNITS = {"setup_s": "s", "op_p50_s": "s", "rows_per_s": "1/s"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(work: Path) -> None:
    """One Spark process on every core this process may use, with all
    scratch space inside the working directory."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)  # keep get_spark's 8g default
    for d in ("tmp", "spark-local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # the JVM that spark-submit starts to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"


def session_conf(work: Path, event_log: Path | None) -> dict[str, str]:
    import measure

    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update(measure.event_log_conf(event_log))
    return conf


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait for every child to exit."""
    import measure

    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while measure.descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def e2e_metrics(run, workload: str) -> tuple[dict, list[str]]:
    import measure

    values = {
        "setup_s": run.setup_s,
        "op_p50_s": measure.median(run.op_s),
        "rows_per_s": run.rows / sum(run.op_s) if run.op_s else 0.0,
    }
    # a tail needs 20+ operations; a run of the benchmark's length has a
    # few, so the tail is printed for reading, not reported as a metric
    tail, pct = measure.tail(run.op_s)
    notes = [f"{TAIL_ALIASES.get(workload, 'op_tail_s')} = {tail:.6g} s "
             f"(p{pct} of n={len(run.op_s)} operations)",
             f"peak RSS {run.rss.total_mb():.0f} MB (" + ", ".join(
                 f"{k} {v / 1024:.0f}" for k, v in sorted(run.rss.breakdown.items())) + ")",
             "operation latencies (s): " + " ".join(f"{x:.3f}" for x in run.op_s),
             f"deferred verification took {run.verify_s:.1f} s"]
    return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}, notes


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / PACKAGE).is_dir():
        print(f"error: package {PACKAGE} not found beside {HERE.name}/", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    pin_environment(work)
    sys.path[:0] = [str(HERE), str(ROOT)]

    import corpus
    import layers
    import measure
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; choose from "
              f"{', '.join(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    from sports_data_integration_and_forecasting_pipeline_spark.session import get_spark

    event_log = work / "eventlog" if args.trace else None
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}",
                      extra_conf=session_conf(work, event_log))
    get_spark_s = time.perf_counter() - t0
    run = workloads.Run(spark=spark, work=work, seed=args.seed, seconds=args.seconds,
                        traced=bool(args.trace),
                        tracer=measure.Tracer(spark.sparkContext if args.trace else None))
    try:
        workloads.WORKLOADS[args.workload](run)
        floor_s = 0.0
        if args.trace:
            corpus.run_entries(run)
            floor_s = layers.battery_floor(spark)
    finally:
        run.rss.sample()
        shutdown(spark)

    if args.trace:
        run.tracer.write(work / "spans.jsonl")
        metrics, notes = layers.per_layer_metrics(run, measure.parse_event_log(event_log),
                                                  get_spark_s, floor_s)
    else:
        metrics, notes = e2e_metrics(run, args.workload)
        for name, alias in E2E_ALIASES.get(args.workload, {}).items():
            notes.append(f"{alias} = {name} = {metrics[name]['value']:.6g} {metrics[name]['unit']}")
        if "forecast_s" in run.layer:
            notes.append(f"forecast_s = {measure.median(run.layer['forecast_s']):.6g} s "
                         f"(median of {len(run.layer['forecast_s'])} cycles)")
    error_rate = run.failed / run.attempted if run.attempted else 1.0
    notes.append(f"error_rate = {error_rate:.6g} ({run.failed}/{run.attempted} operations)")
    for problem in run.problems:
        print(f"FAILED {problem}")
    for note in notes:
        print(f"{args.workload}: {note}")
    for name, m in metrics.items():
        print(f"{args.workload}: {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": run.failed == 0 and run.attempted > 0,
                      "attempted": max(1, run.attempted), "failed": run.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

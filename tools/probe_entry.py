"""Isolated same-session probe for individual battery entries.

The standing adjudication instrument (SCALING.md): cross-round bench
deltas are decided by same-session back-to-back probes, never by
bench-line diffs. Rounds 10-13 each rebuilt this ad-hoc; this makes it
a tool.

Usage:
    python tools/probe_entry.py ENTRY [ENTRY ...] [--runs N] [--sf DIR]

Protocol per entry (matches bench.py's convention):
  - bench's md5 + shuffle calibration FIRST and LAST, so the probe
    carries its own host-speed yardstick and drift flag;
  - ``--runs`` timed executions (default 5), plan REBUILT each run,
    driven through the noop sink; run 1 (codegen/plan warm-up) is
    reported but excluded from the min/median/max band;
  - ``release_caches()`` between runs, same as the battery loop.

Prints one JSON line:
  {"sf": ..., "calib_md5_sec": ..., "calib_drift": ...,
   "entries": {name: {"runs": [...], "warm": r1,
                      "min": m, "median": md, "max": mx}}}
"""

from __future__ import annotations

import json
import os
import statistics
import sys
from pathlib import Path
import time

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))


def main() -> None:
    args = [a for a in sys.argv[1:]]
    runs_n = 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names: list[str] = []
    i = 0
    while i < len(args):
        if args[i] == "--runs":
            runs_n = int(args[i + 1])
            i += 2
        elif args[i] == "--sf":
            sf_dir = args[i + 1]
            i += 2
        else:
            names.append(args[i])
            i += 1
    if not names:
        raise SystemExit("usage: probe_entry.py ENTRY [ENTRY ...] "
                         "[--runs N] [--sf DIR]")
    if runs_n < 2:
        # the protocol excludes run 1 (warm-up) from the band; with a
        # single run there is no steady sample to report (r13 ADVICE)
        raise SystemExit("--runs must be >= 2: run 1 is the excluded "
                         "warm-up, so at least one steady run is needed")

    from pyspark.sql import functions as F

    from bench import BUILDER_DOES_CLUSTER_WORK
    from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import release_caches
    from sports_data_integration_and_forecasting_pipeline_spark.plans.battery import QUERIES
    from sports_data_integration_and_forecasting_pipeline_spark.session import get_spark

    # bench.py's fn()-inclusive timing set, plus the bench-EXCLUDED
    # iterative cluster family (their eager checkpointed fixpoints run
    # inside fn(); an action-only timer would measure ~0 — r14 fix,
    # found when dedup_cluster_soft_weights probed 0.09 s vs its 15 s
    # r13 fn()+action row)
    builder_timed = BUILDER_DOES_CLUSTER_WORK | {
        "dedup_cluster_assign", "dedup_cluster_star",
        "dedup_cluster_size_histogram", "dedup_cluster_soft_weights",
        "kcore_cosupply_peel", "pagerank_customer_supplier",
        "markov_steady_state_power", "kmeans_embeddings_lloyd",
        "ivf_centroid_refresh",
    }

    spark = get_spark(app_name="probe")
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    def calib() -> dict:
        out = {}
        for key, mk in [
            ("calib_md5_sec", lambda: spark.range(50_000_000).select(
                F.bit_xor(F.xxhash64(F.md5(F.concat(
                    F.lit("calib"), F.col("id").cast("string"))))))),
            ("calib_shuffle_sec", lambda: spark.range(0, 1_000_000, 1, 64)
                .groupBy((F.col("id") % 4096).alias("k"))
                .agg(F.count("*").alias("n"))),
        ]:
            samples = []
            for _ in range(2):
                df = mk()
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                samples.append(round(time.perf_counter() - t0, 3))
            out[key] = samples[-1]
        return out

    c0 = calib()
    entries: dict[str, dict] = {}
    for name in names:
        spec = QUERIES.get(name)
        if spec is None:
            entries[name] = {"error": "unknown entry"}
            continue
        samples = []
        fn_timed = name in builder_timed
        for _ in range(runs_n):
            if fn_timed:
                t0 = time.perf_counter()
                df = spec.fn(spark, sf_dir)
            else:
                df = spec.fn(spark, sf_dir)
                t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            samples.append(round(time.perf_counter() - t0, 3))
            release_caches()
        steady = samples[1:]
        entries[name] = {
            "runs": samples,
            "warm": samples[0],
            "min": min(steady),
            "median": round(statistics.median(steady), 3),
            "max": max(steady),
            "timer": "fn+action" if fn_timed else "action",
        }
    c1 = calib()
    drift = max(
        abs(c1[k] - c0[k]) / c0[k]
        for k in ("calib_md5_sec", "calib_shuffle_sec")
    )
    print(json.dumps({
        "sf": os.path.basename(sf_dir.rstrip("/")),
        **c0,
        "calib_end_md5_sec": c1["calib_md5_sec"],
        "calib_end_shuffle_sec": c1["calib_shuffle_sec"],
        "calib_drift": round(drift, 3),
        "calib_drift_flag": drift > 0.20,
        "entries": entries,
    }))


if __name__ == "__main__":
    main()

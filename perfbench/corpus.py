"""A few ``plans.battery`` entries on small seeded corpus tables.

Run in the traced run only. Each entry is built and executed through the
noop sink twice; the second execution is the steady-state time reported
as ``battery.<entry>_s``. Once per run, outside the timed region, each
entry's result is compared with DuckDB running the entry's oracle SQL,
using the repository's own oracle compare (``tests/oracle.py``).
"""

from __future__ import annotations

import random
import time

import gen
from workloads import Checks

# one entry per operator family: warehouse aggregate, warehouse join,
# text quality, shingle dedup and embedding similarity
ENTRIES = ("pricing_summary", "q3_shipping_priority", "text_quality",
           "dedup_shingle_jaccard", "embed_cosine_topk")


def run_entries(run) -> None:
    # imported here, so that the untraced run's set-up does not load the
    # battery's modules or DuckDB
    import duckdb

    from sports_data_integration_and_forecasting_pipeline_spark.plans.battery import QUERIES
    from tests.oracle import compare

    tables = run.work / "corpus"
    run.generate(gen.write_corpus_tables, tables, run.seed)
    order = random.Random(run.seed).sample(ENTRIES, len(ENTRIES))
    for name in order:
        for _ in range(2):
            with run.tracer.span(f"battery.{name}", -1):
                t0 = time.perf_counter()
                run.noop(QUERIES[name].fn(run.spark, str(tables)))
                dt = time.perf_counter() - t0
        run.sample(f"battery.{name}_s", dt)

    con = duckdb.connect()
    con.sql("SET threads=1")
    for t in gen.CORPUS_ROWS:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tables / t}.parquet'")
    for name in order:
        chk = Checks(run, f"battery {name}")
        try:
            problems = compare(QUERIES[name].fn(run.spark, str(tables)),
                               con.sql(QUERIES[name].oracle).df())
        except Exception as exc:  # a failing entry is a failed check, not a crash
            problems = [f"raised {type(exc).__name__}: {exc}"]
        chk.expect(not problems, "oracle mismatch: " + "; ".join(problems)[:500])
        chk.close()
    con.close()

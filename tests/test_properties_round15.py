"""Round-15 pins: the novelty_e6 int64-headroom boundary (r14 advice
items 1-2). The degrade-to-NULL branch added in r14 (commit dcb0520)
was only ever exercised implicitly below the bound; these tests feed
pre-aggregated counts ACROSS the boundary so a regression in the guard
expression fails loudly, and pin that the DuckDB oracle mirrors the
same bound (engine and oracle must agree on degenerate inputs)."""

from __future__ import annotations

import duckdb

from sports_data_integration_and_forecasting_pipeline_spark.operators.textstats import (
    NOVELTY_E6_NOVEL_BOUND,
    novelty_e6_expr,
)


def test_novelty_bound_value():
    # 2^63 div 1e6 exactly. The guard (novel < BOUND) is conservative
    # by exactly one value: 1e6*BOUND = 9223372036854000000 still fits
    # int64, and the first wrapping count is BOUND+1. One representable
    # value sacrificed for a bound that is a clean power-of-two
    # division, mirrored literally in the DuckDB oracle.
    assert NOVELTY_E6_NOVEL_BOUND == 9223372036854
    assert 1_000_000 * NOVELTY_E6_NOVEL_BOUND < 2**63
    assert 1_000_000 * (NOVELTY_E6_NOVEL_BOUND + 1) >= 2**63


def test_novelty_e6_degrades_to_null_past_bound(spark):
    b = NOVELTY_E6_NOVEL_BOUND
    rows = [
        # (heldout, novel, expect_null)
        (10, 4, False),                 # ordinary case: 400000
        (b + 5, b - 1, False),          # largest in-bound novel count
        (b + 5, b, True),               # first past-bound count: NULL
        (2 * b, b + 7, True),           # deep past-bound: NULL
        (0, 0, True),                   # zero heldout: NULL (no rate)
    ]
    df = spark.createDataFrame(
        [(int(h), int(n)) for h, n, _ in rows],
        "heldout_ngrams bigint, novel_ngrams bigint",
    )
    got = df.select(
        "heldout_ngrams",
        "novel_ngrams",
        novelty_e6_expr("heldout_ngrams", "novel_ngrams"),
    ).collect()
    by_input = {(r.heldout_ngrams, r.novel_ngrams): r.novelty_e6 for r in got}
    for h, n, expect_null in rows:
        v = by_input[(h, n)]
        if expect_null:
            assert v is None, (h, n, v)
        else:
            assert v == 1_000_000 * n // h, (h, n, v)
    # the in-bound boundary value is exact integer floor division
    assert by_input[(b + 5, b - 1)] == 1_000_000 * (b - 1) // (b + 5)


def test_connected_components_checkpoints_edge_list(spark, monkeypatch):
    """r15 sf1-sweep finding: min-label propagation joins the
    symmetrized edge list on EVERY round, and an un-materialized edge
    list re-executes its entire upstream pair-generation pipeline per
    round (~1 s at sf0.1, ~a minute PER ROUND at sf1 — the
    dedup_cluster_assign stall). Pin that `sym` (columns n, m) is
    materialised once, before the loop: r16 moved it from a
    localCheckpoint to a persist under the bounded registry's
    ``cc_sym`` role, so the pin reads the registry and counts the
    persist/checkpoint calls in order."""
    # patch the CONCRETE class: in Spark 4 pyspark.sql.DataFrame is the
    # abstract API base and instances are classic.dataframe.DataFrame
    from pyspark.sql.classic.dataframe import DataFrame

    from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import (
        connected_components,
    )
    from sports_data_integration_and_forecasting_pipeline_spark.scoped_cache import (
        scoped,
    )

    events: list[tuple[str, tuple[str, ...]]] = []

    def recording(name):
        orig = getattr(DataFrame, name)

        def call(self, *args, **kwargs):
            events.append((name, tuple(self.columns)))
            return orig(self, *args, **kwargs)

        monkeypatch.setattr(DataFrame, name, call)

    recording("persist")
    recording("localCheckpoint")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 99)], "doc_id long"
    )
    out = {
        r.doc_id: r.cluster_id for r in connected_components(edges, nodes).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}
    # the edge list is persisted exactly once, ahead of every label
    # checkpoint (the first of which seeds the loop)
    assert events.count(("persist", ("n", "m"))) == 1, events
    assert events[0] == ("persist", ("n", "m")), events
    sym = scoped(spark, "cc_sym")
    assert sym is not None and sym.columns == ["n", "m"]
    assert sym.is_cached


def test_oracle_mirrors_novelty_bound():
    """The ngram_novelty_audit oracle SQL must carry the SAME bound so
    Spark and DuckDB agree past it (r14 advice item 1). Checked two
    ways: the literal appears in the SQL, and a DuckDB query using the
    oracle's CASE shape degrades to NULL exactly at the bound."""
    from sports_data_integration_and_forecasting_pipeline_spark.plans.battery import (
        QUERIES,
    )

    sql = QUERIES["ngram_novelty_audit"].oracle
    assert str(NOVELTY_E6_NOVEL_BOUND) in sql
    b = NOVELTY_E6_NOVEL_BOUND
    got = duckdb.sql(
        f"""
        SELECT heldout, novel,
               CAST(CASE WHEN heldout > 0 AND novel < {b} THEN
                      1000000 * novel // heldout
                    END AS BIGINT) AS novelty_e6
        FROM (VALUES (10, 4), ({b} + 5, {b} - 1), ({b} + 5, {b}), (0, 0))
             t(heldout, novel)
        ORDER BY heldout, novel
        """
    ).fetchall()
    by_input = {(h, n): v for h, n, v in got}
    assert by_input[(10, 4)] == 400_000
    assert by_input[(b + 5, b - 1)] == 1_000_000 * (b - 1) // (b + 5)
    assert by_input[(b + 5, b)] is None
    assert by_input[(0, 0)] is None

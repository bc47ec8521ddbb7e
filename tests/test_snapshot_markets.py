"""One parse per odds snapshot, and join-free game-keyed market tables.

- Parity: the window forms of ``app_summary``, ``arbitrage_view``,
  ``detect_discrepancies``, ``build_summary`` and ``best_odds_report``
  return what the aggregate-then-join-back forms returned, on the fixture
  and on generated snapshots with 1- and 3-outcome games, null prices and
  exact price ties. The join-back forms live here only, as the reference.
- Plan shape: none of the five tables plans a join, and each plans one
  exchange, hash-partitioned on ``game_id``.
- Snapshot cache: a second table over the same snapshot scans memory; a
  session holds one snapshot; rereading a rewritten file returns the new
  contents.
"""

from __future__ import annotations

import json
import math
import random

import pytest
from pyspark.sql import functions as F

from sports_data_integration_and_forecasting_pipeline_spark.app import (
    app_summary,
    arbitrage_view,
)
from sports_data_integration_and_forecasting_pipeline_spark.operators.flatten import (
    flatten_odds_to_df,
)
from sports_data_integration_and_forecasting_pipeline_spark.operators.markets import (
    best_odds_report,
    build_summary,
    detect_arbitrage,
    detect_discrepancies,
    find_best_odds_window,
)
from sports_data_integration_and_forecasting_pipeline_spark.operators.odds import (
    clean_odds,
    odds_to_probs,
)
from sports_data_integration_and_forecasting_pipeline_spark.scoped_cache import (
    release_caches,
    scoped,
)
from sports_data_integration_and_forecasting_pipeline_spark.sources.readers import (
    SNAPSHOT_ROLE,
    games_from_json_strings,
    read_odds_json,
)

# ---------------------------------------------------------------------------
# The aggregate-then-join-back forms the window forms replaced.


def joinback_detect_discrepancies(df, market_key="h2h"):
    best = find_best_odds_window(df.filter(F.col("market") == market_key)).select(
        "game_id",
        "home_team",
        "away_team",
        "outcome",
        F.col("bookmaker").alias("best_bookmaker"),
        F.col("price").alias("best_price"),
        (F.lit(1.0) / F.col("price")).alias("implied_prob"),
    )
    margins = detect_arbitrage(best, "game_id", price_col="best_price")
    return (
        best.join(margins, "game_id", "inner")
        .filter(F.col("n_outcomes") == 2)
        .select(
            "game_id",
            "home_team",
            "away_team",
            F.lit(market_key).alias("market"),
            "outcome",
            "best_bookmaker",
            "best_price",
            "implied_prob",
            "arbitrage_margin",
        )
    )


def joinback_app_summary(cleaned):
    best = find_best_odds_window(cleaned).select(
        "game_id",
        "home_team",
        "away_team",
        "outcome",
        F.col("price").alias("best_price"),
        F.col("bookmaker").alias("best_bookmaker"),
    )
    margins = detect_arbitrage(best, "game_id", price_col="best_price").select(
        "game_id", F.col("arbitrage_margin").alias("arbitrage_margin_pct")
    )
    return best.join(margins, "game_id", "left").select(
        "game_id",
        "home_team",
        "away_team",
        "outcome",
        "best_price",
        "best_bookmaker",
        "arbitrage_margin_pct",
    )


def joinback_build_summary(cleaned):
    per_game = find_best_odds_window(cleaned).groupBy("game_id").agg(
        F.first("home_team").alias("home_team"),
        F.first("away_team").alias("away_team"),
        F.first("commence_time").alias("commence_time"),
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("outcome", "price")))
        ).alias("best_prices"),
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("outcome", "bookmaker")))
        ).alias("best_bookmakers"),
        F.sum(F.lit(1.0) / F.col("price")).alias("_total"),
        F.count(F.lit(1)).alias("_n"),
    )
    return per_game.select(
        "game_id",
        "home_team",
        "away_team",
        "commence_time",
        F.map_keys("best_prices").alias("outcomes"),
        "best_prices",
        "best_bookmakers",
        F.when(
            (F.col("_n") == 2) & (F.col("_total") < 1.0),
            F.round((1.0 - F.col("_total")) * 100.0, 2),
        ).alias("arbitrage_margin_pct"),
    )


def joinback_best_odds_report(cleaned):
    best = find_best_odds_window(cleaned)
    summary = best.groupBy("game_id").agg(
        F.sum("implied_prob").alias("sum_best_implied"),
        F.array_join(F.array_sort(F.collect_set("outcome")), ", ").alias(
            "outcomes"
        ),
    )
    return best.join(summary, "game_id", "left")


def tables(cleaned, summary_fn, disc_fn, build_fn, report_fn):
    summary = summary_fn(cleaned)
    return {
        "app_summary": summary,
        "arbitrage_view": arbitrage_view(summary),
        "detect_discrepancies": disc_fn(cleaned, "h2h"),
        "build_summary": build_fn(cleaned),
        "best_odds_report": report_fn(cleaned),
    }


def window_tables(cleaned):
    return tables(
        cleaned, app_summary, detect_discrepancies, build_summary, best_odds_report
    )


def joinback_tables(cleaned):
    return tables(
        cleaned,
        joinback_app_summary,
        joinback_detect_discrepancies,
        joinback_build_summary,
        joinback_best_odds_report,
    )


# ---------------------------------------------------------------------------
# Generated snapshots

BOOKS = ["Alpha", "Bravo", "Charlie", "Delta", "Echo"]
# a coarse price grid makes exact ties between books common
PRICES = [1.5, 1.8, 1.9, 2.0, 2.1, 2.2, 2.5, 3.2]


def snapshot(seed: int, n_games: int = 24) -> list[dict]:
    """Games with 2, 3 or 1 h2h outcomes, null prices, exact price ties,
    planted arbitrage-priced games and a spreads market beside h2h."""
    rng = random.Random(seed)
    games = []
    for g in range(n_games):
        home, away = f"Home{seed}_{g}", f"Away{seed}_{g}"
        names = [home, away]
        kind = g % 6
        if kind == 4:
            names.append("Draw")
        elif kind == 5:
            names = [home]
        # priced Σ 1/price < 1 whatever the outcome count: only the
        # two-outcome ones may carry a margin
        arb = kind == 0 or g % 12 in (4, 5)
        books = []
        for b in rng.sample(BOOKS, rng.randint(1, len(BOOKS))):
            outcomes = []
            for name in names:
                price = 3.2 if arb else rng.choice(PRICES)
                if not arb and rng.random() < 0.12:
                    price = None
                outcomes.append({"name": name, "price": price})
            books.append(
                {
                    "title": b,
                    "last_update": "2025-03-01T00:00:00Z",
                    "markets": [
                        {"key": "h2h", "outcomes": outcomes},
                        {
                            "key": "spreads",
                            "outcomes": [
                                {"name": n, "price": rng.choice(PRICES), "point": -1.5}
                                for n in names
                            ],
                        },
                    ],
                }
            )
        games.append(
            {
                "id": f"s{seed}_g{g}",
                "sport_key": "basketball_nba",
                "commence_time": f"2025-03-{1 + g % 28:02d}T00:00:00Z",
                "home_team": home,
                "away_team": away,
                "bookmakers": books,
            }
        )
    return games


def write_snapshot(path, games) -> str:
    path.write_text(json.dumps(games, indent=1))
    return str(path)


# ---------------------------------------------------------------------------
# Comparison


def same_value(a, b) -> bool:
    # a window and an aggregate may add a 3+-outcome game's doubles in
    # another order: floats agree to a few ulps, everything else exactly
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or math.isclose(
            a, b, rel_tol=1e-12, abs_tol=0.0
        )
    return a == b


def assert_same_table(got, want, name):
    # types must match; nullability may differ (a window's collect_set is
    # never null, the left join's was declared nullable)
    assert [(f.name, f.dataType) for f in got.schema] == [
        (f.name, f.dataType) for f in want.schema
    ], name

    def rows(df):
        # (game_id, outcome) is unique in every table compared here
        return sorted(
            (r.asDict() for r in df.collect()),
            key=lambda d: repr([d.get("game_id"), d.get("outcome")]),
        )

    g, w = rows(got), rows(want)
    assert len(g) == len(w), (name, len(g), len(w))
    for gr, wr in zip(g, w):
        bad = [c for c in got.columns if not same_value(gr[c], wr[c])]
        assert not bad, (name, bad, gr, wr)


def assert_parity(cleaned):
    new, old = window_tables(cleaned), joinback_tables(cleaned)
    for name in new:
        assert_same_table(new[name], old[name], name)


def test_window_tables_match_joinback_on_fixture(sample_games):
    assert_parity(clean_odds(sample_games, "h2h"))


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_window_tables_match_joinback_on_generated(spark, tmp_path, seed):
    games = read_odds_json(spark, write_snapshot(tmp_path / "s.json", snapshot(seed)))
    cleaned = clean_odds(games, "h2h")
    # the generated shapes really are present
    per_game = {
        r.game_id: r.n
        for r in cleaned.groupBy("game_id")
        .agg(F.countDistinct("outcome").alias("n"))
        .collect()
    }
    assert {1, 2, 3} <= set(per_game.values())
    assert cleaned.filter(F.col("price").isNull()).count() > 0
    ties = (
        cleaned.filter(F.col("price").isNotNull())
        .groupBy("game_id", "outcome", "price")
        .count()
        .filter("count > 1")
    )
    assert ties.count() > 0
    assert_parity(cleaned)
    # also across markets: the tables must not mix h2h and spreads rows
    mixed = odds_to_probs(
        flatten_odds_to_df(games, "h2h").unionByName(
            flatten_odds_to_df(games, "spreads")
        )
    )
    assert_same_table(
        detect_discrepancies(mixed, "spreads"),
        joinback_detect_discrepancies(mixed, "spreads"),
        "detect_discrepancies(spreads)",
    )


def test_tie_policy_price_desc_then_bookmaker_asc(spark):
    cleaned = spark.createDataFrame(
        [
            ("g", "h", "a", "t", "Zed", "h2h", "A", 2.1),
            ("g", "h", "a", "t", "Amy", "h2h", "A", 2.1),
            ("g", "h", "a", "t", "Bob", "h2h", "A", 1.9),
            ("g", "h", "a", "t", "Bob", "h2h", "B", 2.1),
            ("g", "h", "a", "t", "Amy", "h2h", "B", None),
        ],
        "game_id string, home_team string, away_team string, "
        "commence_time string, bookmaker string, market string, "
        "outcome string, price double",
    )
    rows = {r.outcome: r for r in detect_discrepancies(cleaned, "h2h").collect()}
    assert rows["A"].best_bookmaker == "Amy" and rows["A"].best_price == 2.1
    assert rows["B"].best_bookmaker == "Bob" and rows["B"].best_price == 2.1
    # 1 - 2/2.1 = 4.76%
    assert rows["A"].arbitrage_margin == rows["B"].arbitrage_margin == 4.76


# ---------------------------------------------------------------------------
# Plan shape


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_market_tables_plan_one_game_exchange_and_no_join(sample_games):
    for name, df in window_tables(clean_odds(sample_games, "h2h")).items():
        plan = _plan(df)
        assert "Join" not in plan, (name, plan)
        assert plan.count("Exchange ") == 1, (name, plan)
        assert plan.count("Exchange hashpartitioning(game_id") == 1, (name, plan)


def test_clean_odds_coerces_price_once(sample_games, spark):
    """The flatten already coerced the price to double; the devig step
    must not run the string round trip again — and the results match
    what a string price column (which is still coerced) gives."""
    cleaned = clean_odds(sample_games, "h2h")
    assert _plan(cleaned).count("regexp_replace") == 1
    flat = flatten_odds_to_df(sample_games, "h2h")
    as_string = odds_to_probs(flat.withColumn("price", F.col("price").cast("string")))
    assert as_string.schema == cleaned.schema
    key = ["game_id", "bookmaker", "outcome"]
    assert sorted(cleaned.collect(), key=lambda r: [r[k] for k in key]) == sorted(
        as_string.collect(), key=lambda r: [r[k] for k in key]
    )
    # a "+120" string still gets the reference's coercion
    raw = spark.createDataFrame([("g", "+120"), ("g", "bad")], "game_id string, price string")
    got = {r.price: r.decimal_odds for r in odds_to_probs(raw).collect()}
    assert got[120.0] == pytest.approx(2.2)
    assert got[None] is None


# ---------------------------------------------------------------------------
# Snapshot cache


def test_second_table_scans_the_cached_snapshot(spark, tmp_path):
    path = tmp_path / "snap.json"
    games = read_odds_json(spark, write_snapshot(path, snapshot(7)))
    cleaned = clean_odds(games, "h2h")
    first = app_summary(cleaned).collect()  # parses the file, fills the cache
    path.unlink()  # a second parse would now fail
    disc = detect_discrepancies(cleaned, "h2h")
    assert "InMemoryTableScan" in _plan(disc)
    assert {r.game_id for r in disc.collect()} <= {r.game_id for r in first}
    assert len(build_summary(cleaned).collect()) == len({r.game_id for r in first})


def test_one_snapshot_per_session(spark, tmp_path):
    release_caches()
    jsc = spark.sparkContext._jsc
    baseline = len(jsc.getPersistentRDDs())
    for i in range(4):
        games = read_odds_json(
            spark, write_snapshot(tmp_path / f"snap_{i}.json", snapshot(10 + i, 6))
        )
        assert games.count() == 6
        assert scoped(spark, SNAPSHOT_ROLE) is games
        assert len(jsc.getPersistentRDDs()) - baseline <= 1
    # an in-memory payload replaces the file snapshot the same way
    live = games_from_json_strings(spark, json.dumps(snapshot(20, 3)))
    assert live.count() == 3
    assert scoped(spark, SNAPSHOT_ROLE) is live
    assert not games.is_cached
    assert len(jsc.getPersistentRDDs()) - baseline <= 1
    release_caches()


def test_reread_of_rewritten_file_is_fresh(spark, tmp_path):
    path = tmp_path / "snap.json"
    old = read_odds_json(spark, write_snapshot(path, snapshot(30, 4)))
    assert sorted(r.id for r in old.collect()) == [f"s30_g{g}" for g in range(4)]
    write_snapshot(path, snapshot(31, 5))
    new = read_odds_json(spark, str(path))
    assert sorted(r.id for r in new.collect()) == [f"s31_g{g}" for g in range(5)]

"""Best-price extraction and arbitrage scans (SURVEY §2.4 A3-A9, §2.7 J1).

The reference computes these with per-group Python loops and ``idxmax``
(``src/analysis.py:55-96``, ``web/app.py:36-71``). Here:

- best price per ``(game_id, outcome)`` is a ``row_number`` window (or, in
  :func:`find_best_odds`, ``max_by`` over a struct with an explicit
  tiebreak);
- the per-game outcome count and Σ 1/price behind the arbitrage margin are
  windows over ``game_id`` on the best rows — never a second aggregation
  joined back.

Tie policy: the reference's ``idxmax`` keeps the first-encountered row —
input-order-dependent, which is nondeterministic under distributed scans.
We pin a deterministic tiebreak instead: highest price, then lowest
bookmaker name (SURVEY §4.3-4 documents the divergence).

Scale note: the game-keyed tables (:func:`detect_discrepancies`,
:func:`build_summary`, :func:`best_odds_report`, and ``app.app_summary``)
each start from one ``repartition("game_id")`` spread. Hash partitioning
on ``game_id`` satisfies both the ``(game_id, outcome)`` argmax window and
every ``game_id`` window or aggregate after it, so each table is one scan,
one exchange and no join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def find_best_odds(
    df: DataFrame, group_cols: list[str] | None = None
) -> DataFrame:
    """One row per ``(game_id, outcome)`` holding the best (max) price and
    its bookmaker (A3/A4/A5; reference ``src/analysis.py:9-31,69-70``,
    ``web/app.py:39-43``).

    ``max_by`` over ``struct(price, reversed-bookmaker, full row)`` keeps
    whole-row semantics in one aggregation.
    """
    group_cols = group_cols or ["game_id", "outcome"]
    carry = [c for c in df.columns if c not in group_cols]
    # Deterministic argmax: max price, ties broken by lexicographically
    # smallest bookmaker (reference keeps first-encountered; SURVEY §4.3-4).
    best = F.max_by(
        F.struct(*[F.col(c) for c in carry]),
        F.struct(
            F.col("price"),
            # invert bookmaker ordering inside a max: use negated rank via
            # desc() is not allowed in max_by key, so flip with a trick:
            # max over struct compares fields in order — we want max price
            # then MIN bookmaker, so order by (price, unbase(bookmaker)).
            _descending_string(F.col("bookmaker")),
        ),
    ).alias("_best")
    out = df.groupBy(*group_cols).agg(best)
    return out.select(*group_cols, *[F.col(f"_best.{c}").alias(c) for c in carry])


def _descending_string(col):
    """Map a string to a value whose max corresponds to the string's min.

    Used as a secondary ``max_by`` sort key: comparing the negated byte
    sequence is not expressible directly, so we compare the negative of a
    stable 64-bit hash — deterministic, though not alphabetical. For exact
    alphabetical min-tiebreak use :func:`find_best_odds_window`.
    """
    return -F.xxhash64(col)


def find_best_odds_window(
    df: DataFrame, group_cols: list[str] | None = None
) -> DataFrame:
    """Window-based variant of :func:`find_best_odds` with exact
    (price desc, bookmaker asc) tie policy — used when alphabetical
    determinism must hold for oracle hashing."""
    group_cols = group_cols or ["game_id", "outcome"]
    w = Window.partitionBy(*group_cols).orderBy(
        F.desc("price"), F.asc("bookmaker")
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _game_spread_best(df: DataFrame) -> DataFrame:
    """Best row per ``(game_id, outcome)`` over one ``game_id`` hash spread,
    which every later ``game_id`` window or aggregate reuses."""
    return find_best_odds_window(df.repartition("game_id"))


def _arbitrage_margin(n_outcomes, total_implied):
    """``round((1 − Σ 1/price)·100, 2)`` iff exactly 2 outcomes and ``Σ < 1``
    strictly, else null (SURVEY §4.3-3)."""
    return F.when(
        (n_outcomes == 2) & (total_implied < 1.0),
        F.round((1.0 - total_implied) * 100.0, 2),
    )


def best_rows_with_margin(df: DataFrame) -> DataFrame:
    """Best row per ``(game_id, outcome)`` plus the game's ``n_outcomes``
    and ``arbitrage_margin``, both windows over the argmax's ``game_id``
    spread (the shared core of ``detect_discrepancies`` and
    ``app.app_summary``)."""
    g = Window.partitionBy("game_id")
    return (
        _game_spread_best(df)
        .select(
            "*",
            F.count(F.lit(1)).over(g).alias("n_outcomes"),
            F.sum(F.lit(1.0) / F.col("price")).over(g).alias("_total"),
        )
        .withColumn(
            "arbitrage_margin",
            _arbitrage_margin(F.col("n_outcomes"), F.col("_total")),
        )
        .drop("_total")
    )


def detect_arbitrage(
    best: DataFrame, group_col: str = "game_id", price_col: str = "price"
) -> DataFrame:
    """Per-game two-outcome arbitrage margin (A6; reference
    ``src/analysis.py:39-52``).

    Input: one row per (game, outcome) with a ``price`` column (best
    price). Output: ``group_col, total_implied, n_outcomes,
    arbitrage_margin`` where margin = ``round((1 − Σ 1/price)·100, 2)``
    iff exactly 2 outcomes and ``Σ < 1`` strictly, else null
    (SURVEY §4.3-3).
    """
    agg = best.groupBy(group_col).agg(
        F.sum(F.lit(1.0) / F.col(price_col)).alias("total_implied"),
        F.count(F.lit(1)).alias("n_outcomes"),
    )
    return agg.withColumn(
        "arbitrage_margin",
        _arbitrage_margin(F.col("n_outcomes"), F.col("total_implied")),
    )


def detect_discrepancies(df: DataFrame, market_key: str = "h2h") -> DataFrame:
    """Full arb scan (A7; reference ``src/analysis.py:55-96``): filter
    market → best price per (game, outcome) → outcome count and Σ 1/price
    per game as windows over the same ``game_id`` spread.

    Output columns mirror the reference's result rows
    (``analysis.py:84-94``): ``game_id, home_team, away_team, market,
    outcome, best_bookmaker, best_price, implied_prob, arbitrage_margin``.
    Games with ≠ 2 distinct outcomes are dropped (``analysis.py:73-74``).
    """
    best = best_rows_with_margin(df.filter(F.col("market") == market_key))
    return best.filter(F.col("n_outcomes") == 2).select(
        "game_id",
        "home_team",
        "away_team",
        F.lit(market_key).alias("market"),
        "outcome",
        F.col("bookmaker").alias("best_bookmaker"),
        F.col("price").alias("best_price"),
        (F.lit(1.0) / F.col("price")).alias("implied_prob"),
        "arbitrage_margin",
    )


def build_summary(cleaned: DataFrame) -> DataFrame:
    """Per-game arb summary (A8; reference ``web/app.py:36-71``): one row
    per game with best prices reshaped wide plus the margin pct.

    Output: ``game_id, home_team, away_team, commence_time,
    outcomes, best_prices, best_bookmakers, arbitrage_margin_pct``
    (outcome→price/bookmaker maps instead of the reference's dicts).
    The per-game aggregate runs on the argmax's ``game_id`` spread.
    """
    per_game = _game_spread_best(cleaned).groupBy("game_id").agg(
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
        _arbitrage_margin(F.col("_n"), F.col("_total")).alias(
            "arbitrage_margin_pct"
        ),
    )


def best_odds_report(cleaned: DataFrame) -> DataFrame:
    """The notebook's only join (J1; reference
    ``notebooks/player_prop_demo.ipynb`` cell 6): per-outcome best rows
    carrying a per-game summary (``sum_best_implied`` + comma-joined sorted
    distinct outcomes). The summary is a pair of ``game_id`` windows on the
    best rows, so the reference's join is not planned as one."""
    best = _game_spread_best(cleaned)
    g = Window.partitionBy("game_id")
    return best.select(
        "game_id",
        *[c for c in best.columns if c != "game_id"],
        F.sum("implied_prob").over(g).alias("sum_best_implied"),
        F.array_join(F.array_sort(F.collect_set("outcome").over(g)), ", ").alias(
            "outcomes"
        ),
    )

"""Odds normalization and de-vigging (SURVEY §2.3 C1-C4, §2.4 A1-A2).

Both devig variants are pure window programs — ``Window.partitionBy``
replaces the reference's ``groupby(...).transform`` round-trips
(``src/processing.py:118-124``, ``Sports-Pipeline-V2/odds_utils.py:254-262``)
with a single shuffle on the group key, no Python boundary.

Scale note: a devig partition is one betting market (a handful of rows), so
the window state is tiny and the shuffle is the only cost; both devig
windows share the same partitioning key, so Catalyst reuses one Exchange
for the chained windows in :func:`add_true_probabilities`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..functions.odds_math import (
    DEVIG_POWER,
    coerce_numeric,
    decimal_to_american,
    implied_prob,
    to_decimal_odds,
)
from .flatten import flatten_odds_to_df, standardize_flatten


def odds_to_probs(
    df: DataFrame, price_col: str = "price", market_col: str = "game_id"
) -> DataFrame:
    """Add ``decimal_odds``, ``implied_prob``, ``devig_prob`` columns
    (reference ``src/processing.py:73-126``).

    - Per-row American/decimal heuristic (``processing.py:101``; quirk
      preserved, SURVEY §4.3-1).
    - Proportional devig: ``implied / Σ implied`` over ``market_col``,
      with group-sum ≤ 0 passing implied through (``processing.py:118-124``).
    - Only a string price is coerced (``+`` stripped, bad values null); a
      numeric one is cast to double, which is a no-op for the double the
      flatten already produced.
    """
    if price_col not in df.columns:
        raise ValueError(f"price column '{price_col}' not found in DataFrame")

    price = F.col(price_col)
    if isinstance(df.schema[price_col].dataType, T.StringType):
        price = coerce_numeric(price)
    out = (
        df.withColumn(price_col, price.cast("double"))
        .withColumn("decimal_odds", to_decimal_odds(F.col(price_col)))
        .withColumn("implied_prob", implied_prob(F.col("decimal_odds")))
    )
    w = Window.partitionBy(market_col)
    total = F.sum("implied_prob").over(w)
    return out.withColumn(
        "devig_prob",
        F.when(total <= 0, F.col("implied_prob")).otherwise(
            F.col("implied_prob") / total
        ),
    )


def clean_odds(games: DataFrame, market: str = "h2h") -> DataFrame:
    """Flatten + probabilities, the ``clean_odds`` pipeline (reference
    ``src/processing.py:127-133``) as one lazy DAG."""
    return odds_to_probs(
        flatten_odds_to_df(games, market=market),
        price_col="price",
        market_col="game_id",
    )


def standardize_odds(games: DataFrame, market_keys: list[str]) -> DataFrame:
    """V2 standardization (reference
    ``Sports-Pipeline-V2/odds_utils.py:209-234``): flatten selected
    markets, drop null/``<= 1`` decimal prices and failed American
    conversions (F6 validity filter, ``odds_utils.py:222-230``), add
    ``odds_american`` + ``implied_prob``."""
    flat = standardize_flatten(games, market_keys)
    return (
        flat.filter(
            F.col("price_decimal").isNotNull() & (F.col("price_decimal") > 1.0)
        )
        .withColumn("odds_american", decimal_to_american(F.col("price_decimal")))
        .filter(F.col("odds_american").isNotNull())
        .withColumn("implied_prob", implied_prob(F.col("price_decimal")))
    )


def add_true_probabilities(
    df: DataFrame, group_col: str = "game_id", power: float = DEVIG_POWER
) -> DataFrame:
    """Power-method devig (reference
    ``Sports-Pipeline-V2/odds_utils.py:237-262``) as two chained windowed
    sums — no UDF:

    ``p1 = p / Σp`` (pass-through when ``Σp <= 0``), ``t = p1^(1/power)``,
    ``true_prob = t / Σt`` (pass-through ``p1`` when ``Σt <= 0``).
    """
    w = Window.partitionBy(group_col)
    total = F.sum("implied_prob").over(w)
    p1 = F.when(total > 0, F.col("implied_prob") / total).otherwise(
        F.col("implied_prob")
    )
    out = df.withColumn("_p1", p1).withColumn(
        "_adj", F.pow(F.col("_p1"), 1.0 / power)
    )
    adj_total = F.sum("_adj").over(w)
    return out.withColumn(
        "true_prob",
        F.when(adj_total > 0, F.col("_adj") / adj_total).otherwise(F.col("_p1")),
    ).drop("_p1", "_adj")

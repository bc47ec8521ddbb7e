"""Seeded input generators for the sports workloads, with planted answers.

Every generator is a pure function of its seed: the same seed gives the
same bytes. Each one also returns the answers the engine must reproduce,
computed here by an independent pure-Python replica of the engine's
documented rules (best price = max raw price per outcome, arbitrage margin
= ``round((1 - sum(1/best)) * 100, 2)`` for exactly two outcomes when the
sum is below 1, line move = ``|new - last| / |last| * 100 >= 5``).
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta
from decimal import ROUND_HALF_UP, Decimal
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SPORT_KEY = "basketball_nba"
MARKETS = ("h2h", "spreads", "totals", "player_points")
TEAMS = [
    "Atlanta Hawks", "Boston Celtics", "Brooklyn Nets", "Charlotte Hornets",
    "Chicago Bulls", "Cleveland Cavaliers", "Dallas Mavericks", "Denver Nuggets",
    "Detroit Pistons", "Golden State Warriors", "Houston Rockets", "Indiana Pacers",
    "Los Angeles Clippers", "Los Angeles Lakers", "Memphis Grizzlies", "Miami Heat",
    "Milwaukee Bucks", "Minnesota Timberwolves", "New Orleans Pelicans",
    "New York Knicks", "Oklahoma City Thunder", "Orlando Magic",
    "Philadelphia 76ers", "Phoenix Suns", "Portland Trail Blazers",
    "Sacramento Kings", "San Antonio Spurs", "Toronto Raptors", "Utah Jazz",
    "Washington Wizards",
]
BOOKS = [
    "BetMGM", "BetRivers", "Bovada", "Caesars", "DraftKings", "FanDuel",
    "LowVig", "MyBookie", "PointsBet", "Unibet", "WynnBET", "SuperBook",
]
FIRST = ["Alex", "Ben", "Chris", "Dan", "Eli", "Finn", "Gus", "Hal", "Ike", "Jon"]
LAST = ["Adams", "Brown", "Clark", "Davis", "Evans", "Ford", "Green", "Hill",
        "Irwin", "Jones", "King", "Lee"]
# Outcome-name and price field aliases the engine coalesces (schemas.py).
NAME_ALIASES = ("name", "outcome", "outcome_name")
PRICE_ALIASES = ("price", "odds", "price_decimal")
LINE_MOVE_PCT = 5.0
ARB_FRACTION = 0.1
# Traffic shapes. These are assumptions, not measurements: no public feed
# statistics are bundled with the repository. ARB_FRACTION is the share
# of games with a planted two-book arbitrage.
TICK_MOVE_FRACTION = 0.2  # share of line keys repriced per tick
TICK_REPLAY_FRACTION = 0.03  # share of line keys replayed from an earlier tick
TICK_REPLAY_BACK = 2  # a replay repeats a row from one of this many last ticks
TICK_RESTAMP = 3  # a book re-stamps an unmoved line every this many ticks
TICK_MINUTES = 10  # event time between ticks, so 5-minute rollup windows close


def round2_half_up(x: float) -> float:
    """Spark's ``round(x, 2)`` on a double: HALF_UP on the decimal string."""
    return float(Decimal(repr(x)).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP))


def arb_margin(best_prices: list[float]) -> float | None:
    """The engine's two-outcome arbitrage rule over best prices."""
    if len(best_prices) != 2:
        return None
    total = 0.0
    for p in best_prices:
        total += 1.0 / p
    if not total < 1.0:
        return None
    return round2_half_up((1.0 - total) * 100.0)


def american(prob: float, rng: random.Random) -> int:
    """A vigged American price for win probability ``prob``."""
    p = min(0.9, max(0.1, prob * (1.0 + rng.uniform(0.02, 0.05))))
    dec = 1.0 / p
    return int(round((dec - 1.0) * 100)) if dec >= 2.0 else -int(round(100.0 / (dec - 1.0)))


def american_str(a: int) -> str:
    return f"+{a}" if a > 0 else str(a)


def skewed_profile(n: int, rng: random.Random, max_books: int = 10,
                   max_players: int = 30) -> list[tuple[int, int]]:
    """(books, players) per game: prop counts Zipf-like by popularity rank
    (``max_players / rank**0.6``, at least 6), every book on the top 60% of
    games and fewer down the tail. The seed only shuffles which game gets
    which rank, so every seed has the same number of outcome rows."""
    prof = []
    for r in range(1, n + 1):
        tail = (n - r) / (0.4 * n)
        books = max_books if tail >= 1 else max(1, round(max_books * tail))
        prof.append((books, max(6, min(max_players, round(max_players / r ** 0.6)))))
    rng.shuffle(prof)
    return prof


# --------------------------------------------------------------------------
# Odds snapshots


@dataclass
class Game:
    gid: str
    home: str
    away: str
    commence: str
    books: list[str]
    players: list[str]
    p_home: float = 0.5
    # (book, market) -> list of outcome dicts {"name", "price", "point"?}
    lines: dict = field(default_factory=dict)
    updates: dict = field(default_factory=dict)  # book -> last_update
    arb: bool = False


def _h2h_prices(rng: random.Random, p_home: float) -> tuple[float, float]:
    vig = rng.uniform(0.03, 0.06)
    return (round(1.0 / (p_home * (1 + vig)), 2), round(1.0 / ((1 - p_home) * (1 + vig)), 2))


def _new_game(rng: random.Random, idx: int, n_books: int, n_players: int, day: int) -> Game:
    home, away = rng.sample(TEAMS, 2)
    commence = f"2025-01-{1 + day % 28:02d}T{rng.randrange(17, 23):02d}:{rng.choice((0, 30)):02d}:00Z"
    books = sorted(rng.sample(BOOKS, n_books))
    players = [f"{rng.choice(FIRST)} {rng.choice(LAST)} {idx}-{k}" for k in range(n_players)]
    p_home = rng.uniform(0.3, 0.7)
    g = Game(f"g{idx:06d}", home, away, commence, books, players, p_home)
    spread = rng.choice((1.5, 2.5, 3.5, 4.5, 5.5, 6.5, 7.5))
    total = rng.choice((210.5, 215.5, 220.5, 225.5, 230.5))
    for b in books:
        ph, pa_ = _h2h_prices(rng, p_home)
        g.lines[(b, "h2h")] = [{"name": home, "price": ph}, {"name": away, "price": pa_}]
        g.lines[(b, "spreads")] = [
            {"name": home, "price": round(rng.uniform(1.85, 1.95), 2), "point": -spread},
            {"name": away, "price": round(rng.uniform(1.85, 1.95), 2), "point": spread},
        ]
        g.lines[(b, "totals")] = [
            {"name": "Over", "price": round(rng.uniform(1.85, 1.95), 2), "point": total},
            {"name": "Under", "price": round(rng.uniform(1.85, 1.95), 2), "point": total},
        ]
        props = []
        for pl in players:
            pt = rng.choice((8.5, 12.5, 16.5, 20.5, 24.5, 28.5))
            p_over = rng.uniform(0.3, 0.65)
            props.append({"name": "Over", "description": pl, "point": pt,
                          "price": american(p_over, rng)})
            props.append({"name": "Under", "description": pl, "point": pt,
                          "price": american(1.0 - p_over, rng)})
        g.lines[(b, "player_points")] = props
        g.updates[b] = "2025-01-01T12:00:00Z"
    return g


def _plant_arb(rng: random.Random, g: Game) -> None:
    """Two books price opposite sides long enough that backing both wins."""
    if len(g.books) < 2:
        return
    b1, b2 = g.books[0], g.books[-1]
    p = g.p_home
    edge = rng.uniform(0.02, 0.06)
    g.lines[(b1, "h2h")][0]["price"] = round(1.0 / (p * (1 - edge)), 2)
    g.lines[(b2, "h2h")][1]["price"] = round(1.0 / ((1 - p) * (1 - edge)), 2)
    g.arb = True


def _outcome_json(o: dict, market: str, alias: int) -> dict:
    """Serialise one outcome with the alias/format variety real feeds show."""
    out: dict = {}
    if market == "player_points":
        # props_to_dataframe reads only ``price``; American as "+120" strings
        out["name"] = o["name"]
        out["description"] = o["description"]
        out["price"] = american_str(o["price"])
    else:
        out[NAME_ALIASES[alias % 3]] = o["name"]
        price = o["price"]
        out[PRICE_ALIASES[(alias // 3) % 3]] = f"{price:.2f}" if alias % 2 else price
    if "point" in o:
        out["point"] = o["point"]
    return out


def _game_json(g: Game, sport_alias: bool) -> dict:
    doc = {"id": g.gid}
    doc["sport" if sport_alias else "sport_key"] = SPORT_KEY
    doc.update({"sport_title": "NBA", "commence_time": g.commence,
                "home_team": g.home, "away_team": g.away})
    books = []
    for bi, b in enumerate(g.books):
        markets = [{"key": m, "outcomes": [_outcome_json(o, m, bi + oi)
                                           for oi, o in enumerate(g.lines[(b, m)])]}
                   for m in MARKETS]
        books.append({"title": b, "last_update": g.updates[b], "markets": markets})
    doc["bookmakers"] = books
    return doc


def expected_for(games: list[Game]) -> dict:
    """Planted answers for one snapshot (or history) of games.

    ``arbs``: h2h arbitrage margin per synthetic game id, as
    ``detect_discrepancies``/``arbitrage_view`` key them;
    ``rows``: flattened outcome rows per market;
    ``h2h_games``: synthetic ids of every game with h2h rows."""
    arbs: dict[str, float] = {}
    rows = {m: 0 for m in MARKETS}
    h2h_games = []
    for g in games:
        for m in MARKETS:
            rows[m] += sum(len(g.lines[(b, m)]) for b in g.books)
        sid = f"{g.home}_vs_{g.away}_{g.commence}"
        h2h_games.append(sid)
        margin = arb_margin(list(_best_h2h(g).values()))
        if margin is not None:
            arbs[sid] = margin
    return {"arbs": arbs, "rows": rows, "h2h_games": sorted(set(h2h_games)),
            "outcome_rows": sum(rows.values()), "props_rows": rows["player_points"]}


def _unique_matchups(rng: random.Random, n: int, books_per_game, players_per_game) -> list[Game]:
    """Games whose synthetic ``home_vs_away_commence`` ids never collide."""
    seen: set[str] = set()
    games: list[Game] = []
    i = 0
    while len(games) < n:
        g = _new_game(rng, i, books_per_game[len(games)],
                      players_per_game[len(games)], len(games) // 15)
        i += 1
        sid = f"{g.home}_vs_{g.away}_{g.commence}"
        if sid in seen:
            continue
        seen.add(sid)
        if rng.random() < ARB_FRACTION:
            _plant_arb(rng, g)
        games.append(g)
    return games


def _best_h2h(g: Game) -> dict[str, float]:
    best: dict[str, float] = {}
    for b in g.books:
        for o in g.lines[(b, "h2h")]:
            best[o["name"]] = max(best.get(o["name"], 0.0), float(o["price"]))
    return best


def _avoid_margin_ties(games: list[Game]) -> None:
    """Shade a best price wherever a margin sits on a rounding boundary,
    where a one-ulp difference in summation could flip the second decimal."""
    for g in games:
        while True:
            best = _best_h2h(g)
            if len(best) != 2:
                break
            x = (1.0 - sum(1.0 / p for p in best.values())) * 10000.0
            if abs(abs(x - int(x)) - 0.5) > 1e-6:
                break
            away = max(best, key=lambda k: (best[k], k))
            for b in g.books:
                for o in g.lines[(b, "h2h")]:
                    if o["name"] == away and o["price"] == best[away]:
                        o["price"] = round(o["price"] - 0.01, 2)


def write_snapshot(path: Path, games: list[Game], rng: random.Random) -> None:
    docs = [_game_json(g, sport_alias=rng.random() < 0.2) for g in games]
    path.write_text(json.dumps(docs, separators=(",", ":")))


def write_history(out_dir: Path, seed: int, n_files: int, games_per_file: int,
                  max_books: int = 10, max_players: int = 30) -> list[dict]:
    """A multi-file snapshot history. Each file holds ``games_per_file``
    games with skewed book and prop counts (see :func:`skewed_profile`), so
    every file has the same number of outcome rows. Returns the planted
    answers per file, in file order."""
    rng = random.Random(seed)
    out_dir.mkdir(parents=True, exist_ok=True)
    answers = []
    for f in range(n_files):
        books, players = zip(*skewed_profile(games_per_file, rng, max_books, max_players))
        games = _unique_matchups(rng, games_per_file, books, players)
        _avoid_margin_ties(games)
        write_snapshot(out_dir / f"snapshot_{f:04d}.json", games, rng)
        answers.append(expected_for(games))
    return answers


# --------------------------------------------------------------------------
# Props ticks for the line-move stream

PROPS_COLUMNS = ["timestamp", "game_id", "commence_time", "home_team", "away_team",
                 "bookmaker", "last_update", "player_name", "market", "line", "price"]
PROPS_ARROW = pa.schema([(c, pa.float64() if c in ("line", "price") else pa.string())
                         for c in PROPS_COLUMNS])


TICK_T0 = datetime(2025, 1, 1, 10, 0)


def _ts(tick: int) -> str:
    """Event time of a tick: ticks are TICK_MINUTES apart."""
    return (TICK_T0 + timedelta(minutes=TICK_MINUTES * tick)).strftime("%Y-%m-%dT%H:%M:%S.%f")


class PropsTicks:
    """A single-sport props board; each tick is one snapshot of every line
    key, a fixed fraction of prices moved and some earlier rows replayed.

    Ticks are ``TICK_MINUTES`` apart in event time. A book stamps a line's
    ``last_update`` when it moves the price, and re-stamps an unmoved line
    every ``TICK_RESTAMP`` ticks. Replays repeat a row from one of the last
    ``TICK_REPLAY_BACK`` ticks verbatim. With the engine's 30-minute
    watermarks these rules keep every answer below independent of when
    Spark evicts state: no row is ever late, and a (line, last_update)
    pair never reappears after its dedup state could have expired.

    ``next_tick`` returns the tick's Arrow table and its planted answers:
    ``moves``, the exact number of ``>= 5%`` line-move events
    ``detect_line_moves`` emits for it; ``dedup``, the set of (line key,
    last_update) pairs ``dedup_line_changes`` emits for it (first sightings
    only). :meth:`rollup` gives a tick's final market-rollup row."""

    def __init__(self, seed: int, n_games: int = 12, n_books: int = 8, players: int = 10):
        self.rng = random.Random(seed)
        self.keys: list[tuple] = []
        self.meta: dict[str, tuple] = {}
        for gi in range(n_games):
            home, away = self.rng.sample(TEAMS, 2)
            gid = f"p{gi:04d}"
            self.meta[gid] = ("2025-01-02T00:00:00Z", home, away)
            for b in sorted(self.rng.sample(BOOKS, n_books)):
                for k in range(players):
                    self.keys.append((gid, b, "player_points", f"{self.rng.choice(FIRST)} {gi}-{k}"))
        self.price = {k: round(self.rng.uniform(1.7, 2.2), 2) for k in self.keys}
        self.line = {k: self.rng.choice((8.5, 12.5, 16.5, 20.5, 24.5)) for k in self.keys}
        # tick of each key's last_update; staggered so re-stamps spread evenly
        self.stamped = {k: 1 - self.rng.randrange(TICK_RESTAMP) for k in self.keys}
        self.seen: set[tuple] = set()  # (key, last_update) pairs already out
        self.history: list[dict] = []  # per recent tick: key -> row tuple
        self.state: dict[tuple, float] = {}  # the detector's last price per key
        self.window_prices: dict[str, list[float]] = {}  # tick event time -> prices
        self.tick = 0

    def _row(self, k: tuple) -> tuple:
        start, home, away = self.meta[k[0]]
        return (_ts(self.tick), k[0], start, home, away, k[1], _ts(self.stamped[k]), k[3], k[2],
                self.line[k], self.price[k])

    def next_tick(self) -> tuple[pa.Table, dict]:
        self.tick += 1
        if self.tick > 1:
            for k in self.keys:
                if self.rng.random() < TICK_MOVE_FRACTION:
                    big = self.rng.random() < 0.5
                    pct = self.rng.uniform(0.07, 0.15) if big else self.rng.uniform(0.005, 0.03)
                    sign = self.rng.choice((-1.0, 1.0))
                    self.price[k] = round(min(4.0, max(1.1, self.price[k] * (1 + sign * pct))), 2)
                    self.stamped[k] = self.tick
                elif self.tick - self.stamped[k] >= TICK_RESTAMP:
                    self.stamped[k] = self.tick
        current = {k: self._row(k) for k in self.keys}
        dedup = {(k, _ts(self.stamped[k])) for k in self.keys} - self.seen
        self.seen |= dedup
        rows = list(current.values())
        if self.history:
            for k in self.keys:
                if self.rng.random() < TICK_REPLAY_FRACTION:
                    back = self.rng.randint(1, min(TICK_REPLAY_BACK, len(self.history)))
                    rows.append(self.history[-back][k])
        self.history = (self.history + [current])[-TICK_REPLAY_BACK:]
        for r in rows:
            self.window_prices.setdefault(r[0], []).append(r[10])
        moves = self._count_moves(rows)
        cols = list(zip(*rows))
        table = pa.table({c: pa.array(v, type=PROPS_ARROW.field(c).type)
                          for c, v in zip(PROPS_COLUMNS, cols)}, schema=PROPS_ARROW)
        return table, {"moves": moves, "dedup": dedup}

    def rollup(self, tick: int) -> tuple[int, float, float, float]:
        """(n_changes, min, max, avg price) of the rollup window holding
        ``tick``. Final once the ``TICK_REPLAY_BACK`` ticks after it are out,
        which is before the window's watermark can pass."""
        prices = self.window_prices[_ts(tick)]
        return len(prices), min(prices), max(prices), sum(prices) / len(prices)

    def _count_moves(self, rows: list[tuple]) -> int:
        """Replay of the detector in the same float arithmetic: per key, rows
        in event-time order, an event when the price moved >= 5% from the
        key's last seen price."""
        by_key: dict[tuple, list[tuple]] = {}
        for r in rows:
            by_key.setdefault((r[1], r[5], r[8], r[7]), []).append(r)
        n = 0
        for k, rs in by_key.items():
            last = self.state.get(k)
            for r in sorted(rs, key=lambda r: r[0]):
                price = r[10]
                if last is not None and last != 0:
                    pct = (price - last) / abs(last) * 100.0
                    if abs(pct) >= LINE_MOVE_PCT:
                        n += 1
                last = float(price)
            self.state[k] = last
        return n


def write_tick(path: Path, table: pa.Table) -> None:
    pq.write_table(table, path, compression="snappy")


# --------------------------------------------------------------------------
# Player game logs for the forecast cycle

LOG_ARROW = pa.schema([("player", pa.string()), ("date", pa.date32()),
                       ("points", pa.float64()), ("rebounds", pa.float64()),
                       ("assists", pa.float64()), ("market_line", pa.float64())])


def write_game_logs(path: Path, seed: int, n_players: int, n_games: int) -> dict:
    """Per-player game logs with a market line per game; returns the number
    of rows ``build_features`` keeps (every game but each player's last)."""
    rng = np.random.default_rng(seed)
    base = rng.uniform(5, 30, size=n_players)
    players = np.repeat([f"player_{i:05d}" for i in range(n_players)], n_games)
    day0 = np.datetime64("2024-10-22")
    dates = np.tile(day0 + np.arange(n_games) * 2, n_players)
    mu = np.repeat(base, n_games)
    points = np.round(np.maximum(0, rng.normal(mu, 5.0)), 0)
    rebounds = np.round(np.maximum(0, rng.normal(mu / 3, 2.0)), 0)
    assists = np.round(np.maximum(0, rng.normal(mu / 4, 2.0)), 0)
    line = np.round(mu + rng.normal(0, 2.0, size=mu.size)) + 0.5
    table = pa.table({"player": players, "date": dates.astype("datetime64[D]"),
                      "points": points, "rebounds": rebounds, "assists": assists,
                      "market_line": line}, schema=LOG_ARROW)
    pq.write_table(table, path, compression="snappy")
    return {"scored_rows": n_players * (n_games - 1)}


# --------------------------------------------------------------------------
# Small corpus tables for plans.battery entries (the warehouse, text and
# embedding tables those entries read, same names and schemas)

WORDS = ("the a of and to in is it for on spark data join filter window group "
         "sort merge scan hash table row column key value batch stream query "
         "order line part customer vector fast slow big small agg").split()
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
CORPUS_ROWS = {"customer": 150, "orders": 1500, "lineitem": 6000, "documents": 500,
               "embeddings": 500}
EMBED_DIM = 64


def write_corpus_tables(out_dir: Path, seed: int) -> None:
    """``customer``, ``orders``, ``lineitem``, ``documents`` and
    ``embeddings`` as one parquet file each. A tenth of the documents are
    near-copies of an earlier one, so the dedup entries find pairs."""
    rng = np.random.default_rng(seed)
    out_dir.mkdir(parents=True, exist_ok=True)
    n = CORPUS_ROWS
    day0 = np.datetime64("1992-01-01", "us")
    day = np.timedelta64(86_400_000_000, "us")
    tables = {}
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n["customer"]), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"]).tolist(),
    })
    order_days = rng.integers(0, 2400, n["orders"])
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n["orders"]), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]).tolist(),
        "o_totalprice": np.round(rng.uniform(1000, 400000, n["orders"]), 2),
        "o_orderdate": pa.array(day0 + order_days * day, pa.timestamp("us")),
        "o_orderpriority": rng.choice(PRIORITIES, n["orders"]).tolist(),
    })
    li_order = rng.integers(0, n["orders"], n["lineitem"])
    qty = rng.integers(1, 51, n["lineitem"]).astype(float)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(li_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 200, n["lineitem"]), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 10, n["lineitem"]), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n["lineitem"]), 2),
        "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
        "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n["lineitem"]).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n["lineitem"]).tolist(),
        "l_shipdate": pa.array(day0 + (order_days[li_order] + rng.integers(1, 122, n["lineitem"])) * day,
                               pa.timestamp("us")),
    })
    texts: list[str] = []
    for i in range(n["documents"]):
        if texts and rng.random() < 0.1:  # near-copy: a few words replaced
            words = texts[int(rng.integers(0, len(texts)))].split()
            for j in rng.integers(0, len(words), 3):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(8, 90)))]
        texts.append(" ".join(words))
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n["documents"]), pa.int64()),
        "text": texts,
        "lang": rng.choice(["de", "en", "es", "fr", "zh"], n["documents"]).tolist(),
        "source": [f"src{i % 20}" for i in range(n["documents"])],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.normal(0, 0.1, (n["embeddings"], EMBED_DIM)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n["embeddings"]), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n["embeddings"]), pa.int32()),
    })
    for name, table in tables.items():
        pq.write_table(table, out_dir / f"{name}.parquet", compression="snappy")

"""Generator tests: byte-determinism per seed and the planted answers.

Run with ``python3 -m pytest perfbench/test_gen.py -q`` (no Spark needed).
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parent))

import gen  # noqa: E402


def test_history_is_byte_deterministic_and_skewed(tmp_path):
    ea = gen.write_history(tmp_path / "a", 5, 3, 60)
    eb = gen.write_history(tmp_path / "b", 5, 3, 60)
    ec = gen.write_history(tmp_path / "c", 6, 3, 60)
    assert ea == eb and ea != ec
    for f in sorted((tmp_path / "a").iterdir()):
        assert f.read_bytes() == (tmp_path / "b" / f.name).read_bytes()
    files = sorted((tmp_path / "a").iterdir())
    assert len(files) == 3
    # every file (and every seed) has the same rows per market
    assert all(e["rows"] == ea[0]["rows"] for e in ea + ec)
    for e in ea:
        assert sum(e["rows"].values()) == e["outcome_rows"]
    games = json.loads(files[0].read_text())
    assert len(games) == 60
    books = [len(g["bookmakers"]) for g in games]
    assert max(books) == 10 and min(books) < 10 and books.count(10) > len(books) / 2
    text = files[0].read_text()
    assert '"+' in text  # American "+120"-style prices
    for alias in ("outcome_name", "price_decimal", '"sport"'):
        assert alias in text
    assert any(e["arbs"] for e in ea), "the history plants arbitrage games"


def test_props_ticks_are_deterministic(tmp_path):
    t1, t2 = gen.PropsTicks(9), gen.PropsTicks(9)
    moves = []
    for i in range(4):
        a, ea = t1.next_tick()
        b, eb = t2.next_tick()
        assert a.equals(b) and ea == eb
        gen.write_tick(tmp_path / f"a{i}.parquet", a)
        gen.write_tick(tmp_path / f"b{i}.parquet", b)
        assert (tmp_path / f"a{i}.parquet").read_bytes() == (tmp_path / f"b{i}.parquet").read_bytes()
        moves.append(ea["moves"])
    assert moves[0] == 0 and all(m > 0 for m in moves[1:])
    assert a.num_rows > len(t1.keys)  # replayed rows ride along


def _replay(ticks, n):
    """Tick tables plus a direct replay of the three streaming queries'
    answers: line moves, first sightings of (key, last_update), and the
    rows per event-time window."""
    last: dict[tuple, float] = {}
    seen: set = set()
    windows: dict[str, list[float]] = {}
    for _ in range(n):
        table, planted = ticks.next_tick()
        rows = sorted(table.to_pylist(), key=lambda r: r["timestamp"])
        moves, dedup = 0, set()
        for r in rows:
            key = (r["game_id"], r["bookmaker"], r["market"], r["player_name"])
            prev = last.get(key)
            if prev is not None and abs((r["price"] - prev) / abs(prev) * 100.0) >= 5.0:
                moves += 1
            last[key] = r["price"]
            if (key, r["last_update"]) not in seen:
                dedup.add((key, r["last_update"]))
            windows.setdefault(r["timestamp"], []).append(r["price"])
        seen |= dedup
        yield table, planted, moves, dedup, windows


def test_planted_answers_match_a_direct_replay():
    ticks = gen.PropsTicks(4, n_games=2, n_books=2, players=3)
    for table, planted, moves, dedup, windows in _replay(ticks, 8):
        assert planted["moves"] == moves
        assert planted["dedup"] == dedup
        t = ticks.tick
        prices = windows[gen._ts(t)]
        assert ticks.rollup(t)[:3] == (len(prices), min(prices), max(prices))


def test_ticks_keep_every_row_inside_the_watermark():
    """No replayed row is older than the 30-minute watermark allows, and a
    (line, last_update) pair stops reappearing within 30 minutes of event
    time after it was first seen."""
    ticks = gen.PropsTicks(11, n_games=3, n_books=3, players=4)
    first: dict = {}
    for table, *_ in _replay(ticks, 12):
        now = gen._ts(ticks.tick)
        for r in table.to_pylist():
            age = ticks.tick - next(t for t in range(ticks.tick + 1) if gen._ts(t) == r["timestamp"])
            assert age * gen.TICK_MINUTES < 30
            pair = ((r["game_id"], r["bookmaker"], r["player_name"]), r["last_update"])
            first.setdefault(pair, ticks.tick)
            assert (ticks.tick - first[pair]) * gen.TICK_MINUTES < 60, (pair, now)


def test_corpus_tables_are_byte_deterministic(tmp_path):
    gen.write_corpus_tables(tmp_path / "a", 2)
    gen.write_corpus_tables(tmp_path / "b", 2)
    names = sorted(p.name for p in (tmp_path / "a").iterdir())
    assert names == sorted(f"{t}.parquet" for t in gen.CORPUS_ROWS)
    for n in names:
        assert (tmp_path / "a" / n).read_bytes() == (tmp_path / "b" / n).read_bytes()
        assert pq.read_table(tmp_path / "a" / n).num_rows == gen.CORPUS_ROWS[n[:-8]]


def test_game_logs_are_byte_deterministic(tmp_path):
    ea = gen.write_game_logs(tmp_path / "a.parquet", 2, 10, 6)
    eb = gen.write_game_logs(tmp_path / "b.parquet", 2, 10, 6)
    assert ea == eb == {"scored_rows": 10 * 5}
    assert (tmp_path / "a.parquet").read_bytes() == (tmp_path / "b.parquet").read_bytes()
    assert pq.read_table(tmp_path / "a.parquet").num_rows == 60


def test_margin_rounding_is_half_up_like_spark():
    assert gen.round2_half_up(0.125) == 0.13  # Python's round() gives 0.12
    assert gen.arb_margin([2.1, 2.1]) == round((1 - 2 / 2.1) * 100, 2)
    assert gen.arb_margin([1.9, 1.9]) is None
    assert gen.arb_margin([3.0, 3.0, 3.0]) is None

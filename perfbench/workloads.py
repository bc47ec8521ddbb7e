"""The sports workloads. One closed-loop client, one outstanding operation.

Each workload times calls into the engine's public functions from outside,
verifies every operation's output against the answers the generators
planted, and records per-layer samples when the run is traced.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path
from types import SimpleNamespace

import gen
import measure
import pyarrow.parquet as pq
from measure import Tracer

from pyspark.sql import functions as F

from sports_data_integration_and_forecasting_pipeline_spark.app import (
    app_summary,
    arbitrage_view,
)
from sports_data_integration_and_forecasting_pipeline_spark.forecast import (
    predict,
    train_model,
)
from sports_data_integration_and_forecasting_pipeline_spark.operators.evaluation import backtest
from sports_data_integration_and_forecasting_pipeline_spark.operators.ev import (
    enrich_dataframe,
    high_ev_view,
)
from sports_data_integration_and_forecasting_pipeline_spark.operators.features import (
    build_features,
)
from sports_data_integration_and_forecasting_pipeline_spark.operators.flatten import (
    flatten_odds_to_df,
    props_to_dataframe,
    standardize_flatten,
)
from sports_data_integration_and_forecasting_pipeline_spark.operators.markets import (
    detect_discrepancies,
)
from sports_data_integration_and_forecasting_pipeline_spark.operators.odds import (
    add_true_probabilities,
    clean_odds,
    standardize_odds,
)
from sports_data_integration_and_forecasting_pipeline_spark.schemas import PROPS_SCHEMA
from sports_data_integration_and_forecasting_pipeline_spark.sinks import (
    compact_canonical,
    current_version,
    export_report,
    read_canonical,
    update_canonical_table,
)
from sports_data_integration_and_forecasting_pipeline_spark.sources.readers import (
    read_odds_json,
)
from sports_data_integration_and_forecasting_pipeline_spark.streaming import canonical as streams

V2_MARKETS = ["h2h", "spreads", "totals"]

BACKFILL_FILES, BACKFILL_GAMES_PER_FILE, BACKFILL_WARMUP_OPS = 12, 75, 2
LOG_PLAYERS, LOG_GAMES = 400, 60
FORECAST_CYCLES = 3
REPORTS = ("discrepancies", "summary", "high_ev")  # backfill's report sinks

TICK_GAMES, TICK_BOOKS, TICK_PLAYERS = 12, 8, 10
STREAM_QUERIES = ("dedup", "rollup", "moves")
STREAM_WARMUP_OPS = 2
ROLLUP_LAG = 4


@dataclass
class Run:
    """State of one benchmark run: the session, its inputs and what it measured."""

    spark: object
    work: Path
    seed: int
    seconds: float
    traced: bool
    tracer: Tracer
    rss: measure.RssPeaks = field(default_factory=measure.RssPeaks)
    gen_s: float = 0.0  # input generation, excluded from setup_s
    setup_s: float = 0.0
    verify_s: float = 0.0  # deferred output checks after the window
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    op_s: list[float] = field(default_factory=list)
    rows: float = 0.0  # input rows of the untraced timed operations
    traced_op_s: list[float] = field(default_factory=list)
    # per-layer samples, one per traced operation
    layer: dict[str, list[float]] = field(default_factory=dict)
    pending: list = field(default_factory=list)  # deferred verifications

    def sample(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(float(value))

    def generate(self, fn, *args, **kwargs):
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            self.gen_s += time.perf_counter() - t0

    def noop(self, df) -> float:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0


class Checks:
    """Mismatches found while verifying one operation."""

    def __init__(self, run: Run, what: str):
        self.run, self.what, self.bad = run, what, []

    def expect(self, ok: bool, msg: str) -> None:
        if not ok:
            self.bad.append(msg)

    def close(self) -> None:
        self.run.attempted += 1
        if self.bad:
            self.run.failed += 1
            self.run.problems.append(f"{self.what}: {'; '.join(self.bad)}")


def closed_loop(run: Run, op, warmup: int, min_ops: int = 1) -> None:
    """Warm up, then run operations back to back until ``run.seconds`` pass
    and at least ``min_ops`` operations ran.

    In the traced run the first half of the window is untraced, so the
    traced operations' latency can be set against it (tracing overhead),
    and at least one operation is traced."""
    sc = run.tracer.sc
    run.tracer.sc = None
    for i in range(warmup):
        attempt(run, f"operation {i}", op, i, False)
    run.setup_s = measure.seconds_since_process_start() - run.gen_s
    run.rss.sample()
    start = time.perf_counter()
    deadline = start + run.seconds
    i, traced = warmup, 0
    while (time.perf_counter() < deadline or i < warmup + min_ops
           or (run.traced and not traced)):
        if (run.traced and run.tracer.sc is None and i > warmup
                and time.perf_counter() - start >= run.seconds / 2):
            run.tracer.sc = sc
        traced += run.tracer.enabled
        attempt(run, f"operation {i}", op, i, True)
        i += 1
        run.rss.sample()
    t0 = time.perf_counter()
    for n, verify in enumerate(run.pending):
        attempt(run, f"verification {n}", verify)
    run.pending.clear()
    run.verify_s += time.perf_counter() - t0


def attempt(run: Run, what: str, fn, *args) -> None:
    """Call ``fn``; if it raises, count one attempted and failed operation
    and go on, so the run still reports what it measured."""
    try:
        fn(*args)
    except Exception as exc:
        run.attempted += 1
        run.failed += 1
        run.problems.append(f"{what} raised {type(exc).__name__}: {exc}")
        traceback.print_exc()


def record_op(run: Run, timed: bool, seconds: float, rows: float) -> None:
    if not timed:
        return
    if run.tracer.enabled:
        run.traced_op_s.append(seconds)
        return
    run.op_s.append(seconds)
    run.rows += rows


# --------------------------------------------------------------------------
# Shared odds chain


def dashboard_frames(games):
    """The four dashboard tables over one games DataFrame (all lazy)."""
    cleaned = clean_odds(games, "h2h")
    summary = app_summary(cleaned)
    return {
        "summary": summary,
        "arbitrage": arbitrage_view(summary),
        "discrepancies": detect_discrepancies(cleaned, "h2h"),
        "high_ev": high_ev_view(
            enrich_dataframe(add_true_probabilities(standardize_odds(games, V2_MARKETS)))
        ),
    }


def check_tables(chk: Checks, tables: dict, exp: dict) -> None:
    arbs = {r.game_id: r.arbitrage_margin_pct for r in tables["arbitrage"]}
    chk.expect(arbs == exp["arbs"], f"arbitrage margins {len(arbs)} vs {len(exp['arbs'])} planted")
    disc = {r.game_id: r.arbitrage_margin for r in tables["discrepancies"]}
    chk.expect({g: m for g, m in disc.items() if m is not None} == exp["arbs"],
               "discrepancy margins")
    chk.expect(sorted(disc) == exp["h2h_games"], "discrepancy game set")
    chk.expect(sorted({r.game_id for r in tables["summary"]}) == exp["h2h_games"],
               "summary game set")


def check_flatten(chk: Checks, spark, path: str, exp: dict) -> None:
    """Σ devig_prob = 1 per game and flattened rows per market."""
    games = read_odds_json(spark, path)
    sums = (clean_odds(games, "h2h").groupBy("game_id")
            .agg(F.sum("devig_prob").alias("s")).collect())
    chk.expect(len(sums) == len(exp["h2h_games"]), "devig game count")
    chk.expect(all(abs(r.s - 1.0) < 1e-9 for r in sums), "sum of devig_prob != 1")
    counts = {r.market: r["count"] for r in
              standardize_flatten(games, list(gen.MARKETS)).groupBy("market").count().collect()}
    chk.expect(counts == exp["rows"], f"rows per market {counts} vs {exp['rows']}")


def canonical_files(path: Path) -> tuple[int, int]:
    """(data files, bytes) under a canonical table's directory."""
    files = [p for p in path.rglob("*.parquet") if p.is_file()] if path.exists() else []
    return len(files), sum(p.stat().st_size for p in files)


def odds_prefixes(run: Run, path: str, op: int) -> dict[str, float]:
    """Traced run only: materialise each layer's prefix of the odds chains to
    the noop sink, each from a freshly built plan so no stage is reused. A
    layer's self time is its prefix time minus its parent prefix's."""
    spark = run.spark

    def games():
        return read_odds_json(spark, path)

    # The read prefix keeps one column: a full-width scan would parse nested
    # fields that every downstream plan prunes away. Both markets tables
    # hang off the flatten, not the devig, because neither reads
    # devig_prob and Catalyst drops that window from their plans.
    nodes = [  # (node, parent, layer, builder)
        ("read", None, "sources", lambda: games().select("id")),
        ("flat_h2h", "read", "flatten", lambda: flatten_odds_to_df(games(), "h2h")),
        ("flat_v2", "read", "flatten", lambda: standardize_flatten(games(), V2_MARKETS)),
        ("flat_props", "read", "flatten", lambda: props_to_dataframe(games())),
        ("clean", "flat_h2h", "odds", lambda: clean_odds(games(), "h2h")),
        ("true_prob", "flat_v2", "odds",
         lambda: add_true_probabilities(standardize_odds(games(), V2_MARKETS))),
        ("summary", "flat_h2h", "markets", lambda: dashboard_frames(games())["summary"]),
        ("discrepancies", "flat_h2h", "markets",
         lambda: dashboard_frames(games())["discrepancies"]),
        ("high_ev", "true_prob", "ev", lambda: dashboard_frames(games())["high_ev"]),
    ]
    t: dict[str, float] = {}
    exch: dict[str, int] = {}
    spans: dict[str, dict] = {}
    for node, parent, layer, build in nodes:
        df = build()
        exch[node] = measure.planned_exchanges(df)
        with run.tracer.span(f"prefix.{node}", op) as rec:
            t[node] = run.noop(df)
        spans[node] = rec
    self_s = {"sources": 0.0, "flatten": 0.0, "odds": 0.0, "markets": 0.0, "ev": 0.0}
    exchanges = {"odds": 0, "markets": 0}
    for node, parent, layer, _ in nodes:
        self_s[layer] += t[node] - (t[parent] if parent else 0.0)
        if layer in exchanges:
            exchanges[layer] += exch[node] - exch[parent]
    run.sample("sources.read_odds_json.self_s", self_s["sources"])
    run.sample("flatten.self_s", self_s["flatten"])
    run.sample("odds.self_s", self_s["odds"])
    run.sample("markets.self_s", self_s["markets"])
    run.sample("ev.self_s", self_s["ev"])
    run.sample("odds.exchanges", exchanges["odds"])
    run.sample("markets.exchanges", exchanges["markets"])
    run.layer.setdefault("_markets_spans", []).append(
        (spans["summary"]["id"], spans["discrepancies"]["id"]))
    return t


def sample_engine(run: Run, op: int, gc0: float, phases: list[dict]) -> None:
    """Traced run only: record which spans belong to operation ``op`` (the
    event log is parsed once at the end) plus GC and Catalyst phase times."""
    run.sample("spark.jvm_gc_s", measure.jvm_gc_seconds(run.spark) - gc0)
    for name in ("analysis", "optimization", "planning"):
        run.sample(f"catalyst.{name}_s", sum(p[name] for p in phases))
    run.layer.setdefault("_engine_ops", []).append(op)


# --------------------------------------------------------------------------
# odds_backfill


def forecast_cycle(run: Run, logs_path: str, op: int) -> tuple[dict, float]:
    """features → train (linear) → score → backtest. Returns the backtest row."""
    spark, tr = run.spark, run.tracer
    t0 = time.perf_counter()
    with tr.span("features.build_features", op):
        feats = build_features(spark.read.parquet(logs_path))
    with tr.span("forecast.train_model", op) as train:
        model = train_model(feats, model_type="linear")
    with tr.span("forecast.predict", op):
        scored = predict(model, feats)
    with tr.span("evaluation.backtest", op) as bt_span:
        bt = backtest(scored).collect()[0].asDict()
    dt = time.perf_counter() - t0
    if tr.enabled:
        logs_t = run.noop(spark.read.parquet(logs_path))
        feats_t = run.noop(build_features(spark.read.parquet(logs_path)))
        scored_t = run.noop(predict(model, build_features(spark.read.parquet(logs_path))))
        run.sample("features.self_s", feats_t - logs_t)
        run.sample("forecast.train_s", tr.duration(train))
        run.sample("forecast.iterations", model.stages[-1].summary.totalIterations)
        run.sample("forecast.predict_s", scored_t - feats_t)
        run.sample("evaluation.backtest_s", tr.duration(bt_span) - scored_t)
        run.sample("forecast.cycle_s", dt)
    return bt, dt


def odds_backfill(run: Run) -> None:
    """Each operation backfills one file of a multi-file snapshot history
    through the odds chain into report sinks, the arbitrage panel and a
    compacted canonical table. Files are taken in order, one per operation.
    After the window the forecast cycle runs FORECAST_CYCLES times."""
    spark = run.spark
    hist = run.work / "history"
    exp = run.generate(gen.write_history, hist, run.seed, BACKFILL_FILES, BACKFILL_GAMES_PER_FILE)
    files = sorted(hist.iterdir())
    logs = run.work / "game_logs.parquet"
    exp_logs = run.generate(gen.write_game_logs, logs, run.seed, LOG_PLAYERS, LOG_GAMES)

    def check_backtest(what: str, bt: dict) -> None:
        chk = Checks(run, what)
        total = bt["wins"] + bt["losses"] + bt["passes"]
        chk.expect(total == exp_logs["scored_rows"],
                   f"backtest wins+losses+passes {total} vs {exp_logs['scored_rows']} scored")
        chk.close()

    def op(i: int, timed: bool) -> None:
        tr = run.tracer
        src, e = files[i % len(files)], exp[i % len(files)]
        out = run.work / f"op_{i:04d}"
        canonical = out / "canonical"
        prefix = odds_prefixes(run, str(src), i) if tr.enabled else None
        gc0 = measure.jvm_gc_seconds(spark) if tr.enabled else 0.0
        t0 = time.perf_counter()
        with tr.span("sources.read_odds_json", i):
            games = read_odds_json(spark, str(src))
        frames = dashboard_frames(games)
        for name in REPORTS:
            with tr.span(f"sinks.export_report.{name}", i):
                export_report(frames[name], str(out / name), fmt="parquet")
        with tr.span("app.collect.arbitrage", i) as collect_span:
            arbitrage = frames["arbitrage"].collect()  # the panel a UI shows
        with tr.span("sinks.update_canonical_table", i) as app_span:
            update_canonical_table(props_to_dataframe(games), str(canonical))
        files_app, bytes_app = canonical_files(canonical) if tr.enabled else (0, 0)
        with tr.span("sinks.compact_canonical", i) as compact_span:
            compacted = compact_canonical(spark, str(canonical))
        dt = time.perf_counter() - t0
        record_op(run, timed, dt, e["outcome_rows"])
        if tr.enabled:
            sample_engine(run, i, gc0, [measure.catalyst_phases(frames["arbitrage"])])
            run.sample("app.collect_s", tr.duration(collect_span))
            run.sample("app.rows_collected", len(arbitrage))
            run.sample("sinks.append_s", tr.duration(app_span) - prefix["flat_props"])
            run.sample("sinks.compact_s", tr.duration(compact_span))
            files_live, bytes_live = canonical_files(live_version(canonical))
            run.sample("sinks.files_written", files_app)
            run.sample("sinks.bytes_rewritten", bytes_live)
            run.sample("sinks.files_live", files_live)
            run.sample("_sinks.user_bytes", bytes_app)
            run.sample("_sinks.written_bytes", bytes_app + bytes_live)
            run.sample("sources.input_bytes", src.stat().st_size)
            run.sample("sources.games_in", BACKFILL_GAMES_PER_FILE)
            run.sample("flatten.rows_out", e["outcome_rows"])
        if i == 0:  # the first warm-up operation also warms the forecast cycle
            check_backtest(f"warm-up forecast {i}", forecast_cycle(run, str(logs), i)[0])

        def verify() -> None:
            chk = Checks(run, f"backfill {i}")
            # the reports are read back outside Spark, so checking them adds no jobs
            tables = {name: [SimpleNamespace(**r) for r in pq.read_table(out / name).to_pylist()]
                      for name in REPORTS}
            tables["arbitrage"] = arbitrage
            check_tables(chk, tables, e)
            # flatten and devig depend only on the input: check each file once
            if i < len(files):
                check_flatten(chk, spark, str(src), e)
            chk.expect(compacted == e["props_rows"], f"compacted {compacted} vs {e['props_rows']}")
            n = read_canonical(spark, str(canonical)).count()
            chk.expect(n == e["props_rows"], f"canonical rows after compaction {n}")
            chk.close()
            shutil.rmtree(out, ignore_errors=True)

        run.pending.append(verify)

    def forecast(c: int) -> None:
        bt, dt = forecast_cycle(run, str(logs), BACKFILL_WARMUP_OPS + len(run.op_s)
                                + len(run.traced_op_s) + c)
        if not run.tracer.enabled:
            run.sample("forecast_s", dt)
        check_backtest(f"forecast cycle {c}", bt)

    closed_loop(run, op, warmup=BACKFILL_WARMUP_OPS)
    for c in range(FORECAST_CYCLES):
        attempt(run, f"forecast cycle {c}", forecast, c)


def live_version(canonical: Path) -> Path:
    return canonical / f"v{current_version(str(canonical)):08d}"


# --------------------------------------------------------------------------
# line_stream


def new_sink_rows(sink: Path, seen: set[str]) -> list[dict]:
    """Rows of the parquet files a streaming sink wrote since the last call."""
    rows = []
    for f in sorted(sink.glob("*.parquet")) if sink.exists() else []:
        if f.name not in seen:
            seen.add(f.name)
            rows.extend(pq.read_table(f).to_pylist())
    return rows


def line_stream(run: Run) -> None:
    """Each operation is one tick: a props snapshot lands, three streaming
    queries drain it (available-now trigger, persistent checkpoints), the
    tick is appended to the canonical table and the table compacted.

    Every tick compacts, so that every tick is the same operation and the
    median does not depend on how many ticks fit the window."""
    spark = run.spark
    ticks = run.generate(gen.PropsTicks, run.seed, n_games=TICK_GAMES, n_books=TICK_BOOKS,
                         players=TICK_PLAYERS)
    snap, staging = run.work / "snapshots", run.work / "staging"
    snap.mkdir()
    staging.mkdir()
    canonical = run.work / "canonical"
    sinks = {q: run.work / "out" / q for q in STREAM_QUERIES}
    seen = {q: set() for q in STREAM_QUERIES}
    tick_of = {}  # rollup window start -> tick
    rolled: list[int] = []  # ticks whose rollup window was emitted

    def source():
        return streams.with_event_time(streams.read_snapshot_stream(spark, str(snap)))

    builders = {
        "dedup": lambda: streams.dedup_line_changes(source()),
        "rollup": lambda: streams.market_rollup_stream(source()),
        "moves": lambda: streams.detect_line_moves(source()),
    }
    state = {"appended": 0}

    def op(i: int, timed: bool) -> None:
        tr = run.tracer
        table, planted = run.generate(ticks.next_tick)
        tick_of[table.column("timestamp")[0].as_py()] = ticks.tick
        staged = staging / f"tick_{i:05d}.parquet"
        run.generate(gen.write_tick, staged, table)
        landed = snap / staged.name
        gc0 = measure.jvm_gc_seconds(spark) if tr.enabled else 0.0
        progress = {}
        t0 = time.perf_counter()
        os.replace(staged, landed)
        for q in STREAM_QUERIES:
            with tr.span(f"streaming.{q}", i) as rec:
                query = (builders[q]().writeStream.format("parquet")
                         .option("path", str(sinks[q]))
                         .option("checkpointLocation", str(run.work / "checkpoints" / q))
                         .outputMode("append").trigger(availableNow=True).start())
                query.awaitTermination()
            if rec is not None:
                rec["groups"].append(str(query.runId))
                progress[q] = measure.stream_progress(query)
        files0, bytes0 = canonical_files(canonical) if tr.enabled else (0, 0)
        with tr.span("sinks.update_canonical_table", i) as app_span:
            update_canonical_table(spark.read.schema(PROPS_SCHEMA).parquet(str(landed)),
                                   str(canonical))
        files1, bytes1 = canonical_files(canonical) if tr.enabled else (0, 0)
        with tr.span("sinks.compact_canonical", i) as compact_span:
            compacted = compact_canonical(spark, str(canonical))
        dt = time.perf_counter() - t0
        state["appended"] += table.num_rows
        record_op(run, timed, dt, table.num_rows)
        if tr.enabled:
            sample_engine(run, i, gc0, [])
            for q, p in progress.items():
                for k in ("trigger_s", "add_batch_s", "planning_s", "commit_s",
                          "state_rows", "state_bytes", "state_commit_s"):
                    run.sample(f"stream.{q}.{k}", p.get(k, 0.0))
            run.sample("stream.moves.python_rows_sent", progress["moves"].get("input_rows", 0))
            run.sample("stream.moves.events_out", planted["moves"])
            run.sample("sinks.append_s", tr.duration(app_span))
            run.sample("sinks.files_written", files1 - files0)
            files_live, bytes_live = canonical_files(live_version(canonical))
            run.sample("sinks.compact_s", tr.duration(compact_span))
            run.sample("sinks.bytes_rewritten", bytes_live)
            run.sample("sinks.files_live", files_live)
            run.sample("_sinks.user_bytes", bytes1 - bytes0)
            run.sample("_sinks.written_bytes", bytes1 - bytes0 + bytes_live)

        # verified now, not deferred: the sinks grow with the next tick
        chk = Checks(run, f"tick {ticks.tick}")
        moves = new_sink_rows(sinks["moves"], seen["moves"])
        chk.expect(len(moves) == planted["moves"],
                   f"line-move events {len(moves)} vs {planted['moves']} planted")
        dedup = [((r["game_id"], r["bookmaker"], r["market"], r["player_name"]), r["last_update"])
                 for r in new_sink_rows(sinks["dedup"], seen["dedup"])]
        chk.expect(len(dedup) == len(planted["dedup"]) and set(dedup) == planted["dedup"],
                   f"dedup rows {len(dedup)} vs {len(planted['dedup'])} planted")
        for r in new_sink_rows(sinks["rollup"], seen["rollup"]):
            t = tick_of.get(r["window_start"].strftime("%Y-%m-%dT%H:%M:%S.%f"))
            n, lo, hi, avg = ticks.rollup(t) if t else (None, None, None, None)
            chk.expect(t is not None and (r["n_changes"], r["min_price"], r["max_price"]) == (n, lo, hi)
                       and abs(r["avg_price"] - avg) <= 1e-9 * avg,
                       f"rollup window {r['window_start']}: {r['n_changes']} changes vs {n}")
            rolled.append(t)
        # a window is emitted once the watermark (30 min behind the newest
        # event) passes its end: with ticks 10 min apart, ROLLUP_LAG ticks on
        expect = list(range(1, ticks.tick - ROLLUP_LAG + 1))
        chk.expect(sorted(rolled) == expect,
                   f"rollup windows emitted for ticks {sorted(rolled)}, expected {expect}")
        chk.expect(compacted == state["appended"], f"compacted {compacted} vs {state['appended']}")
        n = read_canonical(spark, str(canonical)).count()
        chk.expect(n == state["appended"], f"canonical rows after compaction {n}")
        chk.close()

    # enough ticks that at least one rollup window closes and is checked
    closed_loop(run, op, warmup=STREAM_WARMUP_OPS, min_ops=ROLLUP_LAG + 1 - STREAM_WARMUP_OPS)


WORKLOADS = {
    "odds_backfill": odds_backfill,
    "line_stream": line_stream,
}

"""Measurement helpers: spans with Spark job groups, event-log counters,
Catalyst phase times, streaming progress and process-tree peak RSS.

Everything here observes the engine from outside its package: spans wrap
the benchmark's own calls into the public API, and the engine counters come
from Spark's event log (enabled only in the traced run) keyed by the job
group each span sets.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

ENGINE_COUNTERS = ("jobs", "stages", "tasks", "run_s", "cpu_s", "sched_delay_s",
                   "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_s",
                   "spill_bytes")


class Tracer:
    """In-memory spans. Disabled (``sc=None``) it records nothing and sets no
    job group, so the untraced run pays only a context-manager call."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @property
    def enabled(self) -> bool:
        return self.sc is not None

    @contextmanager
    def span(self, name: str, op: int):
        if self.sc is None:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": op,
               "parent": self._stack[-1] if self._stack else None,
               "groups": [f"perfbench-{sid}"], "start": time.time()}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(rec["groups"][0], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self.sc.setJobGroup(parent["groups"][0], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def duration(self, rec: dict | None) -> float:
        return rec["end"] - rec["start"] if rec else 0.0

    def write(self, path: Path) -> None:
        path.write_text("\n".join(json.dumps(s) for s in self.spans) + "\n")


def event_log_conf(ev_dir: Path) -> dict[str, str]:
    return {"spark.eventLog.enabled": "true", "spark.eventLog.dir": str(ev_dir),
            "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false"}


def parse_event_log(ev_dir: Path) -> dict[str, dict[str, float]]:
    """Per job group: jobs, executed stages and task metrics (seconds, bytes).

    Scheduler delay per task is computed the way Spark's UI does: task
    duration minus run, deserialisation, result serialisation and
    result-fetch time."""
    files = [p for p in ev_dir.rglob("*") if p.is_file()]
    if not files:
        raise FileNotFoundError(f"no event log under {ev_dir}")
    by_group: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(ENGINE_COUNTERS, 0.0))
    stage_group: dict[int, str] = {}
    for f in files:
        with f.open() as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    by_group[g]["jobs"] += 1
                    for s in e.get("Stage IDs", []):
                        stage_group.setdefault(s, g)
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    if info.get("Submission Time") is not None:
                        by_group[stage_group.get(info["Stage ID"], "")]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    c = by_group[stage_group.get(e["Stage ID"], "")]
                    info, m = e["Task Info"], e.get("Task Metrics") or {}
                    c["tasks"] += 1
                    run = m.get("Executor Run Time", 0)
                    c["run_s"] += run / 1e3
                    c["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    got = info.get("Getting Result Time", 0)
                    fetch = info["Finish Time"] - got if got else 0
                    delay = (info["Finish Time"] - info["Launch Time"] - run
                             - m.get("Executor Deserialize Time", 0)
                             - m.get("Result Serialization Time", 0) - fetch)
                    c["sched_delay_s"] += max(0, delay) / 1e3
                    sr = m.get("Shuffle Read Metrics") or {}
                    c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    c["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
                    c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return by_group


def span_counters(spans: list[dict], groups: dict[str, dict[str, float]], spans_of) -> dict[str, float]:
    """Sum engine counters over the spans ``spans_of`` selects."""
    out = dict.fromkeys(ENGINE_COUNTERS, 0.0)
    for s in spans:
        if not spans_of(s):
            continue
        for g in s["groups"]:
            for k, v in groups.get(g, {}).items():
                out[k] += v
    return out


def catalyst_phases(df) -> dict[str, float]:
    """Analysis / optimisation / planning seconds from the query's tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
    return out


def planned_exchanges(df) -> int:
    """Shuffle and broadcast exchanges in the query's physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"\bExchange\b|\bBroadcastExchange\b", plan))


def jvm_gc_seconds(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1e3


def stream_progress(query) -> dict[str, float]:
    """Sum one query run's micro-batch progress (data and no-data batches)."""
    out = defaultdict(float)
    for p in query.recentProgress:
        d = p.durationMs
        out["trigger_s"] += d.get("triggerExecution", 0) / 1e3
        out["add_batch_s"] += d.get("addBatch", 0) / 1e3
        out["planning_s"] += d.get("queryPlanning", 0) / 1e3
        out["commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3
        out["input_rows"] += p.numInputRows
        # state size is a level, not a flow: keep the last batch's
        out["state_rows"] = sum(o.numRowsTotal for o in p.stateOperators)
        out["state_bytes"] = sum(o.memoryUsedBytes for o in p.stateOperators)
        out["state_commit_s"] += sum(o.commitTimeMs for o in p.stateOperators) / 1e3
    return dict(out)


# --------------------------------------------------------------------------
# Process tree memory


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            stat = Path(f"/proc/{d}/stat").read_text()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


class RssPeaks:
    """Peak resident memory of the processes below this one — the JVM and
    its Python workers. Each sample sums the live processes' own peaks
    (VmHWM); the metric is the largest such sum. Samples are taken between
    operations, so a worker that lived and died inside one operation is
    missed; the JVM's peak is never missed."""

    def __init__(self):
        self.peak_kb = 0
        self.breakdown: dict[str, int] = {}  # process name -> kB at the peak

    def sample(self) -> None:
        by_name: dict[str, int] = defaultdict(int)
        for pid in descendants(os.getpid()):
            try:
                status = Path(f"/proc/{pid}/status").read_text()
            except OSError:
                continue
            m = re.search(r"^VmHWM:\s+(\d+) kB", status, re.M)
            name = re.search(r"^Name:\s+(\S+)", status, re.M)
            by_name[name.group(1) if name else "?"] += int(m.group(1)) if m else 0
        total = sum(by_name.values())
        if total > self.peak_kb:
            self.peak_kb, self.breakdown = total, dict(by_name)

    def total_mb(self) -> float:
        return self.peak_kb / 1024.0


def seconds_since_process_start() -> float:
    """Seconds since this process started, from /proc (10 ms resolution)."""
    ticks = int(Path("/proc/self/stat").read_text().rsplit(")", 1)[1].split()[19])
    uptime = float(Path("/proc/uptime").read_text().split()[0])
    return uptime - ticks / os.sysconf("SC_CLK_TCK")


def tail(samples: list[float]) -> tuple[float, int]:
    """Tail latency and its percentile (nearest rank). With at least 20
    samples: the highest percentile that has ten samples beyond it. Fewer
    samples support no such percentile at or above the median, so the run
    reports its p90 instead; the caller prints which one it got."""
    n = len(samples)
    if not n:
        return 0.0, 90
    pct = int(100 * (n - 10) / n) if n >= 20 else 90
    idx = min(n - 1, max(0, -(-pct * n // 100) - 1))
    return sorted(samples)[idx], pct


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0

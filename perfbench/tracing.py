"""Measurement plumbing kept outside the package: spans around public-layer
calls, per-layer Spark counters from a local event log, executed-plan node
counts, and a peak-RSS sampler over this process's descendants."""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager
from pathlib import Path

JOB_GROUP = "spark.jobGroup.id"
SPARK_LAYERS = ("session", "pipeline", "manifest", "extract_docs", "dedup")
COUNTERS = ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
            "executor_cpu_s", "tasks", "failed_tasks", "task_skew")


class Tracer:
    """Spans (name, start, end, parent) kept in memory. While a span with a
    ``group`` is open, Spark jobs submitted from this thread carry that job
    group, which keys the event-log counters. Disabled, it records nothing
    and sets no group."""

    def __init__(self, spark=None, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, group: str | None = None):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "group": group, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.spark.sparkContext if group else None
        prev = sc.getLocalProperty(JOB_GROUP) if sc else None
        if sc:
            sc.setLocalProperty(JOB_GROUP, group)
        try:
            yield
        finally:
            if sc:
                sc.setLocalProperty(JOB_GROUP, prev)
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def dump(self, path: Path, extra: dict) -> None:
        """Write spans with their self time (duration minus child spans)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        spans = [dict(s, dur_s=s["end"] - s["start"],
                      self_s=s["end"] - s["start"] - child[s["id"]]) for s in self.spans]
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"spans": spans, **extra}, indent=1))


def event_log_counters(log_dir: Path) -> tuple[dict, dict]:
    """Per job group: shuffle/spill bytes, executor CPU, task counts and skew
    (max / median task seconds), plus the number of jobs, parsed from the
    event log(s) in ``log_dir``."""
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = {}
    tasks: dict[str, list] = {}
    for f in sorted(p for p in log_dir.rglob("*") if p.is_file()):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(JOB_GROUP) or "none"
                    jobs[group] = jobs.get(group, 0) + 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"), "none")
                    tasks.setdefault(group, []).append(ev)
    out = {}
    for group, evs in tasks.items():
        c = dict.fromkeys(COUNTERS, 0.0)
        secs = []
        for ev in evs:
            info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
            c["tasks"] += 1
            c["failed_tasks"] += bool(info.get("Failed"))
            secs.append((info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000)
            rd, wr = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
            c["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            c["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
            c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        med = statistics.median(secs)
        c["task_skew"] = max(secs) / med if med > 0 else 1.0
        out[group] = c
    return out, jobs


_PY_NODE = re.compile(r"\b(MapInPandas|MapInArrow|PythonMapInArrow|ArrowEvalPython|"
                      r"BatchEvalPython|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|"
                      r"AggregateInPandas|WindowInPandas|FlatMapGroupsInArrow)\b")
_EXCHANGE = re.compile(r"\b(Exchange|ReusedExchange)\b")


def plan_nodes(df) -> tuple[int, int]:
    """(Python nodes, Exchanges) in the executed plan of an executed
    DataFrame; for an adaptive plan, only its final plan is counted."""
    text = df._jdf.queryExecution().executedPlan().toString()
    if "== Final Plan ==" in text:
        text = text.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    return len(_PY_NODE.findall(text)), len(_EXCHANGE.findall(text))


def descendants() -> set[int]:
    """Pids of every live descendant of this process, from /proc."""
    parent = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat", "rb") as fh:
                    # ppid is the 2nd field after the parenthesised name
                    parent[int(pid)] = int(fh.read().rsplit(b")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    mine, frontier = set(), {os.getpid()}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier} - mine
        mine |= frontier
    return mine


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system, with reaped children) of this process and
    every live descendant: the driver JVM and its Python workers."""
    total = 0
    for pid in descendants() | {os.getpid()}:
        try:
            with open(f"/proc/{pid}/stat", "rb") as fh:
                f = fh.read().rsplit(b")", 1)[1].split()
            # utime, stime, cutime, cstime are fields 14-17 of stat
            total += sum(int(x) for x in f[11:15])
        except (OSError, IndexError, ValueError):
            pass
    return total / _TICK


def host_steal_s() -> float:
    """Seconds the hypervisor ran something else on this machine's CPUs
    (summed over CPUs), from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as fh:
        return int(fh.readline().split()[8]) / _TICK


class RssSampler:
    """Peak summed RSS (MB) of every descendant of this process — the driver
    JVM and the Python workers it forks — sampled from /proc."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _sample(self) -> float:
        total = 0
        for pid in descendants():
            try:
                with open(f"/proc/{pid}/statm", "rb") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total / 2**20

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, self._sample())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

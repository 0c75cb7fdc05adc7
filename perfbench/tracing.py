"""Collectors for the benchmark: spans, Spark event-log counters, peak RSS.

Spans are recorded from the benchmark's own code around calls into the
library (nothing inside the library is instrumented). They stay in memory
and are written once, when the run ends. Engine counters come from Spark's
JSON event log: every task-end record is attributed to the innermost span
whose interval contains the task's launch time, and every job to the span
containing its submission time.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    run_id: str

    @property
    def module(self) -> str:
        """``operators.blocking.pairs`` -> ``operators.blocking``."""
        return self.name.rsplit(".", 1)[0]

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> Span:
        """Record a span whose interval is already known."""
        if parent is None and self._stack:
            parent = self._stack[-1]
        sp = Span(len(self.spans), name, start, end, parent, self.run_id)
        self.spans.append(sp)
        return sp

    @contextmanager
    def span(self, name: str):
        sp = self.add(name, time.time(), float("nan"))
        self._stack.append(sp.id)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    def write(self, path: str) -> None:
        selft = self_times(self.spans)
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({**asdict(sp), "self_s": selft[sp.id]}) + "\n")


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover."""
    children: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)
    out = {}
    for sp in spans:
        kids = [
            (max(c.start, sp.start), min(c.end, sp.end))
            for c in children.get(sp.id, [])
            if c.end > sp.start and c.start < sp.end
        ]
        out[sp.id] = sp.seconds - _covered(kids)
    return out


def innermost(spans: list[Span], t: float) -> Span | None:
    """The shortest span whose interval contains ``t`` (epoch seconds)."""
    best = None
    for sp in spans:
        if sp.start <= t <= sp.end and (best is None or sp.seconds < best.seconds):
            best = sp
    return best


# --- Spark event log -------------------------------------------------------

COUNTERS = (
    "jobs", "tasks", "shuffle_mb", "spill_mb", "gc_s", "task_skew", "cpu_busy", "task_retries",
)


_WANTED = ('"SparkListenerTaskEnd"', '"SparkListenerJobStart"')


def event_log_files(log_dir: str, app_id: str) -> list[str]:
    """The files of one application's log, plain or rolling
    (``eventlog_v2_<app>/events_<n>_<app>``), in order."""
    plain = os.path.join(log_dir, app_id)
    if os.path.isfile(plain):
        return [plain]
    rolled = os.path.join(log_dir, f"eventlog_v2_{app_id}")
    names = [n for n in os.listdir(rolled) if n.startswith("events_")]
    return [os.path.join(rolled, n) for n in sorted(names, key=lambda n: int(n.split("_")[1]))]


def remove_event_log(log_dir: str, app_id: str) -> None:
    plain = os.path.join(log_dir, app_id)
    if os.path.isfile(plain):
        os.remove(plain)
    else:
        shutil.rmtree(os.path.join(log_dir, f"eventlog_v2_{app_id}"), ignore_errors=True)


def read_event_log(paths: list[str]) -> list[dict]:
    """Job-start and task-end events (the only ones the counters use)."""
    out = []
    for path in paths:
        with open(path) as f:
            out.extend(json.loads(line) for line in f if any(w in line for w in _WANTED))
    return out


def _task_rows(events: list[dict]) -> list[dict]:
    rows = []
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        info = ev["Task Info"]
        m = ev.get("Task Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        rows.append(
            {
                "stage": (ev["Stage ID"], ev.get("Stage Attempt ID", 0)),
                "launch_s": info["Launch Time"] / 1000.0,
                "dur_s": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                "retry": int(info.get("Attempt", 0) > 0 or info.get("Failed", False)),
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                "shuffle_b": sr.get("Remote Bytes Read", 0)
                + sr.get("Local Bytes Read", 0)
                + sw.get("Shuffle Bytes Written", 0),
                "spill_b": m.get("Disk Bytes Spilled", 0),
            }
        )
    return rows


def module_counters(events: list[dict], spans: list[Span], nproc: int) -> dict[str, dict[str, float]]:
    """Per-module engine counters (keys of ``COUNTERS``) for every module
    that owns at least one span. Jobs and tasks outside every span are
    ignored."""
    modules = sorted({sp.module for sp in spans})
    out = {mod: dict.fromkeys(COUNTERS, 0.0) for mod in modules}
    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart":
            sp = innermost(spans, ev["Submission Time"] / 1000.0)
            if sp is not None:
                out[sp.module]["jobs"] += 1
    stages: dict[tuple, list[dict]] = {}
    stage_mod: dict[tuple, str] = {}
    for t in _task_rows(events):
        sp = innermost(spans, t["launch_s"])
        if sp is None:
            continue
        c = out[sp.module]
        c["tasks"] += 1
        c["task_retries"] += t["retry"]
        c["gc_s"] += t["gc_s"]
        c["cpu_busy"] += t["cpu_s"]  # normalized below
        c["shuffle_mb"] += t["shuffle_b"] / 2**20
        c["spill_mb"] += t["spill_b"] / 2**20
        stages.setdefault(t["stage"], []).append(t)
        stage_mod.setdefault(t["stage"], sp.module)
    for mod in modules:
        wall = _covered([(sp.start, sp.end) for sp in spans if sp.module == mod])
        c = out[mod]
        c["cpu_busy"] = c["cpu_busy"] / (wall * nproc) if wall > 0 else 0.0
        mine = [ts for st, ts in stages.items() if stage_mod[st] == mod]
        if mine:
            slowest = max(mine, key=lambda ts: sum(t["dur_s"] for t in ts))
            med = statistics.median(t["dur_s"] for t in slowest)
            c["task_skew"] = max(t["dur_s"] for t in slowest) / med if med > 0 else 1.0
    return out


# --- peak resident memory ---------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces: fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _status_kb(pid: int, field: str) -> int | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        return None
    return None


def peak_rss_mb(root_pid: int) -> float:
    """Summed ``VmHWM`` (peak resident set since start) of a process tree:
    the Spark JVM and its Python workers. Read once, so no poller shares
    the driver's CPU and GIL with the operations it measures. The sum of
    per-process peaks bounds their simultaneous peak from above."""
    return sum(_status_kb(pid, "VmHWM") or 0 for pid in process_tree(root_pid)) / 1024.0

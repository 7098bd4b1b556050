"""Measurement plumbing: spans, process-tree RSS, Spark event-log stats.

Nothing here imports the program; the workloads wrap calls into it.
"""

from __future__ import annotations

import glob
import json
import os
import signal
import statistics
import threading
import time
from contextlib import contextmanager

PAGE = os.sysconf("SC_PAGE_SIZE")


class Tracer:
    """Spans (name, start, end, parent) kept in memory, written at the end."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "start": time.perf_counter() - self._t0, "end": None,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            rec["wall_s"] = rec["end"] - rec["start"]
            self._stack.pop()

    def write(self, path: str, info: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"info": info, "spans": self.spans}, f, indent=1)


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


# ---------------------------------------------------------------- processes

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat, encoding="utf-8") as f:
                data = f.read()
        except OSError:
            continue
        # comm may hold spaces/parens: fields resume after the last ')'
        fields = data[data.rfind(")") + 2:].split()
        kids.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", encoding="utf-8") as f:
            return int(f.read().split()[1]) * PAGE
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak summed RSS of this process and all its descendants, sampled
    on a background thread."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_bytes(p) for p in [me, *descendants(me)])
            self.peak = max(self.peak, total)
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def reap_descendants(timeout: float = 20.0) -> None:
    """Wait for every descendant process to end; SIGKILL what remains
    after ``timeout`` and wait again."""
    me = os.getpid()
    deadline = time.monotonic() + timeout
    while descendants(me) and time.monotonic() < deadline:
        _reap_zombies()
        time.sleep(0.2)
    for pid in descendants(me):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10
    while descendants(me) and time.monotonic() < deadline:
        _reap_zombies()
        time.sleep(0.1)


def _reap_zombies() -> None:
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


# ---------------------------------------------------------------- event log

def parse_event_log(log_dir: str) -> dict:
    """Per job group: jobs, shuffle write, spill, task skew, GC and run
    time, read from every Spark event log file in ``log_dir``.

    Task skew of a stage is max over median task duration; a group's skew
    is the median over its stages with at least two tasks."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}
    stage_tasks: dict[int, list[float]] = {}

    def g(name: str) -> dict:
        return groups.setdefault(name, {"jobs": 0, "shuffle_write_b": 0, "spill_b": 0,
                                        "gc_ms": 0, "run_ms": 0, "tasks": 0, "stages": set()})

    paths = sorted(p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
                   if os.path.isfile(p) and not p.endswith(".inprogress"))
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    name = props.get("spark.jobGroup.id") or "_none"
                    g(name)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = name
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    name = stage_group.get(sid, "_none")
                    m = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    rec = g(name)
                    rec["tasks"] += 1
                    rec["stages"].add(sid)
                    rec["gc_ms"] += m.get("JVM GC Time", 0)
                    rec["run_ms"] += m.get("Executor Run Time", 0)
                    rec["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    rec["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    if info.get("Finish Time") and info.get("Launch Time"):
                        stage_tasks.setdefault(sid, []).append(
                            info["Finish Time"] - info["Launch Time"])
    out = {}
    for name, rec in groups.items():
        skews = []
        for sid in rec.pop("stages"):
            d = stage_tasks.get(sid, [])
            if len(d) >= 2 and statistics.median(d) > 0:
                skews.append(max(d) / statistics.median(d))
        rec["task_skew"] = statistics.median(skews) if skews else 1.0
        rec["skew_stages"] = len(skews)
        out[name] = rec
    return out


def merge_groups(stats: dict, names) -> dict:
    """Totals over several job groups (skew: median of the groups')."""
    sel = [stats[n] for n in names if n in stats]
    keys = ("jobs", "shuffle_write_b", "spill_b", "gc_ms", "run_ms", "tasks")
    tot = {k: sum(s[k] for s in sel) for k in keys}
    tot["task_skew"] = statistics.median([s["task_skew"] for s in sel]) if sel else 1.0
    return tot

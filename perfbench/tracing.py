"""Measurement plumbing: spans, Spark event-log task metrics, peak RSS.

Spans are recorded around calls into the package from the benchmark's own
code; nothing here reaches inside the package.  Each span sets a Spark job
group, so the event log attributes every stage to the span that ran it.
Jobs started on another thread (Structured Streaming runs its micro-batch
jobs under the query's own group) fall back to the innermost span whose
interval holds their submission time.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

GROUP_PREFIX = "perfbench-span-"
MB = 1024 * 1024


class Tracer:
    """In-memory span recorder.  With ``spark`` unset or ``enabled`` false
    it only times calls (no job groups), which is what untraced runs use."""

    def __init__(self, spark=None, enabled: bool = False, run_id: str = "") -> None:
        self.spark = spark
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id, "start": time.time(), "end": None, **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        if self.enabled:
            self._set_group(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.enabled:
                self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, sid: int | None) -> None:
        sc = self.spark.sparkContext
        if sid is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(f"{GROUP_PREFIX}{sid}", self.spans[sid]["name"])

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


def enable_event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _empty_totals() -> dict:
    return {
        "jobs": 0, "tasks": 0, "executor_run_s": 0.0, "executor_cpu_s": 0.0,
        "gc_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
    }


def parse_event_log(path: str, spans: list[dict]) -> dict:
    """Task metrics per span id from a JSON-lines Spark event log.

    Returns ``{"by_span": {span_id: totals}, "progress": [...]}`` where
    totals holds jobs, tasks, executor run/CPU/GC seconds, shuffle bytes
    written and disk spill (MB), and ``progress`` the streaming
    ``QueryProgressEvent`` payloads in log order."""
    ids = {s["id"] for s in spans}
    stage_span: dict[int, int | None] = {}
    by_span: dict[int, dict] = {}
    progress: list[dict] = []

    def owner(props: dict, at_ms: float) -> int | None:
        group = (props or {}).get("spark.jobGroup.id") or ""
        if group.startswith(GROUP_PREFIX):
            sid = int(group[len(GROUP_PREFIX):])
            if sid in ids:
                return sid
        return span_at(spans, at_ms / 1000.0)

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                sid = owner(ev.get("Properties"), ev.get("Submission Time", 0))
                if sid is not None:
                    by_span.setdefault(sid, _empty_totals())["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                at = info.get("Submission Time") or 0
                stage_span[info["Stage ID"]] = owner(ev.get("Properties"), at)
            elif kind == "SparkListenerTaskEnd":
                sid = stage_span.get(ev["Stage ID"])
                tm = ev.get("Task Metrics")
                if sid is None or not tm:
                    continue
                t = by_span.setdefault(sid, _empty_totals())
                t["tasks"] += 1
                t["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                t["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                t["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                sw = tm.get("Shuffle Write Metrics") or {}
                t["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
                t["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / MB
            elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
                progress.append(ev["progress"])
    return {"by_span": by_span, "progress": progress}


def span_at(spans: list[dict], t: float) -> int | None:
    """The innermost (latest-started) span whose interval holds ``t``."""
    best = None
    for s in spans:
        end = s["end"] if s["end"] is not None else float("inf")
        if s["start"] <= t <= end and (best is None or s["start"] >= best["start"]):
            best = s
    return None if best is None else best["id"]


def subtree_totals(by_span: dict, spans: list[dict], root_ids: list[int]) -> dict:
    """Sum the totals of the given spans and all their descendants."""
    children: dict[int | None, list[int]] = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s["id"])
    out = _empty_totals()
    todo = list(root_ids)
    while todo:
        sid = todo.pop()
        for k, v in by_span.get(sid, {}).items():
            out[k] += v
        todo.extend(children.get(sid, []))
    return out


def find_event_log(log_dir: str) -> str | None:
    logs = [os.path.join(log_dir, f) for f in os.listdir(log_dir)] if os.path.isdir(log_dir) else []
    logs = [p for p in logs if os.path.isfile(p)]
    return max(logs, key=os.path.getmtime) if logs else None


# -- process-tree RSS ---------------------------------------------------------

PAGE_MB = os.sysconf("SC_PAGE_SIZE") / MB


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
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def tree_pids(root: int) -> list[int]:
    """``root`` and its descendants, leaving out children of the JVM that
    still run the JVM's own executable: the JVM forks to run shell helpers,
    and until the exec such a child reports the parent's whole heap as its
    own RSS."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        exe = _exe(pid)
        java = os.path.basename(exe) == "java"
        todo.extend(k for k in kids.get(pid, []) if not (java and _exe(k) == exe))
    return out


def rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE_MB
    except OSError:
        return 0.0


class RssSampler:
    """Samples the RSS summed over this process and its descendants (the
    driver JVM and Python workers) on a background thread, keeping the
    peak.  ``/proc`` is read directly because psutil is not a dependency."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> float:
        total = sum(rss_mb(p) for p in tree_pids(os.getpid()))
        self.peak_mb = max(self.peak_mb, total)
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> RssSampler:
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


def jvm_rss_mb() -> float:
    return sum(rss_mb(p) for p in tree_pids(os.getpid()) if os.path.basename(_exe(p)) == "java")


def process_start_time() -> float:
    """Wall-clock start of this process: its age is the system uptime minus
    its start time in clock ticks since boot (both from /proc)."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    ticks = int(stat[stat.rindex(")") + 2:].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - ticks / os.sysconf("SC_CLK_TCK"))

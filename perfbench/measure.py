"""Measurement helpers: progress ledger, in-memory spans, /proc RSS
sampling and the Spark event-log ledger. Stdlib only."""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from contextlib import contextmanager
from datetime import datetime, timezone

# Order in which MicroBatchExecution runs the phases it reports in
# ``durationMs``; trigger child spans are laid out back to back in it.
PHASES = ["latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets"]


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (``statistics.quantiles`` inclusive)."""
    vals = sorted(values)
    if len(vals) == 1:
        return vals[0]
    pos = q * (len(vals) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(vals) - 1)
    return vals[lo] + (vals[hi] - vals[lo]) * (pos - lo)


def progress_epoch(p: dict) -> float:
    """Trigger start of a progress record, epoch seconds."""
    ts = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return ts.replace(tzinfo=timezone.utc).timestamp()


class ProgressLog:
    """Every progress record of one query, keyed by batch id.

    ``recentProgress`` keeps only the last 100 records, so callers poll
    it often (every 0.1 s here) and this object accumulates them."""

    def __init__(self, query) -> None:
        self.query = query
        self.by_batch: dict[int, dict] = {}

    def poll(self) -> None:
        for p in self.query.recentProgress:
            d = json.loads(p.json)
            self.by_batch[d["batchId"]] = d

    def records(self) -> list[dict]:
        return [self.by_batch[k] for k in sorted(self.by_batch)]

    def rows(self) -> int:
        return sum(p["numInputRows"] for p in self.by_batch.values())


class Tracer:
    """In-memory spans sharing one run id; written out at the end."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self._lock = threading.Lock()

    def add(self, name: str, start: float, end: float, parent: str | None = None,
            sid: str | None = None, **attrs) -> str:
        sid = sid or uuid.uuid4().hex[:16]
        if self.enabled:
            span = {"run": self.run_id, "id": sid, "parent": parent, "name": name,
                    "start": start, "end": end, **attrs}
            with self._lock:
                self.spans.append(span)
        return sid

    @contextmanager
    def span(self, name: str, parent: str | None = None, **attrs):
        """Span around a block; yields its id, for children to name."""
        start = time.time()
        sid = uuid.uuid4().hex[:16]
        try:
            yield sid
        finally:
            self.add(name, start, time.time(), parent, sid, **attrs)

    def add_triggers(self, records: list[dict], parent: str | None) -> None:
        """One span per trigger with its ``durationMs`` phases as children."""
        for p in records:
            start = progress_epoch(p)
            d = p["durationMs"]
            tid = self.add("trigger", start, start + d["triggerExecution"] / 1000.0,
                           parent, batch=p["batchId"], rows=p["numInputRows"])
            t = start
            for ph in PHASES:
                if ph in d:
                    self.add(ph, t, t + d[ph] / 1000.0, tid)
                    t += d[ph] / 1000.0

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f)


def _children(root: int) -> list[int]:
    """``root`` and its descendants, from /proc/<pid>/stat parent ids."""
    parent: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        parent.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(parent.get(pid, []))
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


class RssSampler(threading.Thread):
    """Peak summed RSS of the JVM and the Python workers it forks,
    sampled from /proc every ``period`` seconds. Pages a forked worker
    shares with its parent count once per process."""

    def __init__(self, root_pid: int, period: float = 0.1) -> None:
        super().__init__(daemon=True)
        self.root_pid = root_pid
        self.period = period
        self.peak_bytes = 0
        self.samples = 0
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def run(self) -> None:
        while not self._stop_evt.is_set():
            total = 0
            for pid in _children(self.root_pid):
                # the JVM and its Python workers only: a child the JVM
                # has just forked but not yet exec'd shares the JVM's
                # pages and would count them twice
                if pid != self.root_pid and not _comm(pid).startswith("python"):
                    continue
                try:
                    with open(f"/proc/{pid}/statm") as f:
                        total += int(f.read().split()[1]) * self._page
                except OSError:
                    continue
            self.peak_bytes = max(self.peak_bytes, total)
            self.samples += 1
            self._stop_evt.wait(self.period)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=5)


def event_log_ledger(log_dir: str, t_from: float, t_to: float) -> dict:
    """Job and task totals from Spark's JSON event log for the jobs
    submitted and tasks launched inside ``[t_from, t_to]`` (epoch s).
    ``task_wall_ms`` is the task time inside the window itself, which
    can be at most the window times the cores."""
    lo, hi = t_from * 1000, t_to * 1000
    out = {"exec.jobs": 0, "exec.tasks": 0, "exec.task_ms": 0.0, "exec.cpu_ms": 0.0,
           "exec.gc_ms": 0.0, "shuffle.read_bytes": 0, "shuffle.write_bytes": 0,
           "task_wall_ms": 0.0}
    # Spark 4 writes one directory per application (rolling event log)
    # holding ``events_<n>_<appId>`` parts
    paths = [os.path.join(d, n) for d, _, names in os.walk(log_dir) for n in names
             if n.startswith("events_") or n.startswith("local-")]
    for path in sorted(paths):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if lo <= ev.get("Submission Time", 0) <= hi:
                        out["exec.jobs"] += 1
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    if not lo <= info["Launch Time"] <= hi:
                        continue
                    out["exec.tasks"] += 1
                    out["task_wall_ms"] += max(
                        0, min(info["Finish Time"], hi) - max(info["Launch Time"], lo))
                    out["exec.task_ms"] += m.get("Executor Run Time", 0)
                    out["exec.cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    out["exec.gc_ms"] += m.get("JVM GC Time", 0)
                    rd = m.get("Shuffle Read Metrics", {})
                    out["shuffle.read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                        "Local Bytes Read", 0)
                    out["shuffle.write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0)
    return out


"""Seeded clickstream generator for the streaming benchmark.

Writes the reference wire format (JSON lines ``{time, categoryId, ip,
action}``, epoch seconds) that ``sources.stream.read_action_stream``
reads. Every event of logical second ``s`` comes from an RNG seeded by
``(seed, workload, s)``, so the same seed gives the same files in any
process.

Time model: the logical clock starts at ``T0`` (a multiple of the
pipelines' 30-s bucket and 40-s slide). Backlog files cover the
``backlog_files * file_span_s`` logical seconds before ``T0``; live file
``g`` (counted over all bursts) holds the events created in
``[T0 + g*interval, T0 + (g+1)*interval)`` and each event is stamped
with that creation second. A ``late_share`` of the events in a file were
created ``late_min_s..late_max_s`` earlier and are delivered late (out
of order, inside the 2-min watermark).

Three modes, one process each:

    python3 perfbench/gen.py --workload W --seed N --out DIR --warm
    python3 perfbench/gen.py --workload W --seed N --out DIR --backlog
    python3 perfbench/gen.py --workload W --seed N --out DIR --live \
        --files K --report REPORT.json

The live mode is the open-loop load. It runs the workload's ``bursts``
bursts of ``K`` files; for each it reads one line from stdin, the wall
time ``t0`` at which the burst starts, and file ``i`` of the burst is
due at ``t0 + i*interval`` whether or not the system has kept up. It
writes each file under a dot-name and renames it into place (the file
source skips dot-files, so a reader never sees half a file), then
records how late it ran against its schedule.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time

T0 = 1_700_000_400  # logical epoch seconds; multiple of 30, 40 and 600

# Populations and rates. ``users`` are human-profile ips (172.10.*: 10
# categories, ~1 click per 9 views), ``bots`` the reference botgen
# profile (172.20.*: 20 categories, 3 clicks per view, one action per
# ``bot_period_s``); ``quiet`` hot ips stay on 3 categories so they are
# never flagged.
WORKLOADS: dict[str, dict] = {
    # many cold keys, few verdicts: the Python per-key state path
    "stream_stateful_many_keys": {
        "mode": "dstream",
        "users": 20000,
        "user_rate": 400,  # human events per logical second, over all users
        "bots": 50,
        "bot_period_s": 2,
        "quiet": 0,
        "hot_rate": 0,
        "late_share": 0.0,
        "backlog_files": 1,
        "file_span_s": 12,
        "warm_span_s": 2,
        "interval_s": 0.01,
        "bursts": 1,
    },
    # few hot keys, many verdict rows: the JVM window state + sink path
    "stream_windowed_hot_keys": {
        "mode": "structured",
        "users": 0,
        "user_rate": 0,
        "bots": 270,
        "bot_period_s": 1,
        "quiet": 30,
        "hot_rate": 1,  # events per logical second per quiet ip
        "late_share": 0.1,
        "late_min_s": 5,
        "late_max_s": 60,
        "backlog_files": 4,
        "file_span_s": 15,
        "warm_span_s": 5,
        "interval_s": 0.01,
        "bursts": 3,
    },
}

USER_CATS = [str(1000 + i) for i in range(10)]
BOT_CATS = [str(1000 + i) for i in range(20)]
QUIET_CATS = USER_CATS[:3]


def _ip(prefix: str, i: int) -> str:
    return f"{prefix}.{i // 250}.{i % 250}"


def events_for_second(workload: str, seed: int, sec: int) -> list[dict]:
    """All events created in logical second ``sec`` (absolute epoch),
    in a seeded order. Late delivery is applied per file, not here."""
    p = WORKLOADS[workload]
    rng = random.Random(f"{seed}:{workload}:{sec}")
    out = []
    for _ in range(p["user_rate"]):
        uid = rng.randrange(p["users"])
        action = "click" if rng.random() < 0.1 else "view"
        out.append((_ip("172.10", uid), rng.choice(USER_CATS), action))
    for b in range(p["bots"]):
        if (sec + b) % p["bot_period_s"] == 0:
            action = "click" if rng.random() < 0.75 else "view"
            out.append((_ip("172.20", b), rng.choice(BOT_CATS), action))
    for q in range(p["quiet"]):
        for _ in range(p["hot_rate"]):
            action = "click" if rng.random() < 0.1 else "view"
            out.append((_ip("172.30", q), rng.choice(QUIET_CATS), action))
    rng.shuffle(out)
    return [
        {"time": sec, "categoryId": c, "ip": ip, "action": a} for ip, c, a in out
    ]


def slice_events(workload: str, seed: int, start: float, end: float) -> list[dict]:
    """Events created in logical time ``[start, end)``: each second's
    events are split evenly over the sub-second slices that cover it,
    then a seeded ``late_share`` of them is shifted back in event time
    (created earlier, delivered in this file)."""
    p = WORKLOADS[workload]
    out: list[dict] = []
    sec = int(start)
    while sec < end:
        evs = events_for_second(workload, seed, sec)
        lo = max(start, sec) - sec
        hi = min(end, sec + 1) - sec
        out.extend(evs[round(lo * len(evs)) : round(hi * len(evs))])
        sec += 1
    if p["late_share"]:
        rng = random.Random(f"{seed}:{workload}:late:{start}")
        for e in out:
            if rng.random() < p["late_share"]:
                e["time"] -= rng.randint(p["late_min_s"], p["late_max_s"])
    return out


def write_file(path: str, events: list[dict]) -> None:
    """Write JSON lines under a dot-name, then rename into place."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    with open(tmp, "w") as f:
        f.write("".join(json.dumps(e) + "\n" for e in events))
    os.replace(tmp, path)


def write_backlog(workload: str, seed: int, out: str, warm: bool = False) -> int:
    """Backlog files (or the smaller warm-up set, which lies before the
    backlog in logical time) with increasing mtimes, so the file source
    takes them oldest first. Returns the number of events written."""
    p = WORKLOADS[workload]
    os.makedirs(out, exist_ok=True)
    n_files, span = (1, p["warm_span_s"]) if warm else (p["backlog_files"], p["file_span_s"])
    first = T0 - p["file_span_s"] * p["backlog_files"]
    if warm:
        first -= span + 600  # older than every backlog bucket
    now = time.time()
    total = 0
    for i in range(n_files):
        evs = slice_events(workload, seed, first + i * span, first + (i + 1) * span)
        path = os.path.join(out, f"{'warm' if warm else 'backlog'}-{i:05d}.json")
        write_file(path, evs)
        stamp = now - (n_files - i)
        os.utime(path, (stamp, stamp))
        total += len(evs)
    return total


def run_live(workload: str, seed: int, out: str, files: int, report: str) -> None:
    """Open-loop live phase: burst ``j`` starts at the wall time read
    from stdin, and its file ``i`` is due ``i*interval`` later."""
    p = WORKLOADS[workload]
    iv = p["interval_s"]
    rows = []
    for j in range(p["bursts"]):
        line = sys.stdin.readline()
        if not line:
            raise SystemExit(f"stdin closed before burst {j}")
        t0_wall = float(line)
        for i in range(files):
            g = j * files + i
            evs = slice_events(workload, seed, T0 + g * iv, T0 + (g + 1) * iv)
            due = t0_wall + i * iv
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            name = f"live-{g:05d}.json"
            write_file(os.path.join(out, name), evs)
            rows.append({"name": name, "burst": j, "due": due, "written": time.time(),
                         "events": len(evs)})
    late = max(r["written"] - r["due"] for r in rows)
    with open(report, "w") as f:
        json.dump({"files": rows, "lateness_ms_max": late * 1000.0}, f)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    mode = ap.add_mutually_exclusive_group(required=True)
    mode.add_argument("--backlog", action="store_true")
    mode.add_argument("--warm", action="store_true")
    mode.add_argument("--live", action="store_true")
    ap.add_argument("--files", type=int)
    ap.add_argument("--report")
    a = ap.parse_args()
    if a.live:
        if a.files is None or a.report is None:
            ap.error("--live needs --files and --report")
        run_live(a.workload, a.seed, a.out, a.files, a.report)
    else:
        print(write_backlog(a.workload, a.seed, a.out, warm=a.warm))


if __name__ == "__main__":
    main()

"""Independent recomputation of the verdict table, in plain Python.

It reads the generated files back in the micro-batches the run actually
took, which it recovers from the query checkpoint:

- ``offsets/<batchId>``: line 2 holds the batch metadata (watermark),
  line 3 the file source's ``logOffset`` after that batch;
- ``sources/0/<n>`` and ``sources/0/<n>.compact``: the file source log,
  one ``{"path", "batchId"}`` entry per file, where ``batchId`` is the
  source's own log offset.

A query batch consumed the files whose source log offset lies in
``(previous logOffset, its logOffset]``. The thresholds are the
paper's (Common.scala:11-14), written out here on purpose rather than
imported from the package under test.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from urllib.parse import unquote, urlparse

REQUEST_LIMIT = 1000
CATEGORY_LIMIT = 5
RATIO_LIMIT = 5
HISTORY_SEC, BUCKET_SEC = 600, 30  # DStream path: trailing history, bucket
WINDOW_SEC, SLIDE_SEC = 600, 40  # structured path: sliding window


def classify(clicks: int, views: int, n_categories: int) -> str | None:
    """Reason with precedence requests > categories > ratio, or None."""
    if clicks + views > REQUEST_LIMIT:
        return "requests"
    if n_categories > CATEGORY_LIMIT:
        return "categories"
    if clicks // max(views, 1) > RATIO_LIMIT:
        return "clicks/views"
    return None


def _log_lines(path: str) -> list[str]:
    with open(path) as f:
        return [ln for ln in f.read().splitlines() if ln.strip()]


def micro_batches(checkpoint: str) -> list[dict]:
    """Every query batch in order, as ``{"id", "watermark_ms", "files"}``
    where ``files`` are local paths in source-log order."""
    src_dir = os.path.join(checkpoint, "sources", "0")
    by_log: dict[int, list[str]] = defaultdict(list)
    seen: set[str] = set()
    for name in sorted(os.listdir(src_dir)) if os.path.isdir(src_dir) else []:
        if name.startswith("."):
            continue
        for ln in _log_lines(os.path.join(src_dir, name))[1:]:
            entry = json.loads(ln)
            path = unquote(urlparse(entry["path"]).path)
            if path not in seen:
                seen.add(path)
                by_log[int(entry["batchId"])].append(path)
    off_dir = os.path.join(checkpoint, "offsets")
    ids = sorted(int(n) for n in os.listdir(off_dir) if n.isdigit())
    batches, prev = [], -1
    for bid in ids:
        lines = _log_lines(os.path.join(off_dir, str(bid)))
        meta = json.loads(lines[1])
        log_offset = json.loads(lines[2])["logOffset"] if len(lines) > 2 else prev
        files = [p for k in range(prev + 1, log_offset + 1) for p in by_log.get(k, [])]
        batches.append(
            {"id": bid, "watermark_ms": meta.get("batchWatermarkMs", 0), "files": files}
        )
        prev = max(prev, log_offset)
    return batches


def _rows(path: str):
    with open(path) as f:
        for ln in f:
            e = json.loads(ln)
            if e.get("action") is None or not e.get("ip"):
                continue
            yield (
                e["ip"],
                int(e["time"]),
                e.get("categoryId"),
                e["action"] == "click",
                e["action"] == "view",
            )


def expected_dstream(batches: list[dict]) -> dict[str, set]:
    """DStream-semantics verdicts: per ip a trailing history of 30-s
    buckets (kept while within 570 s of the newest bucket), judged on
    the merged history after every batch that touched it; the sink
    keeps the first reason (``ifNotExists``). Value: allowed rows,
    here exactly one ``(reason,)``."""
    hist: dict[str, dict[int, list]] = defaultdict(dict)
    first: dict[str, set] = {}
    for b in batches:
        touched = set()
        for ip, t, cat, click, view in (r for p in b["files"] for r in _rows(p)):
            slot = hist[ip].setdefault(t // BUCKET_SEC * BUCKET_SEC, [0, 0, set()])
            slot[0] += click
            slot[1] += view
            if cat is not None:
                slot[2].add(cat)
            touched.add(ip)
        for ip in touched:
            h = hist[ip]
            horizon = max(h) - (HISTORY_SEC - BUCKET_SEC)
            for old in [k for k in h if k < horizon]:
                del h[old]
            cats = set().union(*(s[2] for s in h.values()))
            reason = classify(
                sum(s[0] for s in h.values()), sum(s[1] for s in h.values()), len(cats)
            )
            if reason is not None and ip not in first:
                first[ip] = {(reason,)}
    return first


def expected_windowed(batches: list[dict]) -> tuple[dict[str, set], int]:
    """Structured-path verdicts: 10-min windows sliding by 40 s; each
    batch re-judges the (ip, window) pairs it touched on their whole
    content so far (update mode). A row at or behind the batch's
    watermark is late and dropped. The sink keeps, per ip, one flagged
    row of the first batch that flagged it, so the allowed rows are all
    ``(window_start, reason)`` flagged in that batch. Also returns the
    number of late rows."""
    agg: dict[tuple[str, int], list] = {}
    first: dict[str, set] = {}
    late = 0
    for b in batches:
        touched = set()
        for ip, t, cat, click, view in (r for p in b["files"] for r in _rows(p)):
            if t * 1000 <= b["watermark_ms"]:
                late += 1
                continue
            top = t - t % SLIDE_SEC
            for ws in range(top, t - WINDOW_SEC, -SLIDE_SEC):
                slot = agg.setdefault((ip, ws), [0, 0, set()])
                slot[0] += click
                slot[1] += view
                if cat is not None:
                    slot[2].add(cat)
                touched.add((ip, ws))
        flagged: dict[str, set] = defaultdict(set)
        for ip, ws in touched:
            c, v, cats = agg[(ip, ws)]
            reason = classify(c, v, len(cats))
            if reason is not None:
                flagged[ip].add((ws, reason))
        for ip, rows in flagged.items():
            first.setdefault(ip, rows)
    return first, late


def compare(expected: dict[str, set], actual: dict[str, tuple]) -> list[str]:
    """Mismatch descriptions; empty when every sink row is allowed and
    the key sets agree."""
    bad = []
    for ip in sorted(set(expected) | set(actual)):
        if ip not in actual:
            bad.append(f"missing {ip}")
        elif ip not in expected:
            bad.append(f"unexpected {ip} {actual[ip]}")
        elif actual[ip] not in expected[ip]:
            bad.append(f"wrong {ip} {actual[ip]} not in {sorted(expected[ip])[:3]}")
    return bad


def read_sink(path: str) -> list[dict]:
    """Rows of the sink's parquet table, read without Spark. A run that
    was stopped inside the sink's retire-then-install swap leaves the
    last committed table under ``<path>._old_table_*``."""
    import pyarrow.parquet as pq

    if not os.path.isdir(path):
        parent, base = os.path.split(path)
        retired = [n for n in os.listdir(parent) if n.startswith(f"{base}._old_table_")]
        if not retired:
            return []
        path = os.path.join(parent, retired[0])
    return pq.read_table(path).to_pylist()

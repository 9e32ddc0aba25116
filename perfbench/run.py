"""Streaming bot-detection benchmark.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run it from the repository root (any directory works: the root is found
from this file). It drives only the package's public entry points:
``session.get_spark`` (program defaults, ``master=local[nproc]``),
``sources.stream.read_action_stream`` and
``streaming.pipeline.start_bot_detection`` writing to
``sinks.upsert.KeyedUpsertSink``. ``perfbench/README.md`` lists the
workloads, the metrics and what each per-layer metric should move.

A run generates its inputs from the seed, then sets up twice (session
start, then one long-running query of the workload's pipeline started on
a one-file warm-up input and timed until that file is processed; the
first set-up also starts the JVM). The last set-up's query stays up for
the two measured phases:

- backlog (closed loop): the pre-generated backlog files go into the
  query's input directory one per trigger; throughput is the backlog's
  rows over the wall time from the start of its first trigger to the
  end of its last;
- live (open loop): a separate generator process writes the workload's
  bursts of one file per interval for ``--seconds``, the first once the
  last backlog trigger has fixed its offsets; each file's verdict
  latency is the end of the sink write of the micro-batch that read it
  minus the file's scheduled write time.

Then the session is stopped and the sink table is compared with an
independent recomputation over the same files, cut at the micro-batch
boundaries the run took. ``--trace 1`` instead runs one set-up, the
backlog and live phases with spans and Spark's event log, then drains
the backlog at ``local[1]`` as the single-threaded baseline; it prints
the per-layer metrics.

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. The exit code is non-zero on
any query failure or correctness mismatch.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "in_stream_processing_course_spark"
DEADLINE_S = 170  # a run must end inside 180 s
SETUPS = 2
POLL_S = 0.1

sys.path.insert(0, HERE)
import gen  # noqa: E402
import oracle  # noqa: E402
from measure import (  # noqa: E402
    ProgressLog,
    RssSampler,
    Tracer,
    event_log_ledger,
    progress_epoch,
    quantile,
)

END_TO_END = ["setup_s", "events_per_s", "verdict_latency_p50_s", "verdict_latency_p90_s"]
PER_LAYER = [
    "session.start_s", "plan.build_ms", "gen.lateness_ms_max",
    "source.latest_offset_ms", "source.get_batch_ms", "source.lag_files_max",
    "source.rows_per_trigger", "trigger.count", "trigger.data_ratio", "trigger.planning_ms",
    "trigger.add_batch_ms", "trigger.wal_commit_ms", "trigger.commit_offsets_ms",
    "trigger.exec_ms_p50", "trigger.exec_ms_p90", "state.updates_ms", "state.removals_ms",
    "state.rows_total", "state.rows_updated", "state.commit_ms", "state.instances",
    "state.memory_bytes", "sink.calls", "sink.call_ms_p50", "sink.rows_in", "sink.table_rows",
    "exec.wall_s", "exec.jobs", "exec.tasks", "exec.task_ms", "exec.cpu_ms", "exec.gc_ms",
    "shuffle.read_bytes", "shuffle.write_bytes",
    "traced.events_per_s", "traced.verdict_latency_p50_s", "traced.verdict_latency_p90_s",
    "baseline.local1_events_per_s", "peak_rss_mb",
    "heap_retained_mb",
]


class RunFailure(Exception):
    """A failed query or an incomplete phase."""


class SinkProbe:
    """Wraps ``KeyedUpsertSink.__call__`` to time each micro-batch's sink
    write.

    ``sink.call_ms`` includes computing the lazy micro-batch:
    ``foreachBatch`` runs the upstream plan (state update, exec) inside
    the sink's write, so the sink's self time is ``sink.call_ms`` minus
    that batch's state and exec stage time from the event log. When
    ``count_rows`` is set it also counts the rows handed to the sink,
    with an ``Observation`` on the batch frame."""

    def __init__(self) -> None:
        self.calls: list[dict] = []
        self.count_rows = False
        self.tracer: Tracer | None = None
        self.parent: str | None = None

    def install(self, sink_cls) -> None:
        original = sink_cls.__call__
        probe = self

        def timed_call(sink, batch_df, batch_id):
            start = time.time()
            obs = None
            if probe.count_rows:
                from pyspark.sql import Observation
                from pyspark.sql import functions as F

                obs = Observation()
                batch_df = batch_df.observe(obs, F.count(F.lit(1)).alias("rows"))
            original(sink, batch_df, batch_id)
            end = time.time()
            rows = obs.get["rows"] if obs is not None else None
            probe.calls.append(
                {"sink": sink.path, "batch": batch_id, "start": start, "end": end, "rows": rows})
            if probe.tracer is not None:
                probe.tracer.add("sink", start, end, probe.parent, batch=batch_id, rows=rows)

        sink_cls.__call__ = timed_call

    def ends(self, sink_path: str) -> dict[int, float]:
        """End of the last write per batch id into one sink."""
        return {c["batch"]: c["end"] for c in self.calls if c["sink"] == sink_path}


class Stream:
    """One long-running query of the workload's pipeline, with its own
    input directory, checkpoint and sink under ``root``."""

    def __init__(self, root: str, mode: str) -> None:
        self.root = root
        self.mode = mode
        self.in_dir = os.path.join(root, "in")
        self.sink = os.path.join(root, "sink")
        self.ckpt = os.path.join(root, "ckpt")
        os.makedirs(self.in_dir)
        self.query = None
        self.log: ProgressLog | None = None
        self.started = 0.0
        self.plan_ms = 0.0

    def start(self, spark) -> None:
        from in_stream_processing_course_spark.sources.stream import read_action_stream
        from in_stream_processing_course_spark.streaming.pipeline import start_bot_detection

        self.started = time.time()
        actions = read_action_stream(spark, self.in_dir)
        self.query = start_bot_detection(actions, self.sink, self.ckpt, mode=self.mode)
        self.plan_ms = (time.time() - self.started) * 1000.0
        self.log = ProgressLog(self.query)

    def place(self, src_dir: str, names: list[str] | None = None) -> None:
        """Copy files of ``src_dir`` in (all by default), each under a
        dot-name first and then renamed, keeping their mtimes (the source
        reads oldest first)."""
        for name in names if names is not None else sorted(os.listdir(src_dir)):
            tmp = os.path.join(self.in_dir, f".{name}")
            shutil.copy2(os.path.join(src_dir, name), tmp)
            os.replace(tmp, os.path.join(self.in_dir, name))

    def wait_planned(self, batch_id: int) -> None:
        """Wait until micro-batch ``batch_id`` has fixed its offsets."""
        path = os.path.join(self.ckpt, "offsets", str(batch_id))
        while not os.path.exists(path) and self.query.isActive:
            time.sleep(0.01)

    def rows(self) -> int:
        self.log.poll()
        return self.log.rows()

    def wait_rows(self, rows: int, timeout: float) -> None:
        """Poll until ``rows`` input rows are processed; raise if the
        query died or ``timeout`` passed."""
        deadline = time.monotonic() + timeout
        while self.rows() < rows:
            exc = self.query.exception()
            if exc is not None:
                raise RunFailure(f"query failed: {str(exc)[:2000]}")
            if not self.query.isActive:
                raise RunFailure(f"query ended after {self.log.rows()} of {rows} rows")
            if time.monotonic() > deadline:
                raise RunFailure(f"timed out after {self.log.rows()} of {rows} rows")
            time.sleep(POLL_S)

    def triggers_for(self, first_row: int, last_row: int) -> list[dict]:
        """The triggers that read input rows ``first_row..last_row``
        (1-based running count over the query's life)."""
        out, done = [], 0
        for p in self.log.records():
            lo, done = done, done + p["numInputRows"]
            if done >= first_row and lo < last_row and p["numInputRows"]:
                out.append(p)
        return out


class Bench:
    def __init__(self, args) -> None:
        self.workload = args.workload
        self.params = gen.WORKLOADS[args.workload]
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.cores = len(os.sched_getaffinity(0))
        self.work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
        self.probe = SinkProbe()
        self.tracer = Tracer(self.traced)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.metrics: dict[str, tuple[float, str, int]] = {}
        self.t_begin = time.monotonic()

    # -- environment -------------------------------------------------------

    def prepare(self) -> None:
        """Keep every file the run writes inside the work directory, make
        the package importable by Spark's Python workers from any working
        directory, and generate the inputs."""
        base = os.path.dirname(self.work)
        if os.path.isdir(base):
            for name in os.listdir(base):  # leftovers of killed runs
                pid = name.rsplit("-", 1)[-1]
                if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
                    shutil.rmtree(os.path.join(base, name), ignore_errors=True)
        for sub in ("tmp", "local", "eventlog"):
            os.makedirs(os.path.join(self.work, sub))
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        # spark-submit's launcher JVM would write /tmp/hsperfdata_<user>
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        os.environ["PYTHONPATH"] = os.pathsep.join(paths)
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR
        sys.path.insert(0, ROOT)
        from in_stream_processing_course_spark import compat
        from in_stream_processing_course_spark.sinks.upsert import KeyedUpsertSink

        compat.ensure_protobuf_fallback()
        self.probe.install(KeyedUpsertSink)
        self.warm_rows = self.generate("warm")
        self.backlog_rows = self.generate("backlog")
        self.backlog_dir = os.path.join(self.work, "backlog")
        self.backlog_files = sorted(os.listdir(self.backlog_dir))

    def generate(self, what: str) -> int:
        cmd = [sys.executable, os.path.join(HERE, "gen.py"), "--workload", self.workload,
               "--seed", str(self.seed), "--out", os.path.join(self.work, what), f"--{what}"]
        res = subprocess.run(cmd, capture_output=True, text=True, timeout=60, check=True)
        return int(res.stdout.strip())

    def conf(self, event_log: bool) -> dict[str, str]:
        """Placement only (files stay in the work dir) plus the event log;
        no tuning."""
        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            # uncompressed: the default zstd codec needs the ``zstandard``
            # module to read the log back, which is not installed
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.dir"] = os.path.join(self.work, "eventlog")
        return conf

    # -- session -------------------------------------------------------------

    def start_session(self, master: str, event_log: bool = False) -> float:
        """Stop the current session (and its queries), start a new one;
        returns the seconds ``get_spark`` took."""
        from in_stream_processing_course_spark.session import get_spark

        self.stop_session()
        t = time.perf_counter()
        self.spark = get_spark(master=master, extra_conf=self.conf(event_log))
        return time.perf_counter() - t

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait until the JVM exits."""
        from pyspark.core.context import SparkContext

        self.stop_session()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)

    def jvm_pid(self) -> int:
        from pyspark.core.context import SparkContext

        return SparkContext._gateway.proc.pid

    # -- phases ------------------------------------------------------------

    def setup(self, tag: str, master: str, event_log: bool = False,
              queue_backlog: bool = False) -> tuple[Stream, float, float]:
        """Session start plus the warm-up: start the query on the warm-up
        file and wait until it is processed. Returns the running stream,
        the session start and the whole set-up time, in seconds.

        With ``queue_backlog`` the first backlog file is moved in as soon
        as the warm-up batch has fixed its offsets, so the backlog batch
        follows it directly. Otherwise the stateful pipeline would first
        run a no-data batch (its timeout scan), and the backlog would
        wait for it."""
        t = time.perf_counter()
        t_wall = time.time()
        start_s = self.start_session(master, event_log)
        self.tracer.add("get_spark", t_wall, t_wall + start_s, setup=tag)
        stream = Stream(os.path.join(self.work, tag), self.params["mode"])
        stream.place(os.path.join(self.work, "warm"))
        stream.start(self.spark)
        self.tracer.add("start_bot_detection", stream.started,
                        stream.started + stream.plan_ms / 1000.0, setup=tag)
        if queue_backlog:
            stream.wait_planned(0)
            stream.place(self.backlog_dir, self.backlog_files[:1])
        stream.wait_rows(self.warm_rows, timeout=90)
        total = time.perf_counter() - t
        self.note(f"set-up {tag}: session {start_s:.2f} s, total {total:.2f} s")
        return stream, start_s, total

    def feed_backlog(self, stream: Stream, first_batch: int) -> int:
        """Closed loop, one backlog file per trigger. File 0 is already
        in, for batch ``first_batch``; file ``k`` goes in once the batch
        reading file ``k-1`` has fixed its offsets, so each trigger finds
        exactly one file waiting. Returns the id of the batch that reads
        the last file."""
        for k in range(1, len(self.backlog_files)):
            stream.wait_planned(first_batch + k - 1)
            stream.place(self.backlog_dir, self.backlog_files[k : k + 1])
        return first_batch + len(self.backlog_files) - 1

    def backlog(self, stream: Stream, rows_before: int) -> dict:
        """Throughput of the backlog phase, once its rows are processed:
        its rows over the wall time from the start of its first trigger
        to the end of its last."""
        trig = stream.triggers_for(rows_before + 1, rows_before + self.backlog_rows)
        eps = [p["numInputRows"] * 1000.0 / p["durationMs"]["triggerExecution"] for p in trig]
        last = trig[-1]
        wall = (progress_epoch(last) + last["durationMs"]["triggerExecution"] / 1000.0
                - progress_epoch(trig[0]))
        self.note(f"backlog: {self.backlog_rows} rows in {len(trig)} triggers, {wall:.2f} s; "
                  f"per trigger {' '.join(f'{e:.0f}' for e in eps)} events/s")
        return {"triggers": trig, "events_per_s": self.backlog_rows / wall}

    def live(self, stream: Stream, last_backlog_batch: int) -> dict:
        """Open loop: one generator process writes the workload's bursts
        into the running query's input directory, one file per interval
        for ``--seconds`` each.

        The first burst starts once the last backlog batch has fixed its
        offsets, so its files land while that batch runs and the next
        batch reads them; each further burst starts once that next batch
        has fixed its offsets. A burst is shorter than a trigger, so its
        files split into batches the same way in every run, and each
        latency is the rest of the batch in progress plus one batch:
        what an event waits while the engine is busy. More bursts give
        the percentiles more batches to average over."""
        files = max(1, round(self.seconds / self.params["interval_s"]))
        bursts = self.params["bursts"]
        report = os.path.join(stream.root, "gen-report.json")
        cmd = [sys.executable, os.path.join(HERE, "gen.py"), "--workload", self.workload,
               "--seed", str(self.seed), "--out", stream.in_dir, "--live",
               "--files", str(files), "--report", report]
        with subprocess.Popen(cmd, stdin=subprocess.PIPE, text=True) as proc:
            try:
                for j in range(bursts):
                    stream.wait_planned(last_backlog_batch + j)
                    proc.stdin.write(f"{time.time() + 0.2!r}\n")
                    proc.stdin.flush()
                proc.stdin.close()
                while proc.poll() is None:
                    stream.rows()
                    if stream.query.exception() is not None:
                        raise RunFailure(f"query failed: {str(stream.query.exception())[:2000]}")
                    time.sleep(POLL_S)
            finally:
                if proc.poll() is None:
                    proc.kill()
                proc.wait(timeout=10)
        if proc.returncode != 0:
            raise RunFailure(f"generator exited with {proc.returncode}")
        with open(report) as f:
            rep = json.load(f)
        return {"report": rep, "first_batch": last_backlog_batch + 1,
                "events": sum(r["events"] for r in rep["files"])}

    def measured(self, stream: Stream) -> dict:
        """Backlog and live phase on the running query, then stop the
        session and check the sink."""
        sampler = RssSampler(self.jvm_pid()) if self.traced else None
        if sampler:
            sampler.start()
        try:
            t_from = time.time()
            live = self.live(stream, self.feed_backlog(stream, 1))
            stream.wait_rows(self.warm_rows + self.backlog_rows + live["events"], timeout=120)
            t_to = time.time()
            backlog = self.backlog(stream, self.warm_rows)
            live["records"] = [p for p in stream.log.records()
                               if p["batchId"] >= live["first_batch"]]
            self.note(f"live: {len(live['report']['files'])} files, "
                      f"{len(live['records'])} triggers")
            heap_mb = self.retained_heap_mb() if self.traced else None
        finally:
            if sampler:
                sampler.stop()
        records = stream.log.records()
        self.stop_session()
        batches, table_rows = self.check(stream, records)
        lat = self.latencies(stream, live["report"], batches)
        return {"backlog": backlog, "live": live, "batches": batches, "records": records,
                "table_rows": table_rows, "latencies": lat, "heap_mb": heap_mb,
                "sampler": sampler, "t_from": t_from, "t_to": t_to}

    def retained_heap_mb(self) -> float:
        """JVM heap in use right after a full collection: what the
        running query keeps (state, caches), unlike RSS, which follows
        the collector's heap sizing."""
        jvm = self.spark._jvm
        jvm.java.lang.System.gc()
        rt = jvm.java.lang.Runtime.getRuntime()
        return (rt.totalMemory() - rt.freeMemory()) / 2**20

    # -- checks --------------------------------------------------------------

    def check(self, stream: Stream, records: list[dict]) -> tuple[list[dict], int]:
        """The sink table against the recomputation over the files at
        the run's own micro-batch boundaries, and no row dropped by the
        watermark. Returns the batches and the sink's row count."""
        batches = oracle.micro_batches(stream.ckpt)
        rows = oracle.read_sink(stream.sink)
        if self.params["mode"] == "dstream":
            expected, late = oracle.expected_dstream(batches), 0
            actual = {r["bot_ip"]: (r["reason"],) for r in rows}
        else:
            expected, late = oracle.expected_windowed(batches)
            actual = {r["bot_ip"]: (r["window_start"], r["reason"]) for r in rows}
        bad = oracle.compare(expected, actual)
        dropped = sum(op.get("numRowsDroppedByWatermark", 0)
                      for p in records for op in p.get("stateOperators", []))
        self.attempted += len(expected) + len(records) + 1
        self.failed += len(bad) + (late > 0 or dropped > 0)
        if bad:
            self.problems.append(f"{len(bad)} verdict mismatches, e.g. {bad[:3]}")
        if late or dropped:
            self.problems.append(
                f"rows behind the watermark: {late} recomputed, {dropped} dropped by Spark")
        self.note(f"checked: {len(expected)} expected verdicts, {len(bad)} mismatches")
        return batches, len(rows)

    def latencies(self, stream: Stream, report: dict, batches: list[dict]) -> list[float]:
        """Per live file: end of the sink write of the batch that read
        it, minus the file's scheduled write time."""
        batch_of = {os.path.basename(p): b["id"] for b in batches for p in b["files"]}
        ends = self.probe.ends(stream.sink)
        out = []
        for r in report["files"]:
            end = ends.get(batch_of.get(r["name"]))
            if end is None:
                self.failed += 1
                self.problems.append(f"live file {r['name']} has no verdict write")
            else:
                out.append(end - r["due"])
        self.attempted += len(report["files"])
        if len(out) < 100:
            self.failed += 1
            self.problems.append(f"only {len(out)} latency samples (< 100)")
        return out

    # -- runs ----------------------------------------------------------------

    def run(self) -> None:
        self.prepare()
        master = f"local[{self.cores}]"
        if self.traced:
            self.run_traced(master)
            return
        setups = [self.setup(f"s{i}", master, queue_backlog=i == SETUPS - 1)
                  for i in range(SETUPS)]
        self.record("setup_s", statistics.median(s[2] for s in setups), "s", SETUPS)
        res = self.measured(setups[-1][0])
        lat = res["latencies"]
        self.record("events_per_s", res["backlog"]["events_per_s"], "1/s",
                    len(res["backlog"]["triggers"]))
        self.record("verdict_latency_p50_s", quantile(lat, 0.5), "s", len(lat))
        self.record("verdict_latency_p90_s", quantile(lat, 0.9), "s", len(lat))

    def run_traced(self, master: str) -> None:
        stream, start0, _ = self.setup("t", master, event_log=True, queue_backlog=True)
        self.probe.count_rows = True
        self.probe.tracer = self.tracer
        with self.tracer.span("measured", workload=self.workload, seed=self.seed) as root:
            self.probe.parent = root
            res = self.measured(stream)
        self.probe.count_rows = False
        self.probe.tracer = None
        self.layer_metrics(res, stream, root)
        # the first session start, which launches the JVM
        self.record("session.start_s", start0, "s", 1)
        # single-threaded baseline: the same backlog phase in a fresh
        # query at local[1], without warm-up
        self.start_session("local[1]")
        base = Stream(os.path.join(self.work, "base"), self.params["mode"])
        base.place(self.backlog_dir, self.backlog_files[:1])
        base.start(self.spark)
        self.feed_backlog(base, 0)
        base.wait_rows(self.backlog_rows, timeout=120)
        single = self.backlog(base, 0)
        self.record("baseline.local1_events_per_s", single["events_per_s"], "1/s",
                    len(single["triggers"]))
        self.shutdown()
        self.ledger(res["t_from"], res["t_to"])
        out = os.path.join(ROOT, ".perfbench_out", f"{self.workload}-seed{self.seed}-spans.json")
        self.tracer.write(out)
        self.note(f"spans written to {out}")

    def ledger(self, t_from: float, t_to: float) -> None:
        """Spark execution totals of the measured phases from the event
        log; task time must fit in wall time x cores."""
        led = event_log_ledger(os.path.join(self.work, "eventlog"), t_from, t_to)
        wall = t_to - t_from
        self.attempted += 1
        if led["task_wall_ms"] > wall * 1000.0 * self.cores:
            self.failed += 1
            self.problems.append(
                f"event log: task time {led['task_wall_ms']:.0f} ms exceeds wall x cores")
        self.record("exec.wall_s", wall, "s", 1)
        for k, unit in (("exec.jobs", "count"), ("exec.tasks", "count"), ("exec.task_ms", "ms"),
                        ("exec.cpu_ms", "ms"), ("exec.gc_ms", "ms"),
                        ("shuffle.read_bytes", "bytes"), ("shuffle.write_bytes", "bytes")):
            self.record(k, led[k], unit, led["exec.tasks"])

    def layer_metrics(self, res: dict, stream: Stream, root_id: str) -> None:
        backlog, live = res["backlog"], res["live"]
        records = res["records"]
        self.tracer.add_triggers(records, root_id)
        for r in live["report"]["files"]:
            self.tracer.add("generator.write", r["due"], r["written"], root_id, file=r["name"])
        lat = res["latencies"]
        eps = backlog["events_per_s"]
        self.record("traced.events_per_s", eps, "1/s", len(backlog["triggers"]))
        self.record("traced.verdict_latency_p50_s", quantile(lat, 0.5), "s", len(lat))
        self.record("traced.verdict_latency_p90_s", quantile(lat, 0.9), "s", len(lat))
        self.record("plan.build_ms", stream.plan_ms, "ms", 1)
        self.record("peak_rss_mb", res["sampler"].peak_bytes / 2**20, "MB",
                    res["sampler"].samples)
        self.record("heap_retained_mb", res["heap_mb"], "MB", 1)
        self.record("gen.lateness_ms_max", live["report"]["lateness_ms_max"], "ms",
                    len(live["report"]["files"]))

        # per-trigger phases, totalled over every trigger of the query
        def total(key: str) -> float:
            return float(sum(p["durationMs"].get(key, 0) for p in records))

        n = len(records)
        live_data = [p for p in live["records"] if p["numInputRows"]]
        self.record("source.latest_offset_ms", total("latestOffset"), "ms", n)
        self.record("source.get_batch_ms", total("getBatch"), "ms", n)
        self.record("source.lag_files_max", self.lag_files_max(live, res["batches"]), "count",
                    len(live["records"]))
        self.record("source.rows_per_trigger",
                    statistics.mean(p["numInputRows"] for p in live_data), "count", len(live_data))
        self.record("trigger.count", n, "count", n)
        self.record("trigger.data_ratio", sum(1 for p in records if p["numInputRows"]) / n,
                    "ratio", n)
        self.record("trigger.planning_ms", total("queryPlanning"), "ms", n)
        self.record("trigger.add_batch_ms", total("addBatch"), "ms", n)
        self.record("trigger.wal_commit_ms", total("walCommit"), "ms", n)
        self.record("trigger.commit_offsets_ms", total("commitOffsets"), "ms", n)
        exec_ms = [p["durationMs"]["triggerExecution"] for p in live_data]
        self.record("trigger.exec_ms_p50", quantile(exec_ms, 0.5), "ms", len(exec_ms))
        self.record("trigger.exec_ms_p90", quantile(exec_ms, 0.9), "ms", len(exec_ms))

        ops = [op for p in records for op in p.get("stateOperators", [])]
        last = records[-1].get("stateOperators", [])

        def op_sum(key: str, source: list[dict]) -> float:
            return float(sum(op.get(key, 0) for op in source))

        self.record("state.updates_ms", op_sum("allUpdatesTimeMs", ops), "ms", len(ops))
        self.record("state.removals_ms", op_sum("allRemovalsTimeMs", ops), "ms", len(ops))
        self.record("state.commit_ms", op_sum("commitTimeMs", ops), "ms", len(ops))
        self.record("state.rows_updated", op_sum("numRowsUpdated", ops), "count", len(ops))
        self.record("state.rows_total", op_sum("numRowsTotal", last), "count", 1)
        self.record("state.memory_bytes", op_sum("memoryUsedBytes", last), "bytes", 1)
        self.record("state.instances", op_sum("numStateStoreInstances", last), "count", 1)

        calls = [c for c in self.probe.calls if c["sink"] == stream.sink]
        call_ms = [(c["end"] - c["start"]) * 1000.0 for c in calls]
        self.record("sink.calls", len(calls), "count", len(calls))
        self.record("sink.call_ms_p50", quantile(call_ms, 0.5), "ms", len(calls))
        self.record("sink.rows_in", sum(c["rows"] or 0 for c in calls), "count", len(calls))
        self.record("sink.table_rows", res["table_rows"], "count", 1)

    def lag_files_max(self, live: dict, batches: list[dict]) -> int:
        """Most live files waiting at the start of any live trigger:
        written before it started and not read by an earlier batch."""
        files = live["report"]["files"]
        names = {r["name"] for r in files}
        read = {b["id"]: sum(os.path.basename(p) in names for p in b["files"]) for b in batches}
        lag, done = 0, 0
        for p in live["records"]:
            started = progress_epoch(p)
            lag = max(lag, sum(1 for r in files if r["written"] <= started) - done)
            done += read.get(p["batchId"], 0)
        return lag

    # -- output --------------------------------------------------------------

    def note(self, what: str) -> None:
        print(f"[{time.monotonic() - self.t_begin:7.2f}s] {what}", file=sys.stderr, flush=True)

    def record(self, name: str, value: float, unit: str, n: int) -> None:
        self.metrics[name] = (float(value), unit, n)

    def result(self) -> dict:
        """Print every metric with its unit and sample count; return the
        JSON result."""
        for name, (value, unit, n) in self.metrics.items():
            print(f"{self.workload} {name} = {value:.6g} {unit} (n={n})")
        attempted = max(self.attempted, 1)
        print(f"{self.workload} failed_ops_ratio = {self.failed / attempted:.6g} "
              f"(failed {self.failed} of {attempted})")
        for p in self.problems:
            print(f"PROBLEM {p}", file=sys.stderr)
        wanted = PER_LAYER if self.traced else END_TO_END
        return {
            "correct": self.failed == 0 and not self.problems,
            "attempted": attempted,
            "failed": self.failed,
            "metrics": {k: {"value": self.metrics[k][0], "unit": self.metrics[k][1]}
                        for k in wanted if k in self.metrics},
        }


def _on_deadline(signum, frame):
    raise RunFailure(f"run exceeded {DEADLINE_S} s")


def main() -> int:
    ap = argparse.ArgumentParser(description="streaming bot-detection benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"error: package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    signal.signal(signal.SIGALRM, _on_deadline)
    signal.alarm(DEADLINE_S)
    bench = Bench(args)
    try:
        bench.run()
    except Exception as exc:  # query errors arrive as py4j/pyspark exceptions
        print(f"error: {type(exc).__name__}: {str(exc)[:2000]}", file=sys.stderr)
        bench.failed += 1
        bench.attempted += 1
        bench.problems.append(f"{type(exc).__name__}: {str(exc)[:200]}")
    finally:
        signal.alarm(0)
        bench.shutdown()
        shutil.rmtree(bench.work, ignore_errors=True)
    out = bench.result()
    print(json.dumps(out))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

"""The two stream workloads: `stream_backlog` (closed loop, catch-up) and
`stream_trickle` (open loop at 1,000 tx/s).

Both run the flagship pipeline through its public surface only:
`read_transaction_stream` -> `approval_stream` -> `start_multi_sink`.
Per-batch phase times come from the query's progress reports (the
`durationMs` map of Structured Streaming); in a traced run a
`StreamingQueryListener` registered here turns the same reports into
spans.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import subprocess
import sys
import time

import numpy as np

import gen
import probe

#: durationMs phases in the order MicroBatchExecution runs them, and the
#: layer each belongs to.
PHASES = (
    ("latestOffset", "sources"),
    ("walCommit", "sink"),
    ("getBatch", "sources"),
    ("queryPlanning", "transform"),
    ("addBatch", "sink"),
    ("commitOffsets", "sink"),
)


def _iso_to_epoch(ts: str) -> float:
    return (
        dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ")
        .replace(tzinfo=dt.timezone.utc)
        .timestamp()
    )


def _batches(progress) -> list[dict]:
    """Non-empty batches from progress reports, with wall-clock start/end."""
    out = []
    for p in progress:
        if p.numInputRows <= 0:
            continue
        start = _iso_to_epoch(p.timestamp)
        dur = dict(p.durationMs)
        out.append(
            {
                "run": str(p.runId),
                "id": p.batchId,
                "start": start,
                "end": start + dur["triggerExecution"] / 1000.0,
                "rows": p.numInputRows,
                "dur": dur,
            }
        )
    return out


def _committed_files(checkpoint: str) -> dict[str, int]:
    """File name -> batch id, from the file source's metadata log
    (plain and compacted entries both carry the batch id)."""
    out: dict[str, int] = {}
    for path in glob.glob(f"{checkpoint}/sources/0/*"):
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def _parquet_stats(dirs: list[str]) -> tuple[int, int]:
    files = [p for d in dirs for p in glob.glob(f"{d}/**/*.parquet", recursive=True)]
    return len(files), sum(os.path.getsize(p) for p in files)


class _Listener:
    """Wraps a StreamingQueryListener that keeps every progress report."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        reports = self.reports = []

        class Keep(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                reports.append(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._spark = spark
        self._impl = Keep()
        spark.streams.addListener(self._impl)

    def wait_for(self, progress, timeout_s: float = 5.0) -> None:
        """Progress reports reach listeners asynchronously; wait until the
        listener holds a report for each of `progress` before it is
        removed."""
        want = {(str(p.runId), p.batchId) for p in progress}
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            if want <= {(str(p.runId), p.batchId) for p in self.reports}:
                return
            time.sleep(0.05)

    def remove(self) -> None:
        if self._impl is not None:
            self._spark.streams.removeListener(self._impl)
            self._impl = None


class StreamWorkload:
    """Shared set-up, checks and metrics of the two stream workloads."""

    def __init__(self, spark, work: str, seed: int, seconds: float, trace: bool) -> None:
        from banking_streaming_etl_spark import datamodel

        self.spark, self.work, self.seed, self.seconds = spark, work, seed, seconds
        self.tables = f"{work}/tables"
        self.users = lambda: datamodel.users(spark, self.tables)
        self.regions = lambda: datamodel.regions(spark, self.tables)
        self.batches: list[dict] = []  # timed batches
        self.progress: list = []  # every progress report of the checked queries
        self.outputs: list[tuple[str, str, str, np.ndarray]] = []
        self.listener = _Listener(spark) if trace else None
        self.failed_ops = 0

    def _make_tables(self, n_events: int) -> list[str]:
        gen.write_tables(self.tables, self.seed, n_events)
        return gen.wire_lines(self.tables)

    def _start(self, in_dir, out_dir, max_files=None, recent_view=None):
        from banking_streaming_etl_spark.sources.stream import read_transaction_stream
        from banking_streaming_etl_spark.streaming.pipeline import (
            approval_stream,
            start_multi_sink,
        )

        tx = read_transaction_stream(self.spark, in_dir, max_files_per_trigger=max_files)
        result = approval_stream(tx, self.users(), self.regions())
        return start_multi_sink(
            result,
            f"{out_dir}/hist",
            f"{out_dir}/scores",
            f"{out_dir}/ckpt",
            recent_view=recent_view,
        )

    # --- checks -------------------------------------------------------------

    def check(self) -> list[tuple[str, bool, str]]:
        """Every generated id once in history and once in scores, and the
        (id, score_medio bits, transacao_aprovada) tuples equal the batch
        `approval_pipeline` over the same tables."""
        from banking_streaming_etl_spark.plans.approval import approval_pipeline

        want = (
            approval_pipeline(self.spark, self.tables)
            .select("id_transacao", "score_medio", "transacao_aprovada")
            .toPandas()
            .set_index("id_transacao")
            .sort_index()
        )
        results = []
        for label, hist, scores, ids in self.outputs:
            h = self.spark.read.parquet(hist).select(
                "id_transacao", "score_medio", "transacao_aprovada"
            ).toPandas()
            s = self.spark.read.parquet(scores).select("id_transacao").toPandas()
            want_ids = np.sort(ids)
            for name, got in (("history", h), ("scores", s)):
                got_ids = np.sort(got["id_transacao"].to_numpy())
                ok = np.array_equal(got_ids, want_ids)
                results.append(
                    (f"{label}.{name}_ids_once", ok, f"{len(got_ids)} rows, {len(want_ids)} ids")
                )
            h = h.set_index("id_transacao").sort_index()
            ok = h.index.is_unique
            if ok:
                w = want.reindex(h.index)
                ok = np.array_equal(
                    h["score_medio"].to_numpy("float64").view(np.int64),
                    w["score_medio"].to_numpy("float64").view(np.int64),
                ) and h["transacao_aprovada"].equals(w["transacao_aprovada"])
            results.append((f"{label}.tuples_equal_batch", bool(ok), f"{len(h)} rows"))
        return results

    # --- metrics --------------------------------------------------------------

    def _batch_metrics(self) -> dict:
        ms = [b["dur"]["triggerExecution"] for b in self.batches]
        tail, pct, n = probe.ptail(ms)
        return {
            "batch_ms_p50": p50f(ms),
            "named": [
                ("batch_ms_p50", p50f(ms), "ms", f"n={n}"),
                ("batch_ms_ptail", tail, "ms", f"p{pct} of n={n}"),
            ],
        }

    def per_layer(self, jobs: list[dict], stages: dict) -> dict:
        def phase(name):
            return p50f([b["dur"].get(name, 0) for b in self.batches])

        add = [b["dur"].get("addBatch", 0) for b in self.batches]
        add_tail, _, _ = probe.ptail(add)
        per_batch = [probe.jobs_in(jobs, b["start"], b["end"]) for b in self.batches]
        n_jobs = [len(js) for js in per_batch]
        n_tasks = [probe.stage_totals(js, stages)["tasks"] for js in per_batch]
        epochs = [(str(p.runId), p.batchId) for p in self.progress]
        files, size = _parquet_stats([o[1] for o in self.outputs] + [o[2] for o in self.outputs])
        rows = sum(len(o[3]) for o in self.outputs)
        n_batches = max(1, len(_batches(self.progress)))
        return {
            "sources.latest_offset_ms_p50": phase("latestOffset"),
            "sources.get_batch_ms_p50": phase("getBatch"),
            "sources.rows_per_batch_p50": p50f([b["rows"] for b in self.batches]),
            "transform.query_planning_ms_p50": phase("queryPlanning"),
            "sink.add_batch_ms_p50": p50f(add),
            "sink.add_batch_ms_ptail": add_tail,
            "sink.wal_commit_ms_p50": phase("walCommit"),
            "sink.commit_offsets_ms_p50": phase("commitOffsets"),
            "sink.jobs_per_batch": p50f(n_jobs),
            "sink.tasks_per_batch": p50f(n_tasks),
            "sink.files_per_batch": files / n_batches,
            "sink.bytes_per_row": size / max(1, rows),
            "sink.epochs_retried": len(epochs) - len(set(epochs)),
        }

    def close(self) -> None:
        if self.listener is not None:
            self.listener.remove()

    def spans(self, tracer: probe.Tracer, jobs: list[dict]) -> list[tuple[str, bool, str]]:
        """Batch spans from the listener's reports, phases as children,
        Spark jobs under the phase they were submitted in. Returns a
        check that the listener saw every timed batch."""
        if self.listener is not None:
            self.listener.wait_for(self.progress)
        self.close()
        timed = {(b["run"], b["id"]) for b in self.batches}
        seen = 0
        for b in _batches(self.listener.reports):
            seen += (b["run"], b["id"]) in timed
            trace = f"batch-{b['run'][:8]}-{b['id']}"
            root = tracer.add(trace, "batch", "engine", b["start"], b["end"])
            cursor = b["start"]
            for name, layer in PHASES:
                d = b["dur"].get(name, 0) / 1000.0
                sid = tracer.add(trace, name, layer, cursor, cursor + d, root)
                for j in probe.jobs_in(jobs, cursor, cursor + d):
                    end = j.get("completionTime") or j["submissionTime"]
                    tracer.add(trace, f"job-{j['jobId']}", "spark", j["submissionTime"] / 1000.0, end / 1000.0, sid)
                cursor += d
        return [("listener.saw_every_timed_batch", seen == len(timed), f"{seen} of {len(timed)}")]

    def layer_costs(self, wire_dir: str, batch_rows: int) -> dict:
        """Traced only, after the timed phase: per-1000-row cost of parse,
        transform and parquet append, each measured alone with a noop or
        persisted neighbour (median of three)."""
        from pyspark.sql import functions as F

        from banking_streaming_etl_spark.sources.stream import parse_wire
        from banking_streaming_etl_spark.streaming.pipeline import approval_stream

        spark = self.spark
        raw = spark.read.text(wire_dir)
        n_all = raw.count()

        def timed(action, reps=3):
            ts = []
            for _ in range(reps):
                t = time.perf_counter()
                action()
                ts.append(time.perf_counter() - t)
            return p50f(ts)

        parse_s = timed(
            lambda: parse_wire(raw, F.current_timestamp()).write.format("noop").mode("overwrite").save()
        )
        parsed = parse_wire(raw.limit(batch_rows), F.current_timestamp()).persist()
        n = parsed.count()
        transform_s = timed(
            lambda: approval_stream(parsed, self.users(), self.regions())
            .write.format("noop").mode("overwrite").save()
        )
        scored = approval_stream(parsed, self.users(), self.regions()).persist()
        scored.count()
        sink_dir = f"{self.work}/layer_sink"
        write_s = timed(lambda: scored.write.mode("append").parquet(sink_dir))
        scored.unpersist()
        parsed.unpersist()
        return {
            "sources.parse_ms_per_krow": 1e6 * parse_s / max(1, n_all),
            "transform.ms_per_krow": 1e6 * transform_s / max(1, n),
            "sink.write_ms_per_krow": 1e6 * write_s / max(1, n),
        }


def p50f(values) -> float:
    return float(probe.p50(values))


class Backlog(StreamWorkload):
    """`stream_backlog`: the reference's catch-up test. The whole backlog
    is on disk before `start()`; the query drains it under a
    `maxFilesPerTrigger` cap into history and scores (no recent view),
    as `bench.py` does. The timed phase repeats the drain, each time with
    a fresh checkpoint and fresh sinks."""

    ROWS_PER_FILE = 6_250  # bench.py's sf0.1 chunk size
    FILES = 8  # 50k events a drain
    MAX_FILES_PER_TRIGGER = 4  # 25k rows a batch
    WARM_FILES = 4  # one batch: the first, cold batch costs ~7 s at any size
    #: a warm drain takes about 5 s on a 4-CPU host; the timed phase runs
    #: round(seconds / DRAIN_S) drains, so runs of one --seconds do equal work
    DRAIN_S = 5.0

    def setup(self) -> None:
        lines = self._make_tables(self.ROWS_PER_FILE * self.FILES)
        self.n_events = len(lines)
        self.in_dir = f"{self.work}/in"
        gen.write_wire_files(lines, self.in_dir, self.ROWS_PER_FILE)
        warm_in = f"{self.work}/warm_in"
        gen.write_wire_files(lines[: self.ROWS_PER_FILE * self.WARM_FILES], warm_in, self.ROWS_PER_FILE)
        q = self._start(warm_in, f"{self.work}/warm", self.MAX_FILES_PER_TRIGGER)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        self.ids = np.arange(self.n_events)
        self.drains: list[tuple[float, float]] = []  # (start, last commit)

    def measure(self, seconds: float) -> None:
        for d in range(max(1, round(seconds / self.DRAIN_S))):
            out = f"{self.work}/drain"
            t0 = time.time()
            q = self._start(self.in_dir, f"{out}/{d}", self.MAX_FILES_PER_TRIGGER)
            try:
                q.processAllAvailable()
                progress = list(q.recentProgress)
            finally:
                q.stop()
            batches = _batches(progress)
            self.progress += progress
            self.batches += batches
            self.drains.append((t0, max(b["end"] for b in batches)))
            self.outputs.append((f"drain{d}", f"{out}/{d}/hist", f"{out}/{d}/scores", self.ids))

    def attempted(self) -> int:
        return len(self.batches)

    def end_to_end(self) -> tuple[dict, list]:
        elapsed = sum(end - start for start, end in self.drains)
        tx_per_s = self.n_events * len(self.drains) / elapsed
        m = self._batch_metrics()
        return {
            "latency_ms_p50": (m["batch_ms_p50"], "ms"),
            "throughput_per_s": (tx_per_s, "1/s"),
        }, [
            ("tx_per_s", tx_per_s, "tx/s", f"{len(self.drains)} drains of {self.n_events} events"),
            *m["named"],
        ]

    def layer_costs(self) -> dict:
        return super().layer_costs(self.in_dir, self.ROWS_PER_FILE * self.MAX_FILES_PER_TRIGGER)


class Trickle(StreamWorkload):
    """`stream_trickle`: an open loop. A separate feeder process writes
    one 250-event file every 0.25 s (1,000 tx/s) into the directory a
    running query watches; the sink carries a `RecentTransactionsView`,
    so the 3-job sink path runs. Each file is timed from when it was due
    to the end of the batch that committed it."""

    FEED_ROWS = 250
    PERIOD_S = 0.25
    WARM_ROWS_PER_FILE = 1_250
    WARM_STEPS = 3  # batches of warm-up before the feeder starts
    WARM_FILES_PER_STEP = 2

    def setup(self) -> None:
        from banking_streaming_etl_spark.streaming.pipeline import RecentTransactionsView

        n_warm = self.WARM_ROWS_PER_FILE * self.WARM_FILES_PER_STEP * self.WARM_STEPS
        self.n_feed_files = max(1, round(self.seconds / self.PERIOD_S))
        lines = self._make_tables(n_warm + self.FEED_ROWS * self.n_feed_files)
        self.n_events = len(lines)
        self.feed_src = f"{self.work}/feed_src"
        gen.write_wire_files(lines, self.feed_src, self.FEED_ROWS, start=n_warm)
        self.stream_dir = f"{self.work}/stream"
        warm_src = f"{self.work}/warm_src"
        warm_files = gen.write_wire_files(lines[:n_warm], warm_src, self.WARM_ROWS_PER_FILE)
        os.makedirs(self.stream_dir)
        self.view = RecentTransactionsView()
        self.out = f"{self.work}/out"
        self.q = self._start(self.stream_dir, self.out, recent_view=self.view)
        for step in range(self.WARM_STEPS):
            for path in warm_files[step * self.WARM_FILES_PER_STEP : (step + 1) * self.WARM_FILES_PER_STEP]:
                os.rename(path, f"{self.stream_dir}/warm-{os.path.basename(path)}")
            self.q.processAllAvailable()
        self.outputs.append(("stream", f"{self.out}/hist", f"{self.out}/scores", np.arange(self.n_events)))

    def measure(self, seconds: float) -> None:
        self.t0 = time.time() + 0.5
        log_path = f"{self.work}/feed_log.jsonl"
        feeder = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "feeder.py"),
             self.feed_src, self.stream_dir, repr(self.t0), repr(self.PERIOD_S), log_path]
        )
        try:
            rc = feeder.wait(timeout=seconds + 60)
        finally:
            if feeder.poll() is None:
                feeder.kill()
                feeder.wait()
        if rc != 0:
            raise RuntimeError(f"feeder exited with {rc}")
        try:
            self.q.processAllAvailable()
            progress = list(self.q.recentProgress)
            if self.listener is not None:
                self.listener.wait_for(progress)
        finally:
            if self.listener is not None:
                self.listener.remove()
            self.q.stop()
        with open(log_path) as f:
            self.feed = [json.loads(line) for line in f]
        self.progress = progress
        committed = _committed_files(f"{self.out}/ckpt")
        by_id = {b["id"]: b for b in _batches(progress)}
        self.latency_ms, self.unmapped = [], []
        fed_batches = set()
        for e in self.feed:
            b = by_id.get(committed.get(e["name"]))
            if b is None:
                self.unmapped.append(e["name"])
                continue
            fed_batches.add(b["id"])
            e["committed"] = b["end"]
            self.latency_ms.append(1000.0 * (b["end"] - e["due"]))
        self.batches = [by_id[i] for i in sorted(fed_batches)]
        self.failed_ops += len(self.unmapped)

    def attempted(self) -> int:
        return len(self.batches) + len(self.feed)

    def end_to_end(self) -> tuple[dict, list]:
        mapped = [e for e in self.feed if "committed" in e]
        span = max(e["committed"] for e in mapped) - self.t0 if mapped else 1.0
        tx_per_s = self.FEED_ROWS * len(mapped) / span
        tail, pct, n = probe.ptail(self.latency_ms)
        return {
            "latency_ms_p50": (p50f(self.latency_ms), "ms"),
            "throughput_per_s": (tx_per_s, "1/s"),
        }, [
            ("event_latency_ms_p50", p50f(self.latency_ms), "ms", f"n={n} files"),
            ("event_latency_ms_ptail", tail, "ms", f"p{pct} of n={n}"),
            *self._batch_metrics()["named"],
            ("tx_per_s", tx_per_s, "tx/s", "committed events over first due time to last commit"),
            ("files_mapped", len(mapped), "count", f"of {len(self.feed)} fed; the rest count as failed"),
            ("gen.late_ms_max", self._late_ms(), "ms", "feeder lateness"),
        ]

    def _late_ms(self) -> float:
        return 1000.0 * max(e["written"] - e["due"] for e in self.feed)

    def per_layer(self, jobs: list[dict], stages: dict) -> dict:
        out = super().per_layer(jobs, stages)
        lag = []
        for b in self.batches:
            written = sum(1 for e in self.feed if e["written"] <= b["end"])
            done = sum(1 for e in self.feed if e.get("committed", float("inf")) <= b["end"])
            lag.append(written - done)
        out["sources.lag_files_max"] = max(lag, default=0)
        out["gen.late_ms_max"] = self._late_ms()
        return out

    def layer_costs(self) -> dict:
        rows = int(p50f([b["rows"] for b in self.batches])) or self.FEED_ROWS
        return super().layer_costs(self.stream_dir, rows)

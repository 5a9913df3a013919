"""Benchmark entry point: one named workload per invocation.

    python3 perfbench/run.py --workload stream_backlog --seed 1 --seconds 10 --trace 0

Run it from the repository root. It generates its inputs from `--seed`
under `perfbench/_work/`, runs the workload on `local[<cpus>]`, checks the
program's outputs, prints every metric by name with its unit as `# `
lines, and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones in BENCHMARK.json;
with `--trace 1` they are the per-layer ones, spans are written to
`perfbench/_out/`, and the difference to an untraced run of the same
workload and seed (if one ran in this checkout) is printed as the
tracing overhead. The exit code is 0 only when every output check
passed and no operation failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_PROCESS = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import probe  # noqa: E402

WORKLOADS = ("stream_backlog", "stream_trickle", "analyst_session")

#: for each per-layer metric: the end-to-end metric it should move, and
#: on which workload. On the other workloads the prediction is no change.
MOVES = {
    "session.start_s": "setup_s on every workload",
    "sources.latest_offset_ms_p50": "latency_ms_p50 on both streams",
    "sources.get_batch_ms_p50": "latency_ms_p50 on both streams",
    "sources.rows_per_batch_p50": "latency_ms_p50 (event latency) on stream_trickle",
    "sources.lag_files_max": "latency_ms_p50 (event latency) on stream_trickle",
    "sources.parse_ms_per_krow": "latency_ms_p50 (batch) and tx/s on stream_backlog",
    "transform.query_planning_ms_p50": "latency_ms_p50 on both streams",
    "transform.ms_per_krow": "latency_ms_p50 (batch) and tx/s on stream_backlog",
    "sink.add_batch_ms_p50": "latency_ms_p50 on both streams",
    "sink.add_batch_ms_ptail": "batch_ms_ptail on both streams",
    "sink.wal_commit_ms_p50": "latency_ms_p50 on both streams",
    "sink.commit_offsets_ms_p50": "latency_ms_p50 on both streams",
    "sink.jobs_per_batch": "latency_ms_p50 on both streams",
    "sink.tasks_per_batch": "latency_ms_p50 on both streams",
    "sink.files_per_batch": "latency_ms_p50 on both streams",
    "sink.bytes_per_row": "latency_ms_p50 (batch) and tx/s on stream_backlog",
    "sink.write_ms_per_krow": "latency_ms_p50 (batch) and tx/s on stream_backlog",
    "sink.epochs_retried": "latency_ms_p50 on both streams",
    "memo.pinned_rdds_end": "setup_s and peak_rss_mb on analyst_session",
    "memo.pinned_bytes_end": "setup_s and peak_rss_mb on analyst_session",
    "jvm.gc_ms": "batch_ms_ptail on the streams, query_s_ptail on analyst_session",
    "gen.late_ms_max": "none: the feeder's own lateness, reported for open-loop hygiene",
    "batch_ms_p50": "moved end-to-end metric (stream workloads)",
    "batch_ms_ptail": "moved end-to-end metric (stream workloads)",
    "event_latency_ms_ptail": "moved end-to-end metric (stream_trickle)",
    "query_s_ptail": "moved end-to-end metric (analyst_session)",
    "refresh_s_p50": "moved end-to-end metric (analyst_session)",
    "failed_share": "moved end-to-end metric (every workload)",
    "peak_rss_mb": "moved end-to-end metric (every workload)",
    "throughput_per_s": "moved end-to-end metric (tx/s on the streams, queries/s on analyst_session)",
}
for _fam in ("dashboard", "stats"):
    for _k in ("build_s", "action_s", "jobs", "stages", "shuffle_bytes", "spill_bytes", "exchanges", "scans"):
        MOVES[f"plans.{_fam}.{_k}"] = "latency_ms_p50 (query) and refresh_s_p50 on analyst_session"

MOVED = (
    "tails (batch_ms_ptail, event_latency_ms_ptail, query_s_ptail) and refresh_s_p50 are "
    "per-layer: a run holds 4-40 samples, too few for a tail that repeats within a tenth",
    "failed_share is per-layer: it is 0 on a healthy run, and end-to-end metrics must never be 0; "
    "the result line carries attempted and failed",
    "peak_rss_mb and throughput_per_s are per-layer: over ten seeds their spread (IQR over median) "
    "reached 0.12-0.15, more than a tenth",
)
UNLISTED = (
    "this workload is not in BENCHMARK.json: a full benchmark pass makes 4 + 22 runs per "
    "workload within 3420 s, and three workloads at 40-80 s a run would not fit; it runs by name only"
)


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _say(line: str) -> None:
    print(f"# {line}", flush=True)


def _fmt(v) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main(argv=None) -> int:
    args = _parse(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    try:
        from pyspark import SparkContext

        from banking_streaming_etl_spark import session
    except ImportError as e:
        print(f"perfbench: the package under test is not importable: {e}", file=sys.stderr)
        return 2

    import analyst
    import streams

    work = os.path.join(HERE, "_work", args.workload)
    out_dir = os.path.join(HERE, "_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    os.makedirs(out_dir, exist_ok=True)
    os.environ["TMPDIR"] = f"{work}/tmp"
    # Spark's launcher JVM would otherwise write its perf data under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    trace = bool(args.trace)
    tracer = probe.Tracer()

    t = time.time()
    spark = session.get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf={
            "spark.local.dir": f"{work}/spark-local",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
        },
    )
    session_s = time.time() - t
    tracer.add("setup", "session.start", "session", t, t + session_s)
    gateway = spark.sparkContext._gateway.proc
    wl = None
    try:
        jvm_pid = spark._jvm.ProcessHandle.current().pid()
        store = probe.StatusStore(spark)
        cls = {
            "stream_backlog": streams.Backlog,
            "stream_trickle": streams.Trickle,
            "analyst_session": analyst.Analyst,
        }[args.workload]
        wl = cls(spark, work, args.seed, args.seconds, trace)
        t = time.time()
        wl.setup()
        tracer.add("setup", "workload.setup", "setup", t, time.time())
        setup_s = time.time() - T_PROCESS
        gc0 = store.gc_ms()
        host = probe.HostRecord(jvm_pid)
        wl.measure(args.seconds)
        host_rec = host.end()
        rss_mb = probe.vm_hwm_mb(jvm_pid)
        gc_ms = store.gc_ms() - gc0
        pinned_rdds, pinned_bytes = store.pinned()
        checks = wl.check()
        e2e, named = wl.end_to_end()
        layers = {}
        if trace:
            jobs, stages = store.jobs(), store.stages()
            layers.update(wl.per_layer(jobs, stages))
            layers.update(wl.layer_costs())
            checks += wl.spans(tracer, jobs)
    finally:
        if wl is not None:
            wl.close()
        spark.stop()
        # the gateway JVM exits when its stdin closes: wait until it has,
        # and let a later session in this process launch a new one
        SparkContext._gateway.shutdown()
        gateway.stdin.close()
        gateway.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None

    failed_checks = [c for c in checks if not c[1]]
    attempted = wl.attempted() + len(checks)
    failed = wl.failed_ops + len(failed_checks)
    e2e_values = {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss_mb, "MB"),
        **e2e,
    }

    _say(f"workload {args.workload} seed {args.seed} seconds {args.seconds:g} trace {args.trace}")
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        _say(f"note: {UNLISTED}")
    for note in MOVED:
        _say(f"note: {note}")
    _say(f"host {json.dumps(host_rec)}")
    for name, ok, detail in checks:
        _say(f"check {name}: {'ok' if ok else 'FAILED'} ({detail})")
    listed = {m["name"] for m in bench["end_to_end"]}
    for name, (value, unit) in e2e_values.items():
        _say(f"{'end_to_end' if name in listed else 'moved'} {name} = {_fmt(value)} {unit}")
    for name, value, unit, detail in named:
        _say(f"named {name} = {_fmt(value)} {unit} ({detail})")
    _say(f"named failed_share = {failed / attempted:.6g} ({failed} of {attempted} operations)")

    untraced_path = os.path.join(out_dir, f"untraced-{args.workload}-s{args.seed}.json")
    if not trace:
        with open(untraced_path, "w") as f:
            json.dump({k: v[0] for k, v in e2e_values.items()}, f)
        metrics = {
            m["name"]: {"value": float(e2e_values[m["name"]][0]), "unit": m["unit"]}
            for m in bench["end_to_end"]
        }
    else:
        named_values = {n: v for n, v, _, _ in named}
        layers.update(
            {
                "session.start_s": session_s,
                "memo.pinned_rdds_end": pinned_rdds,
                "memo.pinned_bytes_end": pinned_bytes,
                "jvm.gc_ms": gc_ms,
                "failed_share": failed / attempted,
                "peak_rss_mb": rss_mb,
                "throughput_per_s": e2e_values["throughput_per_s"][0],
            }
        )
        for n in ("batch_ms_p50", "batch_ms_ptail", "event_latency_ms_ptail", "query_s_ptail", "refresh_s_p50"):
            if n in named_values:
                layers[n] = named_values[n]
        spans_path = os.path.join(out_dir, f"spans-{args.workload}-s{args.seed}.jsonl")
        tracer.write(spans_path)
        _say(f"spans: {len(tracer.spans)} written to {os.path.relpath(spans_path, ROOT)}")
        for layer, s in sorted(tracer.self_time_by_layer().items()):
            _say(f"self_time {layer} = {s:.4f} s")
        for m in bench["per_layer"]:
            v = layers.get(m["name"])
            shown = "n/a on this workload (reported as 0)" if v is None else _fmt(float(v))
            _say(f"per_layer {m['name']} = {shown} {m['unit']}  [moves {MOVES.get(m['name'], '?')}]")
        if os.path.exists(untraced_path):
            with open(untraced_path) as f:
                base = json.load(f)
            for k, (v, unit) in e2e_values.items():
                if base.get(k):
                    _say(f"tracing_overhead {k} = {v - base[k]:+.6g} {unit} ({100 * (v - base[k]) / base[k]:+.1f}%)")
        else:
            _say(f"tracing_overhead: no untraced run of {args.workload} on seed {args.seed} in this checkout")
        metrics = {
            m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in bench["per_layer"]
        }

    shutil.rmtree(work, ignore_errors=True)
    ok = not failed_checks and failed == 0
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The pure tests take seconds. The end-to-end tests start Spark once per
workload at a tiny size and take a few minutes in all.
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [BENCH_DIR, ROOT]

import gen  # noqa: E402
import probe  # noqa: E402
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")
END_TO_END = {"setup_s", "latency_ms_p50"}


# --- generator ------------------------------------------------------------------


def _generate(out, seed):
    gen.write_tables(f"{out}/tables", seed, 3000)
    gen.write_wire_files(gen.wire_lines(f"{out}/tables"), f"{out}/wire", 700)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    _generate(tmp_path / "a", 7)
    _generate(tmp_path / "b", 7)
    _generate(tmp_path / "c", 8)
    for sub in ("tables", "wire"):
        names = sorted(os.listdir(tmp_path / "a" / sub))
        assert names == sorted(os.listdir(tmp_path / "b" / sub))
        _, mismatch, errors = filecmp.cmpfiles(tmp_path / "a" / sub, tmp_path / "b" / sub, names, shallow=False)
        assert not mismatch and not errors
    assert not filecmp.cmp(tmp_path / "a/tables/events.parquet", tmp_path / "c/tables/events.parquet", shallow=False)


def test_generated_values_stay_in_testdata_ranges(tmp_path):
    gen.write_tables(str(tmp_path), 3, 5000)
    ev = pq.read_table(tmp_path / "events.parquet").to_pandas()
    assert ev["event_id"].tolist() == list(range(5000))
    assert ev["ts"].is_monotonic_increasing and ev["ts"].is_unique
    assert ev["ts"].min().year == 2024 and ev["ts"].max().month == 1
    assert set(ev["event_type"]) == set(gen.MODALITIES)
    assert 0.0 <= ev["value"].min() and ev["value"].max() <= 560.0
    assert (ev["value"] * 100).round().div(100).eq(ev["value"]).all()
    ks = ev["props"].map(lambda p: json.loads(p)["k"])
    assert ks.between(0, 99).all()
    assert ev["user_id"].between(0, 74).all()
    cust = pq.read_table(tmp_path / "customer.parquet").to_pandas()
    assert cust["c_nationkey"].between(0, 24).all()
    assert cust["c_acctbal"].between(-999.99, 9999.99).all()


def test_modalities_match_the_data_model():
    from banking_streaming_etl_spark import datamodel

    assert tuple(gen.MODALITIES) == tuple(datamodel.MODALITIES)


# --- BENCHMARK.json and metric names ---------------------------------------------------


def test_benchmark_json_follows_the_contract():
    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert BENCH["command"] == ["python3", "perfbench/run.py"]
    assert BENCH["paths"] == ["perfbench"]
    assert 1 <= BENCH["run_seconds"] <= 60
    assert 2 <= len(BENCH["workloads"]) <= 8
    names = []
    for w in BENCH["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
        assert w["name"] in run.WORKLOADS
        names.append(w["name"])
    for m in BENCH["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
        names.append(m["name"])
    for m in BENCH["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
        names.append(m["name"])
    for m in BENCH["end_to_end"] + BENCH["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    assert all(NAME.match(n) for n in names) and len(names) == len(set(names))
    setup = [m for m in BENCH["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in BENCH["end_to_end"])


def test_metric_names_match_what_the_run_reports():
    assert {m["name"] for m in BENCH["end_to_end"]} == END_TO_END
    assert {m["name"] for m in BENCH["per_layer"]} == set(run.MOVES)


# --- measurement helpers -----------------------------------------------------------------


def test_ptail_keeps_ten_samples_beyond():
    values = list(range(1, 101))
    v, pct, n = probe.ptail(values)
    assert (pct, n) == (90, 100) and sum(x > v for x in values) == 10
    assert probe.ptail([3, 1, 2]) == (3, 100, 3)


def test_self_time_subtracts_covered_child_time():
    t = probe.Tracer()
    root = t.add("x", "batch", "engine", 0.0, 10.0)
    a = t.add("x", "addBatch", "sink", 1.0, 6.0, root)
    t.add("x", "job", "spark", 2.0, 4.0, a)
    t.add("x", "job", "spark", 3.0, 5.0, a)
    got = t.self_time_by_layer()
    assert got == pytest.approx({"engine": 5.0, "sink": 2.0, "spark": 4.0})


def test_plan_counts_reads_the_final_plan_only():
    import analyst

    plan = (
        "AdaptiveSparkPlan isFinalPlan=true\n"
        "+- == Final Plan ==\n"
        "   *(2) HashAggregate(keys=[k])\n"
        "   +- ShuffleQueryStage 0\n"
        "      +- Exchange hashpartitioning(k, 4)\n"
        "         +- *(1) FileScan parquet [k]\n"
        "+- == Initial Plan ==\n"
        "   HashAggregate(keys=[k])\n"
        "   +- Exchange hashpartitioning(k, 4)\n"
        "      +- FileScan parquet [k]\n"
    )
    assert analyst.plan_counts(plan) == (1, 1)


def test_command_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench", ignore=shutil.ignore_patterns("_work", "_out", "__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "stream_backlog", "--seed", "1", "--seconds", "1"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert "{" not in p.stdout


# --- each workload end to end at a tiny size ---------------------------------------------------


@pytest.fixture
def tiny(monkeypatch):
    import analyst
    import streams

    monkeypatch.setattr(streams.Backlog, "ROWS_PER_FILE", 500)
    monkeypatch.setattr(streams.Backlog, "FILES", 4)
    monkeypatch.setattr(streams.Backlog, "MAX_FILES_PER_TRIGGER", 2)
    monkeypatch.setattr(streams.Backlog, "WARM_FILES", 2)
    monkeypatch.setattr(streams.Trickle, "WARM_ROWS_PER_FILE", 200)
    monkeypatch.setattr(streams.Trickle, "WARM_STEPS", 1)
    monkeypatch.setattr(analyst, "N_EVENTS", 2000)
    monkeypatch.setattr(
        analyst, "FAMILIES",
        {"dashboard": ("approval_overview", "perf_stats_by_modality"), "stats": ("chi2_cells_modality_approval",)},
    )


def _run(capsys, workload, trace):
    rc = run.main(["--workload", workload, "--seed", "5", "--seconds", "1", "--trace", str(trace)])
    out = capsys.readouterr().out.strip().splitlines()
    return rc, out, json.loads(out[-1])


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_workload_end_to_end_tiny(tiny, capsys, workload):
    rc, out, result = _run(capsys, workload, 0)
    assert rc == 0 and result["correct"] and result["failed"] == 0, "\n".join(out)
    assert set(result) == {"correct", "attempted", "failed", "metrics"} and result["attempted"] >= 1
    assert set(result["metrics"]) == END_TO_END
    assert all(m["value"] > 0 for m in result["metrics"].values())
    assert any(line.startswith("# check ") for line in out)

    rc, out, result = _run(capsys, workload, 1)
    assert rc == 0 and result["correct"], "\n".join(out)
    assert set(result["metrics"]) == set(run.MOVES)
    assert any(line.startswith("# tracing_overhead ") for line in out)
    spans = os.path.join(BENCH_DIR, "_out", f"spans-{workload}-s5.jsonl")
    with open(spans) as f:
        assert sum(1 for _ in f) > 1


def test_a_duplicated_event_fails_the_check(tiny, capsys, monkeypatch):
    import streams

    real = gen.write_wire_files

    def duplicate_first_line(lines, out_dir, rows_per_file, start=0):
        return real(lines[:1] + lines, out_dir, rows_per_file, start)

    monkeypatch.setattr(streams.gen, "write_wire_files", duplicate_first_line)
    rc, out, result = _run(capsys, "stream_backlog", 0)
    assert rc != 0 and not result["correct"] and result["failed"] >= 1
    assert any("FAILED" in line for line in out)

"""Guards for the two external driver contracts: __spark_entry__ and
bench.py. A breakage here costs a whole verify round, so the suite pins
the shapes the driver assumes."""

from __future__ import annotations

import json
import os
import subprocess
import sys


def test_entry_contract_shape(spark):
    import __spark_entry__ as E

    qs = E.queries()
    oq = E.oracle_sql()
    assert callable(E.entry)
    assert len(qs) >= 70
    # every oracle key is a registered query; SQL is non-empty text
    assert set(oq) <= set(qs)
    assert all(isinstance(s, str) and s.strip() for s in oq.values())
    # the flagship smoke check the driver runs
    df = E.entry(spark)
    assert df.columns and df.count() > 0


def test_bench_emits_one_json_line():
    """bench.py must print exactly ONE JSON object on stdout with the
    fields the driver records; run at the smallest sf to keep it fast."""
    out = subprocess.run(
        [sys.executable, "/root/repo/bench.py"],
        env={
            "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.001",
            "SPARK_GRAFT_CPUS": "8",
            "PATH": "/usr/bin:/bin",
            "HOME": "/root",
            "JAVA_HOME": __import__("os").environ.get("JAVA_HOME", ""),
            # The quiet-host hygiene wait (up to 300 s at loadavg >= 1.0)
            # belongs to comparable-timing runs, not this contract check;
            # in-suite, pytest's own decaying load keeps loadavg high and
            # the wait eats the subprocess's 500 s budget (flaky timeout).
            # This non-default-SF run diverts detail to the gitignored
            # BENCH_SCRATCH.md regardless, so skipping the wait loses
            # nothing the test asserts.
            "SPARK_GRAFT_BENCH_LOAD_WAIT": "0",
        },
        capture_output=True,
        text=True,
        timeout=500,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    assert len(lines) == 1, lines
    payload = json.loads(lines[0])
    assert payload["metric"] == "headline_queries_total"
    assert payload["unit"] == "sec"
    assert payload["value"] > 0
    assert payload["sf"] == 0.001
    assert "streaming_tx_per_s" in payload
    assert "streaming_replay" in payload["queries"]


def test_arrow_query_runs_from_another_working_directory(tmp_path, sf_dir):
    """A driver script started outside the repo that imports the package
    through `sys.path`: an Arrow-batched query's Python workers must be
    able to import the package too, so `get_spark` hands them its
    path."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        "import sys\n"
        "sys.path.insert(0, sys.argv[1])\n"
        "from banking_streaming_etl_spark.session import get_spark\n"
        "from banking_streaming_etl_spark.plans.batchdev import (\n"
        "    avro_wire_roundtrip,\n"
        ")\n"
        "spark = get_spark(shuffle_partitions=2)\n"
        "print(len(avro_wire_roundtrip(spark, sys.argv[2]).collect()))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", script, repo, sf_dir],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert int(out.stdout.split()[-1]) > 0

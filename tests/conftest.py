from __future__ import annotations

import os

import pytest

#: tests run at the smallest sf for speed; the driver's gate (and the
#: driver-mimic recipe in .claude/skills/verify) re-checks at sf0.01.
#: Override with SPARK_GRAFT_TEST_SF=sf0.1 for the full-decade parity
#: sweep (round 8 ran it and caught two sf0.1-only divergences: a
#: DuckDB DECIMAL(18) multiply overflow and a decimal->double 1-ulp
#: conversion split above 2^53 — ~11 min for the oracle gate alone).
SF_SMOKE = (
    f"/root/testdata/{os.environ['SPARK_GRAFT_TEST_SF']}"
    if os.environ.get("SPARK_GRAFT_TEST_SF")
    else "/root/testdata/sf0.001"
)


@pytest.fixture(scope="session")
def spark():
    from banking_streaming_etl_spark.session import get_spark

    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture
def persisted_rdd_ids(spark):
    """The ids of the persisted RDDs once nothing unreferenced is left
    to release: run a Python and a JVM GC until two rounds in a row give
    the same ids. Spark's ContextCleaner unpersists an RDD whose last
    reference is collected, at its own pace, so in a long session a
    bare count can fall between two reads while garbage of earlier
    tests is cleaned. Compare ids, not counts: a pin made since an
    earlier read is an id that read did not have, whatever else was
    released in between."""
    import gc
    import time

    jsc = spark.sparkContext._jsc

    def ids() -> set[int]:
        last = None
        for _ in range(20):
            gc.collect()
            spark._jvm.System.gc()
            time.sleep(0.5)
            now = {int(k) for k in jsc.getPersistentRDDs().keys()}
            if now == last:
                break
            last = now
        return now

    return ids


@pytest.fixture(scope="session")
def duck():
    from banking_streaming_etl_spark.oracle import duckdb_connect

    con = duckdb_connect(SF_SMOKE)
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE

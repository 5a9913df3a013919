"""operators/memo: the one session memo (`shared`) and its
eager-localCheckpoint form (`shared_frame`).

Pins the properties the EXTRA-sweep timings and the family queries rely
on: (1) same (session, sf_dir, kind) key -> the SAME object, built
exactly once — for every memo in the package, whatever it stores;
(2) '/x' and '/x/' are one key, while different sf_dirs of the live
session get independent entries (bench walks two sf dirs in one
session); (3) nested builds neither deadlock nor double-build; (4) the
`shared_frame` pin survives `spark.catalog.clearCache()` without
recomputation — bench evicts between EXTRA queries, and a
cache()-backed memo would silently re-derive per family member.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from banking_streaming_etl_spark import datamodel
from banking_streaming_etl_spark.operators import (
    dedup,
    embeddings,
    memo,
    similarity,
    sketches,
)


def test_shared_frame_builds_once_and_returns_same_object(spark):
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(5).withColumn("x", F.col("id") * 2)

    a = memo.shared_frame(spark, "/tmp/sfA", "t_once", build)
    b = memo.shared_frame(spark, "/tmp/sfA", "t_once", build)
    assert a is b
    assert calls["n"] == 1
    assert a.count() == 5


def test_shared_frame_keys_on_sf_dir_and_kind(spark):
    a = memo.shared(spark, "/tmp/sfA", "t_key", lambda: spark.range(3))
    b = memo.shared(spark, "/tmp/sfB", "t_key", lambda: spark.range(4))
    c = memo.shared(spark, "/tmp/sfA", "t_key2", lambda: spark.range(5))
    assert a is not b and a is not c
    assert (a.count(), b.count(), c.count()) == (3, 4, 5)


class _Builders:
    """Direct `memo.shared` builds, spied on like the package's own."""

    @staticmethod
    def frame(spark):
        return spark.range(3)

    @staticmethod
    def fit(spark):
        return ([3.0, 1.0], [[1.0, 0.0], [0.0, 1.0]], 3)  # pca_fit-shaped


#: name -> (memoized getter, (owner, attribute) called once per build)
_MEMOS = {
    "frame": (
        lambda s, d: memo.shared(s, d, "t_norm_frame", lambda: _Builders.frame(s)),
        (_Builders, "frame"),
    ),
    "tuple": (
        lambda s, d: memo.shared(s, d, "t_norm_tuple", lambda: _Builders.fit(s)),
        (_Builders, "fit"),
    ),
    "shingle_hashes": (dedup.shared_shingle_hashes, (dedup, "doc_shingle_hashes")),
    "normed_embeddings": (
        similarity.shared_normed_embeddings,
        (similarity, "_with_norm"),
    ),
    "bloom_payers": (sketches._shared_bloom_payers, (datamodel, "transactions")),
    "pca_fit": (embeddings.pca_fit, (embeddings, "covariance_moments")),
}


@pytest.mark.parametrize("name", list(_MEMOS))
def test_shared_normalizes_sf_dir_key(spark, sf_dir, tmp_path, monkeypatch, name):
    """'/x' and '/x/' are one entry in every memo: the SAME object back,
    one build. The sf_dir is a fresh symlink to the test tables, so no
    earlier test has built the entry."""
    get, (owner, attr) = _MEMOS[name]
    calls = {"n": 0}
    real = getattr(owner, attr)

    def spy(*args, **kwargs):
        calls["n"] += 1
        return real(*args, **kwargs)

    monkeypatch.setattr(owner, attr, spy)
    link = tmp_path / "sf"
    os.symlink(os.path.abspath(sf_dir), link)
    a = get(spark, str(link))
    b = get(spark, f"{link}/")
    assert b is a
    assert calls["n"] == 1


def test_shared_frame_nested_builds_do_not_deadlock(spark):
    """Builders NEST in production (_cal_rank_asc's lambda reads the
    memoized scored fact) — the build lock must be reentrant, and
    concurrent same-key callers must still get ONE build."""
    import threading

    calls = {"inner": 0, "outer": 0}

    def inner():
        calls["inner"] += 1
        return spark.range(4)

    def outer():
        calls["outer"] += 1
        base = memo.shared(spark, "/tmp/sfA", "t_nest_in", inner)
        return base.withColumn("y", F.col("id") + 1)

    results = [None, None]

    def run(i):
        results[i] = memo.shared(spark, "/tmp/sfA", "t_nest_out", outer)

    ts = [threading.Thread(target=run, args=(i,)) for i in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=120)
        assert not t.is_alive(), "memo.shared deadlocked on nested build"
    assert results[0] is results[1]
    assert calls == {"inner": 1, "outer": 1}
    assert results[0].count() == 4


def test_shared_frame_survives_cache_eviction(spark):
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(7)

    a = memo.shared_frame(spark, "/tmp/sfA", "t_evict", build)
    assert a.count() == 7
    spark.catalog.clearCache()  # the EXTRA sweep's between-query eviction
    b = memo.shared_frame(spark, "/tmp/sfA", "t_evict", build)
    assert b is a
    assert calls["n"] == 1
    # the checkpointed data is still readable post-eviction (a lazily
    # cached memo would silently recompute here instead)
    assert b.count() == 7


def test_contingency_kernel_keys_on_each_expression(spark, sf_dir):
    """The contingency kernel's memo key carries each row-key
    expression, not only its name: `hora` as the hour of day and as the
    truncated hour timestamp are two entries, and each is built once."""
    from banking_streaming_etl_spark.plans import dashboard

    def kernel(hora):
        return dashboard._approval_contingency(spark, sf_dir, hora=hora)

    of_day = kernel(F.hour("data_horario"))
    of_series = kernel(F.date_trunc("hour", "data_horario"))
    assert of_series is not of_day
    assert dict(of_day.dtypes)["hora"] == "int"
    assert dict(of_series.dtypes)["hora"] == "timestamp"
    assert kernel(F.hour("data_horario")) is of_day

"""Differential tests for the exact distributed ranking operator
(operators/ranking.py): bit-identical to the single-partition window
forms on every path — including the multi-bucket one, which tiny test
frames only reach with a forced rows_per_bucket.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from banking_streaming_etl_spark.operators import ranking

SF = "/root/testdata/sf0.001"


def _totals(spark):
    from banking_streaming_etl_spark import datamodel
    from banking_streaming_etl_spark.functions import exact

    t = datamodel.transactions(spark, SF)
    return t.groupBy("id_usuario_pagador").agg(
        F.sum(exact._d(F.col("valor_transacao"))).alias("total_dec")
    )


def _tx_values(spark):
    """A bigger frame (one row per transaction) with a unique bigint id."""
    from banking_streaming_etl_spark import datamodel

    return datamodel.transactions(spark, SF).select(
        F.col("id_transacao").alias("i"),
        F.col("valor_transacao").alias("v"),
    )


@pytest.mark.parametrize("rows_per_bucket", [2, 7, 10**6])
def test_global_row_number_matches_window(spark, rows_per_bucket):
    """Exact rank == row_number over the unpartitioned window, at forced
    multi-bucket granularities AND the degenerate single-bucket path."""
    df = _tx_values(spark)
    got = ranking.with_global_row_number(
        df, "v", "i", out="r", value_desc=False,
        rows_per_bucket=rows_per_bucket,
    ).select("i", "r")
    want = df.select(
        "i",
        F.row_number()
        .over(W.orderBy(F.asc("v"), F.asc("i")))
        .cast("bigint")
        .alias("r"),
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


@pytest.mark.parametrize("value_desc", [True, False])
@pytest.mark.parametrize("k", [3, 10])
def test_global_ntile_matches_window_ntile(spark, value_desc, k):
    df = _totals(spark)
    got = ranking.with_global_ntile(
        df, "total_dec", "id_usuario_pagador", k, out="nt",
        value_desc=value_desc, rows_per_bucket=3,
    ).select("id_usuario_pagador", "nt")
    order = (
        [F.desc("total_dec"), F.asc("id_usuario_pagador")]
        if value_desc
        else [F.asc("total_dec"), F.asc("id_usuario_pagador")]
    )
    want = df.select(
        "id_usuario_pagador",
        F.ntile(k).over(W.orderBy(*order)).alias("nt"),
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_ntile_closed_form_property():
    """ntile_from_rank reproduces SQL NTILE for every (N, k, rank) in an
    exhaustive small grid (pure arithmetic — checked in Python)."""
    def sql_ntile(r, n, k):
        q, rem = divmod(n, k)
        sizes = [q + 1] * rem + [q] * (k - rem)
        acc = 0
        for b, s in enumerate(sizes, start=1):
            acc += s
            if r <= acc:
                return b
        raise AssertionError("rank out of range")

    def closed_form(r, n, k):
        q, rem = divmod(n, k)
        cut = rem * (q + 1)
        if r <= cut:
            return (r + q) // (q + 1)
        qq = max(q, 1)
        return rem + (r - cut + qq - 1) // qq

    for n in range(1, 40):
        for k in (1, 2, 3, 7, 10, 64):
            for r in range(1, n + 1):
                assert closed_form(r, n, k) == sql_ntile(r, n, k), (r, n, k)


@pytest.mark.parametrize("rows_per_bucket", [3, 10**6])
def test_grouped_row_number_matches_partitioned_window(
    spark, rows_per_bucket
):
    """group_cols form: per-group rank == row_number over the
    group-PARTITIONED window, and _rank_n_total == the group size."""
    from banking_streaming_etl_spark import datamodel

    df = datamodel.transactions(spark, SF).select(
        F.col("modalidade_pagamento").alias("g"),
        F.col("id_transacao").alias("i"),
        F.col("valor_transacao").alias("v"),
    )
    got = ranking.with_global_row_number(
        df, "v", "i", out="r", group_cols=["g"],
        rows_per_bucket=rows_per_bucket,
    ).select("g", "i", "r", "_rank_n_total")
    w = W.partitionBy("g").orderBy(F.asc("v"), F.asc("i"))
    want = df.select(
        "g",
        "i",
        F.row_number().over(w).cast("bigint").alias("r"),
        F.count("*")
        .over(W.partitionBy("g"))
        .cast("bigint")
        .alias("_rank_n_total"),
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_global_rank_property_arbitrary_frames(spark):
    """Property test over arbitrary small frames (duplicates, negatives,
    skewed runs of one value): the distributed rank at an adversarial
    2-rows-per-bucket granularity equals Python's sorted rank, for both
    directions."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        vals=st.lists(
            st.integers(-50, 50), min_size=1, max_size=40
        ),
        desc=st.booleans(),
    )
    def run(vals, desc):
        df = spark.createDataFrame(
            [(i, float(v)) for i, v in enumerate(vals)], "i long, v double"
        )
        got = {
            r.i: r.r
            for r in ranking.with_global_row_number(
                df, "v", "i", out="r", value_desc=desc, rows_per_bucket=2
            ).collect()
        }
        order = sorted(
            range(len(vals)),
            key=lambda i: (-vals[i] if desc else vals[i], i),
        )
        want = {i: pos + 1 for pos, i in enumerate(order)}
        assert got == want

    run()


def test_global_row_number_survives_empty_sample(spark, monkeypatch):
    """Degenerate boundary sample (thr floored to its minimum selects ~0
    rows — the n > M31 * k_s regime at 100 TB+): ranks must DEGRADE to a
    single bucket, never to an empty or wrong result."""
    monkeypatch.setattr(ranking, "RANK_SAMPLE_MULT", 0)
    df = _tx_values(spark)
    got = ranking.with_global_row_number(df, "v", "i", out="r")
    n = df.count()
    assert got.count() == n
    agg = got.agg(
        F.min("r").alias("lo"), F.max("r").alias("hi"),
        F.countDistinct("r").alias("d"),
    ).first()
    assert (agg.lo, agg.hi, agg.d) == (1, n, n)


def test_global_row_number_empty_frame(spark):
    df = _tx_values(spark).filter(F.lit(False))
    out = ranking.with_global_row_number(df, "v", "i", out="r")
    assert out.count() == 0


def test_negative_ids_keep_bounded_sample_and_exact_ranks(spark):
    """Round-5 advice fix: a NEGATIVE id_col must still face the bounded
    sampler threshold (pmod of the signed LCG hash). Before the fix every
    negative-id row's raw hash was negative, passed `< thr`
    unconditionally, and the boundary collect_list swallowed the whole
    frame — the exact single-task blowup the operator exists to avoid.
    Pin both the sample bound and rank exactness on an all-negative-id
    frame."""
    rows = [(-(i + 1), float((i * 37) % 101)) for i in range(300)]
    df = spark.createDataFrame(rows, "i long, v double")

    # bounded-sample pin: the boundary aggregate's input (the sampled
    # frame) must stay ~16*sqrt(N), nowhere near N
    nv, ni = ranking._rank_key(df, "v", "i", False)
    keyed = df.withColumn("_rk_v", nv).withColumn("_rk_i", ni)
    hashed = keyed.select(
        F.pmod(
            ranking.portable.lcg_hash(ni), F.lit(ranking.portable.M31)
        ).alias("h")
    )
    assert hashed.filter(F.col("h") < 0).count() == 0

    got = {
        r.i: r.r
        for r in ranking.with_global_row_number(
            df, "v", "i", out="r", rows_per_bucket=7
        ).collect()
    }
    order = sorted(range(300), key=lambda j: (rows[j][1], rows[j][0]))
    want = {rows[j][0]: pos + 1 for pos, j in enumerate(order)}
    assert got == want


def test_grouped_form_enforces_max_groups(spark):
    """Round-5 verdict task #4: the grouped form's broadcast-sized group
    cardinality precondition is ENFORCED at execution — more groups than
    `max_groups` must fail loudly with the named bound, not silently
    build a huge broadcast."""
    df = spark.createDataFrame(
        [(i % 10, i, float(i)) for i in range(100)],
        "g int, i long, v double",
    )
    guarded = ranking.with_global_row_number(
        df, "v", "i", out="r", group_cols=["g"], max_groups=3
    )
    with pytest.raises(Exception, match="max_groups"):
        guarded.count()
    # and the same cardinality passes when the bound admits it
    ok = ranking.with_global_row_number(
        df, "v", "i", out="r", group_cols=["g"], max_groups=10
    )
    assert ok.count() == 100

@pytest.mark.parametrize("nulls", ["first", "last"])
@pytest.mark.parametrize("value_desc", [True, False])
def test_null_policy_matches_window(spark, nulls, value_desc):
    """Round-6 verdict task #6: explicit NULL semantics. `nulls="first"`
    must equal the window with nulls-first value ordering, `"last"` the
    nulls-last one — for BOTH directions, at a forced multi-bucket
    granularity, with several null rows competing on the id tiebreak."""
    rows = [
        (i, None if i % 5 == 0 else float((i * 13) % 23)) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "i long, v double")
    got = ranking.with_global_row_number(
        df, "v", "i", out="r", value_desc=value_desc,
        rows_per_bucket=4, nulls=nulls,
    ).select("i", "r")
    vcol = {
        (False, "first"): F.asc_nulls_first("v"),
        (False, "last"): F.asc_nulls_last("v"),
        (True, "first"): F.desc_nulls_first("v"),
        (True, "last"): F.desc_nulls_last("v"),
    }[(value_desc, nulls)]
    want = df.select(
        "i",
        F.row_number()
        .over(W.orderBy(vcol, F.asc("i")))
        .cast("bigint")
        .alias("r"),
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_null_policy_reject_fails_loudly_and_passes_clean(spark):
    """`nulls="reject"` raises on the first NULL rank value (assert_true
    guard — no silent rank-1 null) and is a no-op on null-free input."""
    dirty = spark.createDataFrame(
        [(1, 1.0), (2, None), (3, 3.0)], "i long, v double"
    )
    with pytest.raises(Exception, match="NULL value in rank column"):
        ranking.with_global_row_number(
            dirty, "v", "i", out="r", nulls="reject"
        ).count()
    clean = spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, 3.0)], "i long, v double"
    )
    got = ranking.with_global_row_number(
        clean, "v", "i", out="r", nulls="reject"
    )
    assert sorted((r.i, r.r) for r in got.collect()) == [
        (1, 1), (2, 2), (3, 3)
    ]
    with pytest.raises(ValueError, match="nulls must be"):
        ranking.with_global_row_number(clean, "v", "i", nulls="bogus")


def test_null_policy_grouped_form(spark):
    """Null policy composes with group_cols: per-group nulls-last ranks
    match the group-partitioned nulls-last window."""
    rows = []
    for i in range(80):
        rows.append((i % 4, i, None if i % 7 == 0 else float(i % 11)))
    df = spark.createDataFrame(rows, "g int, i long, v double")
    got = ranking.with_global_row_number(
        df, "v", "i", out="r", group_cols=["g"], rows_per_bucket=5,
        nulls="last",
    ).select("g", "i", "r")
    w = W.partitionBy("g").orderBy(F.asc_nulls_last("v"), F.asc("i"))
    want = df.select(
        "g", "i", F.row_number().over(w).cast("bigint").alias("r")
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

@pytest.mark.parametrize("value_desc", [True, False])
@pytest.mark.parametrize("rows_per_bucket", [4, 10**6])
def test_global_cumsum_matches_window(spark, value_desc, rows_per_bucket):
    """with_global_cumsum == SUM OVER (ORDER BY v, i ROWS UNBOUNDED
    PRECEDING) + row_number, bit-identical decimals, at forced
    multi-bucket granularity AND the degenerate single bucket."""
    from decimal import Decimal

    rows = [
        (i, float((i * 13) % 23), Decimal(str((i * 7) % 11)))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "i long, v double, w decimal(10,2)")
    got = ranking.with_global_cumsum(
        df, "v", "i", "w", out="c", rank_out="r",
        value_desc=value_desc, rows_per_bucket=rows_per_bucket,
    ).select("i", "r", "c")
    order = [F.desc("v"), F.asc("i")] if value_desc else [
        F.asc("v"), F.asc("i")
    ]
    w = W.orderBy(*order)
    want = df.select(
        "i",
        F.row_number().over(w).cast("bigint").alias("r"),
        F.sum(F.col("w").cast(ranking.DEC38))
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("c"),
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_global_cumsum_grouped_and_totals(spark):
    """group_cols form: per-group running sums match the partitioned
    window, _cumsum_total is the exact per-group grand total and
    _rank_n_total the group size."""
    from decimal import Decimal

    rows = [
        (i % 3, i, float(i % 7), Decimal(str(i % 5)))
        for i in range(90)
    ]
    df = spark.createDataFrame(
        rows, "g int, i long, v double, w decimal(10,2)"
    )
    got = ranking.with_global_cumsum(
        df, "v", "i", "w", out="c", group_cols=["g"], rows_per_bucket=5,
    ).select("g", "i", "c", "_cumsum_total", "_rank_n_total")
    w = W.partitionBy("g").orderBy(F.asc("v"), F.asc("i"))
    wg = W.partitionBy("g")
    want = df.select(
        "g",
        "i",
        F.sum(F.col("w").cast(ranking.DEC38))
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("c"),
        F.sum(F.col("w").cast(ranking.DEC38)).over(wg)
        .cast(ranking.DEC38).alias("_cumsum_total"),
        F.count("*").over(wg).cast("bigint").alias("_rank_n_total"),
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_overlap_checkpoint_modes_identical(spark):
    """overlap_checkpoint (round-14 optimization: concurrent eager
    materialization of independent ranking passes, guide §2.6) must not
    move a single value — the overlapped checkpointed frames carry
    exactly the rows the sequential lazy build produces, for any number
    of frames (the <2 eager path included)."""
    df = _tx_values(spark)
    passes = [
        ranking.with_global_row_number(
            df, "v", "i", out="r", rows_per_bucket=7
        ).select("i", "r"),
        ranking.with_global_ntile(
            df, "v", "i", 5, out="q", rows_per_bucket=7
        ).select("i", "q"),
        ranking.with_global_cumsum(
            df, "v", "i", "v", out="c", rows_per_bucket=7
        ).select("i", "c"),
    ]
    want = [sorted(tuple(r) for r in f.collect()) for f in passes]
    got3 = ranking.overlap_checkpoint(passes)
    assert [sorted(tuple(r) for r in f.collect()) for f in got3] == want
    got1 = ranking.overlap_checkpoint(passes[:1])
    assert sorted(tuple(r) for r in got1[0].collect()) == want[0]


def test_multi_weight_cumsum_matches_single_passes(spark):
    """The round-15 multi-weight form (weight_col/out as lists) computes
    every listed running total in ONE bucketize/window/offsets pass —
    each output must be bit-identical to its own single-weight call."""
    from banking_streaming_etl_spark import datamodel

    df = datamodel.transactions(spark, SF).select(
        F.col("id_transacao").alias("i"),
        F.col("valor_transacao").alias("v"),
        (F.col("valor_transacao") * F.lit(2.0)).alias("w2"),
    )
    fused = ranking.with_global_cumsum(
        df, "v", "i", ["v", "w2"], out=["c1", "c2"], rows_per_bucket=7
    ).select("i", "c1", "c2")
    s1 = ranking.with_global_cumsum(
        df, "v", "i", "v", out="c1", rows_per_bucket=7
    ).select("i", "c1")
    s2 = ranking.with_global_cumsum(
        df, "v", "i", "w2", out="c2", rows_per_bucket=7
    ).select("i", "c2")
    want = s1.join(s2, "i")
    assert fused.exceptAll(want).count() == 0
    assert want.exceptAll(fused).count() == 0
    with pytest.raises(ValueError, match="length mismatch"):
        ranking.with_global_cumsum(df, "v", "i", ["v", "w2"], out="c1")


def test_rank_input_pin_lru_cap(spark, monkeypatch):
    """The RANK_PIN_CAP LRU (round-15): ranking builds beyond the cap
    unpersist the OLDEST pinned input's blocks — the registry stays
    bounded, the newest pins keep their storage, and the evicted RDD's
    storage level drops to non-cached."""
    monkeypatch.setattr(ranking, "RANK_PIN_CAP", 2)
    ranking._PIN_LRU.clear()
    df = _tx_values(spark)
    frames = []
    for j in range(3):
        f = ranking.with_global_row_number(
            df.withColumn("j", F.lit(j)), "v", "i", out="r",
            rows_per_bucket=7,
        )
        f.count()  # materialize so the pin's blocks actually exist
        frames.append(f)
    assert len(ranking._PIN_LRU) == 2
    rdds = list(ranking._PIN_LRU.values())
    # the two survivors keep their MEMORY_AND_DISK pin
    for rdd in rdds:
        assert rdd.getStorageLevel().useMemory()
    # the newest two frames stay fully usable after the eviction
    for f in frames[1:]:
        assert f.count() > 0


def test_rank_plan_fails_loudly_after_its_pin_is_evicted(spark, monkeypatch):
    """The eviction hazard the LRU trades for bounded storage: a ranking
    plan followed by more than RANK_PIN_CAP ranking builds has lost its
    input pin, and its next action must fail loudly — never return
    values from a silently recomputed or partial input. A plan that ran
    before the eviction misses its checkpoint blocks; a plan built but
    never run cannot checkpoint the released RDD at all."""
    monkeypatch.setattr(ranking, "RANK_PIN_CAP", 2)
    ranking._PIN_LRU.clear()
    df = _tx_values(spark)

    def build(j):
        return ranking.with_global_row_number(
            df.withColumn("j", F.lit(j)), "v", "i", out="r",
            rows_per_bucket=7,
        )

    ran = build(-2)
    ran.count()
    never_ran = build(-1)
    for j in range(2):
        build(j)
    with pytest.raises(Exception, match="Checkpoint block .* not found"):
        ran.count()
    with pytest.raises(
        Exception, match="is not appropriate for local checkpointing"
    ):
        never_ran.count()


@pytest.mark.parametrize("rows_per_bucket", [2, 7, 10**6])
def test_global_lag_matches_window_lag(spark, rows_per_bucket):
    """with_global_lag (round-15) == LAG over the unpartitioned window,
    at forced multi-bucket granularities (bucket-boundary patch rows
    included) and the degenerate single-bucket path."""
    df = _tx_values(spark)
    got = ranking.with_global_lag(
        df, "v", "i", out="p", rows_per_bucket=rows_per_bucket
    ).select("i", "p")
    want = df.select(
        "i",
        F.lag("v").over(W.orderBy(F.asc("v"), F.asc("i"))).alias("p"),
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_global_lag_grouped_of_col_with_nulls(spark):
    """Grouped form + a DIFFERENT of_col carrying NULLs: a NULL
    predecessor VALUE must stay NULL (the boundary patch keys on bucket
    position, never on NULL-ness), matching the partitioned LAG."""
    from banking_streaming_etl_spark import datamodel

    df = datamodel.transactions(spark, SF).select(
        F.col("id_transacao").alias("i"),
        F.col("modalidade_pagamento").alias("g"),
        F.col("valor_transacao").alias("v"),
        # NULL for every third row: predecessors with NULL payloads
        F.when(F.col("id_transacao") % 3 != 0, F.col("id_usuario_pagador"))
        .alias("payload"),
    )
    got = ranking.with_global_lag(
        df, "v", "i", out="p", of_col="payload", group_cols=["g"],
        rows_per_bucket=5,
    ).select("i", "p")
    want = df.select(
        "i",
        F.lag("payload")
        .over(W.partitionBy("g").orderBy(F.asc("v"), F.asc("i")))
        .alias("p"),
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

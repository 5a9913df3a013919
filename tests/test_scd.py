"""SCD2 merge emulation + streaming CDC upserts."""

from __future__ import annotations

from pyspark.sql import functions as F

from banking_streaming_etl_spark import datamodel
from banking_streaming_etl_spark.operators import scd
from banking_streaming_etl_spark.sources import stream as stream_src

SF = "/root/testdata/sf0.001"
T0 = "2024-01-01 00:00:00"
T1 = "2024-02-01 00:00:00"


def test_scd2_apply(spark):
    users = datamodel.users(spark, SF).select(
        "id_usuario", "id_regiao_u", "saldo"
    )
    history = scd.scd2_init(users, T0)

    # every 10th user gets a new balance; everyone else unchanged
    updates = users.withColumn(
        "saldo",
        F.when(F.col("id_usuario") % 10 == 0, F.col("saldo") + 500.0).otherwise(
            F.col("saldo")
        ),
    )
    out = scd.scd2_apply(
        history, updates, "id_usuario", T1, compare_cols=["saldo"]
    ).cache()

    n_users = users.count()
    n_changed = users.filter(F.col("id_usuario") % 10 == 0).count()
    assert out.count() == n_users + n_changed
    # one current row per user
    cur = out.filter("is_current")
    assert cur.count() == n_users
    # changed users: current row carries the new balance, old row is closed
    changed_cur = cur.filter(F.col("id_usuario") % 10 == 0).first()
    assert str(changed_cur.valid_from).startswith("2024-02-01")
    closed = out.filter(~F.col("is_current"))
    assert closed.count() == n_changed
    assert {str(r.valid_to)[:10] for r in closed.collect()} == {"2024-02-01"}
    # unchanged users keep their original version
    unchanged = cur.filter(F.col("id_usuario") % 10 != 0).first()
    assert str(unchanged.valid_from).startswith("2024-01-01")
    # applying the SAME updates again is a no-op (idempotent merge)
    again = scd.scd2_apply(
        out, updates, "id_usuario", T1, compare_cols=["saldo"]
    )
    assert again.count() == out.count()


def test_scd2_inserts_new_keys(spark):
    """A key with no history row (newly registered dimension member) must
    be inserted as a new current version, not silently dropped."""
    users = datamodel.users(spark, SF).select(
        "id_usuario", "id_regiao_u", "saldo"
    )
    history = scd.scd2_init(users, T0)
    newbie = spark.createDataFrame(
        [(999_999, 3, 1234.5)], ["id_usuario", "id_regiao_u", "saldo"]
    )
    out = scd.scd2_apply(
        history, users.unionByName(newbie), "id_usuario", T1,
        compare_cols=["saldo"],
    )
    r = out.filter(F.col("id_usuario") == 999_999).collect()
    assert len(r) == 1
    assert r[0].is_current and str(r[0].valid_from).startswith("2024-02-01")
    assert out.count() == users.count() + 1  # nothing else changed


def test_cdc_upsert_stream_matches_batch_last_value(spark, tmp_path):
    d = str(tmp_path / "chunks")
    stream_src.write_replay_chunks(spark, SF, d, n_chunks=4)
    tx = stream_src.read_transaction_stream(
        spark, d, max_files_per_trigger=1
    ).select("id_usuario_pagador", "data_horario", "id_transacao", "valor_transacao")

    sink = scd.CdcUpsertSink(
        str(tmp_path / "snapshot"),
        key="id_usuario_pagador",
        ts_col="data_horario",
        tiebreak="id_transacao",
    )
    q = (
        tx.writeStream.outputMode("append")
        .foreachBatch(sink.write_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    snap = {
        (r.id_usuario_pagador, r.id_transacao)
        for r in sink.read(spark).collect()
    }
    from pyspark.sql import Window as W

    w = W.partitionBy("id_usuario_pagador").orderBy(
        F.desc("data_horario"), F.desc("id_transacao")
    )
    want = {
        (r.id_usuario_pagador, r.id_transacao)
        for r in datamodel.transactions(spark, SF)
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .collect()
    }
    assert snap == want


def test_snapshot_as_of_replay_semantics(spark):
    """The time-travel contract, case by case: AS OF 1 hides every
    deleted key and ignores ALL epoch-2 records; AS OF 2 resurrects
    exactly the re-upserted subset (at its new balance) and adds the
    offset keys; base rows carry their true effective epoch."""
    base = {
        r.id_usuario: r.saldo
        for r in datamodel.users(spark, SF)
        .select("id_usuario", F.col("saldo").cast("double").alias("saldo"))
        .collect()
    }
    out = scd.snapshot_as_of(spark, SF).collect()
    s1 = {r.id_usuario: r for r in out if r.as_of == 1}
    s2 = {r.id_usuario: r for r in out if r.as_of == 2}

    deleted = {i for i in base if i % scd.TT_DELETE_MOD == 3}
    resurrected = {i for i in base if i % scd.TT_RESURRECT_MOD == 3}
    assert deleted and resurrected < deleted

    # AS OF 1: deletions applied, no epoch-2 content
    assert set(s1) == set(base) - deleted
    assert all(r.epoch_efetiva <= 1 for r in s1.values())
    for i, r in s1.items():
        if i % scd.TT_UPSERT_MOD == 0:
            assert (r.saldo, r.epoch_efetiva) == (base[i] + 500.0, 1)
        else:
            assert (r.saldo, r.epoch_efetiva) == (base[i], 0)

    # AS OF 2: resurrection + new offset keys, still-deleted rest
    new_keys = {
        i + scd.DIFF_ADD_OFFSET for i in base if i % scd.DIFF_ADD_MOD == 0
    }
    assert set(s2) == (set(base) - (deleted - resurrected)) | new_keys
    for i in resurrected:
        assert (s2[i].saldo, s2[i].epoch_efetiva) == (base[i] * 2.0, 2)
    for i in new_keys:
        orig = i - scd.DIFF_ADD_OFFSET
        assert (s2[i].saldo, s2[i].epoch_efetiva) == (base[orig] * 0.5, 2)


def test_snapshot_as_of_over_streamed_cdc_history(spark, tmp_path):
    """Composition proof: stream the epoch-keyed CDC log through the
    epoch-retaining idempotent parquet sink (one micro-batch per CDC
    epoch file), then run the time-travel read over the RETAINED
    history — every as-of reconstruction must equal the batch replay
    exactly. This is the production shape: the history accretes via
    streaming ingestion, and VERSION-AS-OF reads never touch the
    source."""
    import os

    from banking_streaming_etl_spark.streaming import sinks as ssinks

    log = scd._tt_cdc_log(spark, SF)
    src_dir = str(tmp_path / "cdc_src")
    os.makedirs(src_dir)
    # one PARQUET chunk per CDC epoch -> one micro-batch each (binary
    # serialization: a JSON text round-trip would re-round the doubles)
    import glob
    import shutil

    for e in (0, 1, 2):
        stage = str(tmp_path / f"cdc_stage_{e}")
        log.filter(F.col("epoch") == e).coalesce(1).write.parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        shutil.copy(part, os.path.join(src_dir, f"epoch_{e}.parquet"))

    cdc_stream = (
        spark.readStream.format("parquet")
        .schema("id_usuario long, saldo double, epoch int, op string")
        .option("maxFilesPerTrigger", 1)
        .load(src_dir)
    )
    sink = ssinks.IdempotentParquetSink(
        str(tmp_path / "cdc_history"),
        columns=["id_usuario", "saldo", "epoch", "op"],
    )
    q = ssinks.start_foreach_batch(
        cdc_stream, sink.write_batch, str(tmp_path / "cdc_ck")
    )
    q.processAllAvailable()
    q.stop()

    history = sink.read(spark).drop("batch_id")
    assert history.count() == log.count()
    for e in scd.TT_AS_OFS:
        got = {tuple(r) for r in scd.as_of_snapshot(history, e).collect()}
        want = {tuple(r) for r in scd.as_of_snapshot(log, e).collect()}
        assert got and got == want, e

"""Stateful streaming ops (JVM-native) + idempotent sink + CSV roundtrips."""

from __future__ import annotations

from pyspark.sql import functions as F

from banking_streaming_etl_spark import datamodel
from banking_streaming_etl_spark.sources import batch as batch_src
from banking_streaming_etl_spark.sources import stream as stream_src
from banking_streaming_etl_spark.streaming import pipeline as spipe
from banking_streaming_etl_spark.streaming import sinks, stateful

SF = "/root/testdata/sf0.001"


import pytest


@pytest.fixture(scope="module")
def module_replay_dir(spark):
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix="replay_sinks_")
    stream_src.write_replay_chunks(spark, SF, d, n_chunks=4)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _approval_stream(spark, replay_dir):
    tx = stream_src.read_transaction_stream(spark, replay_dir)
    return spipe.approval_stream(
        tx, datamodel.users(spark, SF), datamodel.regions(spark, SF)
    )


def test_last_tx_per_user_matches_batch(spark, module_replay_dir):
    out = stateful.last_tx_per_user(
        _approval_stream(spark, module_replay_dir)
    )
    q = (
        out.writeStream.outputMode("complete")
        .format("memory")
        .queryName("last_tx")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.id_usuario_pagador, r.id_transacao)
        for r in spark.sql("SELECT * FROM last_tx").collect()
    }
    from banking_streaming_etl_spark.plans.approval import approval_pipeline
    from pyspark.sql import Window as W

    w = W.partitionBy("id_usuario_pagador").orderBy(
        F.desc("data_horario"), F.desc("id_transacao")
    )
    want = {
        (r.id_usuario_pagador, r.id_transacao)
        for r in approval_pipeline(spark, SF)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    }
    assert got == want


def test_running_user_totals(spark, module_replay_dir):
    out = stateful.running_user_totals(
        _approval_stream(spark, module_replay_dir)
    )
    q = (
        out.writeStream.outputMode("complete")
        .format("memory")
        .queryName("user_totals")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    total = spark.sql(
        "SELECT sum(total_transacoes) AS n FROM user_totals"
    ).first()
    assert total.n == 1000


def test_idempotent_sink_replay_no_duplicates(spark, tmp_path):
    sink = sinks.IdempotentParquetSink(str(tmp_path / "out"))
    batch = datamodel.transactions(spark, SF).limit(100)
    sink.write_batch(batch, epoch_id=7)
    n1 = sink.read(spark).count()
    # replay the same epoch (simulating a post-failure retry) -> overwritten
    sink.write_batch(batch, epoch_id=7)
    n2 = sink.read(spark).count()
    assert n1 == n2 == 100
    # a NEW epoch appends
    sink.write_batch(batch, epoch_id=8)
    assert sink.read(spark).count() == 200


def test_idempotent_streaming_end_to_end(spark, tmp_path, module_replay_dir):
    out = _approval_stream(spark, module_replay_dir)
    sink = sinks.IdempotentParquetSink(
        str(tmp_path / "hist"), columns=["id_transacao", "transacao_aprovada"]
    )
    q = sinks.start_foreach_batch(
        out, sink.write_batch, str(tmp_path / "ckpt")
    )
    q.processAllAvailable()
    q.stop()
    df = spark.read.parquet(str(tmp_path / "hist"))
    assert df.count() == 1000
    assert df.select("id_transacao").distinct().count() == 1000
    assert "batch_id" in df.columns


def test_csv_roundtrip(spark, tmp_path):
    t = datamodel.transactions(spark, SF).limit(50)
    path = str(tmp_path / "csv_out")
    sinks.write_csv(t, path)
    back = batch_src.read_csv(spark, path, schema=t.schema)
    assert back.count() == 50
    assert {r.id_transacao for r in back.collect()} == {
        r.id_transacao for r in t.collect()
    }


def test_csv_stream_sink(spark, tmp_path, module_replay_dir):
    tx = stream_src.read_transaction_stream(spark, module_replay_dir).select(
        "id_transacao", "modalidade_pagamento", "valor_transacao"
    )
    q = sinks.start_csv_stream_sink(
        tx, str(tmp_path / "csv_stream"), str(tmp_path / "csv_ckpt")
    )
    q.processAllAvailable()
    q.stop()
    back = spark.read.option("header", "true").csv(str(tmp_path / "csv_stream"))
    assert back.count() == 1000


def test_compact_parquet_preserves_content_and_bounds_files(spark, tmp_path):
    """Compaction: many tiny epoch files -> few bounded, range-clustered
    files with identical content and selective row-group stats."""
    from banking_streaming_etl_spark import datamodel
    from banking_streaming_etl_spark.streaming import sinks

    src = str(tmp_path / "fragmented")
    t = datamodel.transactions(spark, "/root/testdata/sf0.001")
    # simulate streaming fragmentation: 40 files for 1k rows
    t.repartition(40).write.mode("overwrite").parquet(src)
    import glob

    assert len(glob.glob(f"{src}/part-*.parquet")) == 40

    dst = str(tmp_path / "compacted")
    n_files = sinks.compact_parquet(
        spark, src, dst, sort_cols=["data_horario"], target_file_rows=600
    )
    assert n_files == 2  # 1000 rows / 600 cap -> 2 range partitions

    a = spark.read.parquet(src).orderBy("id_transacao").collect()
    b = spark.read.parquet(dst).orderBy("id_transacao").collect()
    assert a == b

    # clustering: the two files' data_horario ranges must not overlap
    # (range partitioning guarantees disjoint key ranges per file)
    ranges = []
    for f in sorted(glob.glob(f"{dst}/part-*.parquet")):
        row = (
            spark.read.parquet(f)
            .agg(
                F.min("data_horario").alias("lo"),
                F.max("data_horario").alias("hi"),
            )
            .collect()[0]
        )
        ranges.append((row.lo, row.hi))
    ranges.sort()
    assert ranges[0][1] <= ranges[1][0]


def test_restart_from_checkpoint_is_exactly_once(
    spark, tmp_path, module_replay_dir
):
    """Kill the query mid-stream and restart it on the SAME checkpoint:
    the restarted query must resume from the committed offset (not
    re-read from scratch), and the epoch-keyed sink must land every
    record exactly once — the crash-recovery contract checkpointing
    exists to provide."""
    import time

    # a finer-grained replay (8 chunks, 1 file per trigger) so the kill
    # reliably lands mid-stream
    replay = str(tmp_path / "chunks8")
    stream_src.write_replay_chunks(spark, SF, replay, n_chunks=8)

    def start():
        tx = stream_src.read_transaction_stream(
            spark, replay, max_files_per_trigger=1
        )
        out = spipe.approval_stream(
            tx, datamodel.users(spark, SF), datamodel.regions(spark, SF)
        )
        sink = sinks.IdempotentParquetSink(
            str(tmp_path / "hist"), columns=["id_transacao", "transacao_aprovada"]
        )
        return sinks.start_foreach_batch(
            out, sink.write_batch, str(tmp_path / "ckpt")
        )

    q1 = start()
    # let at least one micro-batch commit, then kill mid-stream
    deadline = time.time() + 60
    while time.time() < deadline:
        if any(p["batchId"] >= 0 for p in q1.recentProgress):
            break
        time.sleep(0.2)
    q1.stop()
    partial = spark.read.parquet(str(tmp_path / "hist")).count()
    assert partial < 1000  # genuinely mid-stream

    q2 = start()
    q2.processAllAvailable()
    q2.stop()
    df = spark.read.parquet(str(tmp_path / "hist"))
    assert df.count() == 1000
    assert df.select("id_transacao").distinct().count() == 1000


def test_materialized_view_replay_and_compact(spark, tmp_path):
    """Additive-aggregate materialized view: a replayed epoch must NOT
    double-add (delta overwritten, not appended), the folded view must
    equal the batch groupBy bit-for-bit, and compact() must preserve it."""
    view = sinks.MaterializedAggregateView(
        str(tmp_path / "mv"), "modalidade_pagamento", "valor_transacao"
    )
    tx = datamodel.transactions(spark, SF)
    half1 = tx.filter("id_transacao % 2 = 0")
    half2 = tx.filter("id_transacao % 2 = 1")
    view.write_batch(half1, epoch_id=0)
    view.write_batch(half1, epoch_id=0)  # post-failure replay
    view.write_batch(half2, epoch_id=1)

    got = {
        (r.modalidade_pagamento, r.n, r.soma)
        for r in view.read(spark).collect()
    }
    from banking_streaming_etl_spark.functions import exact

    want = {
        (r.modalidade_pagamento, r.n, r.soma)
        for r in tx.groupBy("modalidade_pagamento")
        .agg(
            F.count("*").alias("n"),
            exact.exact_sum("valor_transacao", "soma"),
        )
        .collect()
    }
    assert got == want

    view.compact(spark)
    after = {
        (r.modalidade_pagamento, r.n, r.soma)
        for r in view.read(spark).collect()
    }
    assert after == want
    assert (
        spark.read.parquet(str(tmp_path / "mv"))
        .select("batch_id").distinct().count() == 1
    )

    # epochs arriving AFTER a compaction must append to the folded state
    # (a mixed partitioned/unpartitioned layout would silently drop the
    # compacted history from partition discovery)
    view.write_batch(half1, epoch_id=2)
    grown = {r.modalidade_pagamento: r.n for r in view.read(spark).collect()}
    base = {r.modalidade_pagamento: r.n for r in tx.groupBy(
        "modalidade_pagamento").agg(F.count("*").alias("n")).collect()}
    extra = {r.modalidade_pagamento: r.n for r in half1.groupBy(
        "modalidade_pagamento").agg(F.count("*").alias("n")).collect()}
    assert grown == {k: base[k] + extra.get(k, 0) for k in base}


def test_materialized_view_streaming_end_to_end(spark, tmp_path, module_replay_dir):
    """The streaming materialized view over the replayed events equals the
    batch aggregate of the same data."""
    from banking_streaming_etl_spark.sources import stream as stream_src

    tx = stream_src.read_transaction_stream(spark, module_replay_dir)
    view = sinks.MaterializedAggregateView(
        str(tmp_path / "mv"), "modalidade_pagamento", "valor_transacao"
    )
    q = sinks.start_foreach_batch(tx, view.write_batch, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()

    got = {
        (r.modalidade_pagamento, r.n, r.soma)
        for r in view.read(spark).collect()
    }
    from banking_streaming_etl_spark.functions import exact

    want = {
        (r.modalidade_pagamento, r.n, r.soma)
        for r in datamodel.transactions(spark, SF)
        .groupBy("modalidade_pagamento")
        .agg(
            F.count("*").alias("n"),
            exact.exact_sum("valor_transacao", "soma"),
        )
        .collect()
    }
    assert got == want


def test_materialized_view_recovers_interrupted_compact(spark, tmp_path):
    """A compact() crash between the rename-aside and the promote leaves
    (no live dir, complete `__old` backup). The next read/write_batch
    must restore the backup — NOT silently recreate an empty view."""
    import os
    import shutil

    mv = str(tmp_path / "mv")
    view = sinks.MaterializedAggregateView(
        mv, "modalidade_pagamento", "valor_transacao"
    )
    tx = datamodel.transactions(spark, SF)
    view.write_batch(tx, epoch_id=0)
    want = {
        (r.modalidade_pagamento, r.n, r.soma)
        for r in view.read(spark).collect()
    }

    # simulate the crash window: live dir renamed aside, stray temp left
    os.rename(mv, mv + "__old")
    os.makedirs(mv + "__compact")

    recovered = {
        (r.modalidade_pagamento, r.n, r.soma)
        for r in view.read(spark).collect()
    }
    assert recovered == want
    assert not os.path.exists(mv + "__old")
    assert not os.path.exists(mv + "__compact")

    # and write_batch on the crashed state appends instead of restarting
    os.rename(mv, mv + "__old")
    view.write_batch(tx, epoch_id=1)
    grown = {r.modalidade_pagamento: r.n for r in view.read(spark).collect()}
    doubled = {
        r.modalidade_pagamento: 2 * r.n
        for r in tx.groupBy("modalidade_pagamento")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert grown == doubled


def test_idempotent_sink_survives_midstream_kill_and_restart(
    spark, tmp_path, module_replay_dir
):
    """T5 under failure: stop the query after the FIRST micro-batch (a
    mid-stream 'crash'), restart from the same checkpoint, drain, then
    restart once more with no new data — the epoch-keyed sink must end
    with exactly one row per transaction (no loss from the kill, no
    dupes from the replayed epoch, no dupes from the idle restart)."""
    import shutil
    import tempfile

    # private replay dir: the module fixture is shared across tests
    d = tempfile.mkdtemp(prefix="replay_kill_")
    try:
        shutil.copytree(module_replay_dir, d, dirs_exist_ok=True)
        hist = str(tmp_path / "hist")
        ckpt = str(tmp_path / "ckpt")

        def start():
            tx = stream_src.read_transaction_stream(
                spark, d, max_files_per_trigger=1
            )
            out = spipe.approval_stream(
                tx, datamodel.users(spark, SF), datamodel.regions(spark, SF)
            )
            sink = sinks.IdempotentParquetSink(
                hist, columns=["id_transacao", "transacao_aprovada"]
            )
            return sinks.start_foreach_batch(out, sink.write_batch, ckpt)

        q = start()
        # wait for at least one committed batch, then kill mid-stream
        import time

        deadline = time.time() + 60
        while time.time() < deadline:
            if any(
                int(p.get("numInputRows", 0) or 0) > 0
                for p in q.recentProgress
            ):
                break
            time.sleep(0.2)
        q.stop()

        q2 = start()
        q2.processAllAvailable()
        q2.stop()

        q3 = start()  # idle restart: nothing new to process
        q3.processAllAvailable()
        q3.stop()

        df = spark.read.parquet(hist)
        assert df.count() == 1000
        assert df.select("id_transacao").distinct().count() == 1000
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_quantile_sketch_store_survives_kill_and_restart(
    spark, tmp_path, module_replay_dir
):
    """The mergeable sketch store under failure: kill after the first
    committed micro-batch, restart from the same checkpoint (Spark
    replays the in-flight epoch — its delta OVERWRITES its own
    batch_id partition AND the fold is min-wise idempotent, a double
    safety), then an idle restart. The folded sample must equal the
    direct batch bottom-Q over all replayed rows exactly."""
    import shutil
    import tempfile
    import time

    from banking_streaming_etl_spark.plans import relational

    d = tempfile.mkdtemp(prefix="replay_qsk_kill_")
    try:
        shutil.copytree(module_replay_dir, d, dirs_exist_ok=True)
        store = sinks.QuantileSketchStore(str(tmp_path / "qsk_store"))
        ckpt = str(tmp_path / "qsk_ckpt")

        def start():
            tx = stream_src.read_transaction_stream(
                spark, d, max_files_per_trigger=1
            )
            return (
                tx.writeStream.outputMode("append")
                .foreachBatch(store.write_batch)
                .option("checkpointLocation", ckpt)
                .start()
            )

        q = start()
        deadline = time.time() + 60
        while time.time() < deadline:
            if any(
                int(p.get("numInputRows", 0) or 0) > 0
                for p in q.recentProgress
            ):
                break
            time.sleep(0.2)
        q.stop()

        q2 = start()
        q2.processAllAvailable()
        q2.stop()

        q3 = start()  # idle restart: nothing new to process
        q3.processAllAvailable()
        q3.stop()

        got = {
            (r.modalidade_pagamento, r.tid, r.v, r.h)
            for r in store.read_sample(spark).collect()
        }
        direct = sinks.QuantileSketchStore._bottom_q(
            relational._qsk_rows(spark, SF)
        )
        want = {
            (r.modalidade_pagamento, r.tid, r.v, r.h)
            for r in direct.collect()
        }
        assert got and got == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


# --- delta-join incremental view maintenance (round 14) ---------------------


def _ivm_batch_pairs(spark):
    """The full join the IVM view must equal: every (tx, same-payer
    high-value alert) pair."""
    from banking_streaming_etl_spark.plans.relational import IVM_ALERT_VALUE

    t = datamodel.transactions(spark, SF)
    left = t.select("id_usuario_pagador", "id_transacao", "valor_transacao")
    right = t.filter(F.col("valor_transacao") >= IVM_ALERT_VALUE).select(
        "id_usuario_pagador",
        F.col("id_transacao").alias("id_alerta"),
        F.col("valor_transacao").alias("valor_alerta"),
    )
    return left.join(right, "id_usuario_pagador")


def test_materialized_join_view_replay_fold_and_attribution(spark, tmp_path):
    """Delta-join IVM law: for an arbitrary 3-epoch chunking (plus a
    replayed epoch, and a first epoch with no alert rows), the folded
    view equals the batch join bit-for-bit, AND each pair sits in
    exactly the partition max(epoch_left, epoch_right) — the closed
    form the oracle-backed ivm_join_view_deltas query groups by."""
    from banking_streaming_etl_spark.plans.relational import IVM_ALERT_VALUE

    view = sinks.MaterializedJoinView(str(tmp_path / "jv"), "id_usuario_pagador")
    t = datamodel.transactions(spark, SF)

    def _split(df, epoch):
        chunk = df.filter(F.col("id_transacao") % 3 == epoch)
        left = chunk.select(
            "id_usuario_pagador", "id_transacao", "valor_transacao"
        )
        right = chunk.filter(
            F.col("valor_transacao") >= IVM_ALERT_VALUE
        ).select(
            "id_usuario_pagador",
            F.col("id_transacao").alias("id_alerta"),
            F.col("valor_transacao").alias("valor_alerta"),
        )
        return left, right

    # epoch 0 has no alert rows (chunk 0's alerts arrive with epoch 1):
    # its empty right delta still leaves a zero-row leaf, so the alert
    # store has epochs before it holds any alert
    left0, late_alerts = _split(t, 0)
    left1, right1 = _split(t, 1)
    epochs = [
        (left0, late_alerts.limit(0)),
        (left1, right1.unionByName(late_alerts)),
        _split(t, 2),
    ]
    for epoch, (left, right) in enumerate(epochs):
        view.write_batch(left, right, epoch_id=epoch)
        if epoch == 0:
            assert sinks._has_epochs(str(tmp_path / "jv" / "right"))
        if epoch == 1:  # post-failure replay must overwrite, not append
            view.write_batch(left, right, epoch_id=epoch)

    got = {
        (r.id_usuario_pagador, r.id_transacao, r.valor_transacao,
         r.id_alerta, r.valor_alerta)
        for r in view.read(spark).collect()
    }
    want = {
        (r.id_usuario_pagador, r.id_transacao, r.valor_transacao,
         r.id_alerta, r.valor_alerta)
        for r in _ivm_batch_pairs(spark).collect()
    }
    assert got == want and len(got) > 0

    # epoch-attribution: the partition each pair landed in is exactly
    # max(epoch(tx), epoch(alert)) = max(id%3, id_alerta%3, 1), an
    # alert's epoch being at least 1
    attributed = spark.read.parquet(str(tmp_path / "jv" / "view")).select(
        "batch_id",
        F.greatest(
            F.col("id_transacao") % 3, F.col("id_alerta") % 3, F.lit(1)
        ).alias("want_epoch"),
    )
    assert attributed.filter(
        F.col("batch_id") != F.col("want_epoch")
    ).count() == 0

    # compact() must preserve the view exactly (single folded partition)
    # and compacted history must still serve future epochs' delta joins:
    # re-ingesting epoch 0's rows as a NEW epoch 3 pairs them against
    # the full compacted alert history plus themselves, exactly as the
    # law dictates (left_3 x alerts_all  UNION  left_{<3} x alerts_3).
    view.compact(spark)
    after = {
        (r.id_usuario_pagador, r.id_transacao, r.valor_transacao,
         r.id_alerta, r.valor_alerta)
        for r in view.read(spark).collect()
    }
    assert after == want
    for d in ("left", "right", "view"):
        parts = (
            spark.read.parquet(str(tmp_path / "jv" / d))
            .select("batch_id").distinct().collect()
        )
        assert [p.batch_id for p in parts] == [-1], (d, parts)

    left3, right3 = _split(t, 0)
    view.write_batch(left3, right3, epoch_id=3)
    grown = view.read(spark).count()
    alerts_all = t.filter(F.col("valor_transacao") >= IVM_ALERT_VALUE)
    # expected growth: epoch-3 lefts x (all prior alerts + epoch-3
    # alerts) + prior lefts x epoch-3 alerts
    l3 = left3.select("id_usuario_pagador", "id_transacao")
    extra_a = l3.join(
        alerts_all.select("id_usuario_pagador",
                          F.col("id_transacao").alias("id_alerta"))
        .unionByName(right3.select("id_usuario_pagador", "id_alerta")),
        "id_usuario_pagador",
    ).count()
    extra_b = (
        t.select("id_usuario_pagador", "id_transacao")
        .join(right3.select("id_usuario_pagador", "id_alerta"),
              "id_usuario_pagador")
        .count()
    )
    assert grown == len(want) + extra_a + extra_b


def test_materialized_join_view_streaming_end_to_end(
    spark, tmp_path, module_replay_dir
):
    """The streaming delta-join view over the replayed transaction
    stream equals the batch join of the same data, for whatever
    micro-batch partitioning the file source chose; per-epoch deltas sum
    to the whole with no duplicates (exactly-once)."""
    tx = stream_src.read_transaction_stream(spark, module_replay_dir)
    q = sinks.start_materialized_join_view(
        tx,
        out_dir=str(tmp_path / "jv"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()

    view = sinks.MaterializedJoinView(str(tmp_path / "jv"), "id_usuario_pagador")
    got = {
        (r.id_usuario_pagador, r.id_transacao, r.id_alerta)
        for r in view.read(spark).collect()
    }
    want = {
        (r.id_usuario_pagador, r.id_transacao, r.id_alerta)
        for r in _ivm_batch_pairs(spark).collect()
    }
    assert got == want and len(got) > 0
    # no duplicate pairs across epoch partitions (the deltas PARTITION
    # the join — each pair materializes exactly once)
    n_rows = view.read(spark).count()
    assert n_rows == len(got)

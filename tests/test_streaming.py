"""Deterministic streaming tests via directory replay (the reference's own
S4 test pattern, src/teste2.py:21-24): serialize `transactions` to JSON
chunks, file-stream them through the pipeline, and compare against the
batch twin — batch/stream unification makes equality exact.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from banking_streaming_etl_spark import datamodel
from banking_streaming_etl_spark.plans.approval import approval_pipeline
from banking_streaming_etl_spark.sources import stream as stream_src
from banking_streaming_etl_spark.streaming import pipeline as spipe
from banking_streaming_etl_spark.streaming import windows as swin

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def replay_dir(spark):
    d = tempfile.mkdtemp(prefix="replay_")
    stream_src.write_replay_chunks(spark, SF, d, n_chunks=4)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _run_to_memory(df, name, mode="append"):
    q = (
        df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()


DETERMINISTIC_COLS = [
    "id_transacao",
    "id_usuario_pagador",
    "id_usuario_recebedor",
    "id_regiao",
    "modalidade_pagamento",
    "data_horario",
    "valor_transacao",
    "t5_score",
    "t6_score",
    "t7_score",
    "score_medio",
    "score_aprovado",
    "saldo_aprovado",
    "limite_aprovado",
    "transacao_aprovada",
]


def test_stream_matches_batch(spark, replay_dir):
    tx = stream_src.read_transaction_stream(spark, replay_dir)
    out = spipe.approval_stream(
        tx, datamodel.users(spark, SF), datamodel.regions(spark, SF)
    )
    _run_to_memory(out, "stream_out")

    got = spark.sql("SELECT * FROM stream_out")
    want = approval_pipeline(spark, SF)

    assert got.count() == want.count()
    g = {tuple(r) for r in got.select(*DETERMINISTIC_COLS).collect()}
    w = {tuple(r) for r in want.select(*DETERMINISTIC_COLS).collect()}
    assert g == w

    lat = got.agg(
        F.min("latencia_total_ms"), F.min("tempo_processamento_ms")
    ).collect()[0]
    assert lat[0] is not None and lat[0] >= 0
    assert lat[1] is not None and lat[1] >= 0


def test_tumbling_window_matches_batch(spark, replay_dir):
    tx = stream_src.read_transaction_stream(spark, replay_dir)
    agg = swin.tumbling_modality_counts(tx, "1 hour")
    _run_to_memory(agg, "tumbling_out", mode="complete")

    got = spark.sql(
        "SELECT hora, modalidade_pagamento, total_transacoes FROM tumbling_out"
    )
    want = (
        datamodel.transactions(spark, SF)
        .groupBy(
            F.date_trunc("hour", "data_horario").alias("hora"),
            "modalidade_pagamento",
        )
        .agg(F.count("*").alias("total_transacoes"))
    )
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}


def test_session_window_matches_batch_sessionization(spark, replay_dir):
    """session_window (streaming) and the batch lag+cumsum sessionization
    use the same 30-minute gap — for point events the (payer, session
    count, events-per-session multiset) must be identical."""
    from banking_streaming_etl_spark.plans.relational import sessionize_events

    tx = stream_src.read_transaction_stream(spark, replay_dir)
    sess = swin.session_window_per_payer(tx, gap="30 minutes")
    _run_to_memory(sess, "session_out", mode="complete")
    got = sorted(
        (r.id_usuario_pagador, r.eventos)
        for r in spark.sql("SELECT * FROM session_out").collect()
    )
    want = sorted(
        (r.id_usuario_pagador, r.eventos)
        for r in sessionize_events(spark, SF).collect()
    )
    assert got == want


def test_dedup_within_watermark(spark, replay_dir, tmp_path):
    # duplicate every row into a second copy of the chunks -> one batch
    dup_dir = str(tmp_path / "dup")
    spark.read.text(replay_dir).union(
        spark.read.text(replay_dir)
    ).write.mode("overwrite").text(dup_dir)

    tx = stream_src.read_transaction_stream(spark, dup_dir)
    deduped = swin.dedup_within_watermark(tx)
    _run_to_memory(deduped, "dedup_out")
    n = spark.sql("SELECT count(DISTINCT id_transacao) FROM dedup_out").collect()[0][0]
    total = spark.sql("SELECT count(*) FROM dedup_out").collect()[0][0]
    assert n == total == 1000


def test_foreach_batch_multisink(spark, replay_dir, tmp_path):
    tx = stream_src.read_transaction_stream(
        spark, replay_dir, max_files_per_trigger=2
    )
    out = spipe.approval_stream(
        tx, datamodel.users(spark, SF), datamodel.regions(spark, SF)
    )
    view = spipe.RecentTransactionsView(capacity=500)
    q = spipe.start_multi_sink(
        out,
        history_dir=str(tmp_path / "hist"),
        scores_dir=str(tmp_path / "scores"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        recent_view=view,
        recent_k=50,
    )
    q.processAllAvailable()
    q.stop()

    hist = spark.read.parquet(str(tmp_path / "hist"))
    scores = spark.read.parquet(str(tmp_path / "scores"))
    assert hist.count() == 1000
    assert scores.count() == 1000
    assert scores.columns == [
        "id_transacao", "t5_score", "t6_score", "t7_score", "batch_id"
    ]
    assert len(view) > 0
    top = view.top_k(10)
    assert len(top) == 10
    # zset semantics: descending by output time
    times = [r["tempo_saida_resultado"] for r in top]
    assert times == sorted(times, reverse=True)


def test_console_metrics_processes_every_row(spark, tmp_path):
    """K5/T2: the console metrics query on its processing-time trigger
    drains a 2-chunk replay, all 1,000 rows."""
    d = str(tmp_path / "chunks")
    stream_src.write_replay_chunks(spark, SF, d, n_chunks=2)
    out = spipe.approval_stream(
        stream_src.read_transaction_stream(spark, d),
        datamodel.users(spark, SF),
        datamodel.regions(spark, SF),
    )
    q = spipe.start_console_metrics(out, interval="1 second")
    try:
        q.processAllAvailable()
        assert sum(p["numInputRows"] for p in q.recentProgress) == 1000
    finally:
        q.stop()


def test_multisink_warm_batch_jobs_and_compiles(spark, replay_dir, tmp_path):
    """Two properties of a warm multi-sink batch, fed one replay file per
    batch:

    - every job is in the query's job group (its run id), the two sink
      writes and the top-K collect included, though they run on pool
      threads: query.stop() cancels a group, and a job outside it would
      run on after the stop;
    - it Janino-compiles only the classes whose source holds the
      batch's folded current_timestamp() (the ingest and start marks in
      the query, the exit stamp at the sink), 5 compiles in all; the
      epoch id is a directory name, not a literal column, so the two
      writes compile nothing new."""
    import glob
    import os

    from banking_streaming_etl_spark.session import codegen_compiles

    src = tmp_path / "src"
    src.mkdir()
    tx = stream_src.read_transaction_stream(spark, str(src))
    out = spipe.approval_stream(
        tx, datamodel.users(spark, SF), datamodel.regions(spark, SF)
    )
    tracker = spark.sparkContext.statusTracker()
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    q = spipe.start_multi_sink(
        out,
        history_dir=str(tmp_path / "hist"),
        scores_dir=str(tmp_path / "scores"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        recent_view=spipe.RecentTransactionsView(capacity=500),
        recent_k=50,
    )
    compiles = []
    for i, f in enumerate(sorted(glob.glob(f"{replay_dir}/part-*"))):
        before = codegen_compiles(spark)
        shutil.copy(f, src / ".incoming")
        os.rename(src / ".incoming", src / f"chunk{i}.json")
        q.processAllAvailable()
        compiles.append(codegen_compiles(spark) - before)
    q.stop()

    grouped = set(tracker.getJobIdsForGroup(str(q.runId)))
    # per batch: two writes and one collect, besides the plan's own jobs
    assert len(grouped) >= 3 * len(compiles)
    # no job of the run's span is in another group or in none
    assert set(range(min(grouped), max(grouped) + 1)) == grouped
    assert set(tracker.getJobIdsForGroup(None)) == ungrouped_before
    assert compiles[1:] == [5] * (len(compiles) - 1), compiles


def test_failed_sink_write_leaves_recent_view_untouched(
    spark, replay_dir, tmp_path
):
    """The recent view is a side effect of a COMMITTED epoch: when a sink
    write fails (scores_dir is a regular file, so the scores write
    cannot create its directory) the query fails and the view stays
    empty, even though the top-K collect ran concurrently and
    succeeded.

    The history write of that failed epoch did commit. Restarting on the
    same checkpoint once the blocking file is gone re-runs the epoch;
    the epoch-keyed sinks overwrite its partition, so history and scores
    each hold every id exactly once and history equals the batch twin
    (an appending sink would hold the first epoch twice)."""
    import struct

    from pyspark.errors import StreamingQueryException

    def start(view):
        tx = stream_src.read_transaction_stream(
            spark, replay_dir, max_files_per_trigger=2
        )
        out = spipe.approval_stream(
            tx, datamodel.users(spark, SF), datamodel.regions(spark, SF)
        )
        return spipe.start_multi_sink(
            out,
            history_dir=str(tmp_path / "hist"),
            scores_dir=str(scores_file),
            checkpoint_dir=str(tmp_path / "ckpt"),
            recent_view=view,
            recent_k=50,
        )

    scores_file = tmp_path / "scores"
    scores_file.write_text("not a directory")
    view = spipe.RecentTransactionsView(capacity=500)
    q = start(view)
    try:
        with pytest.raises(StreamingQueryException):
            q.processAllAvailable()
    finally:
        q.stop()
    assert q.exception() is not None
    assert len(view) == 0

    scores_file.unlink()
    q = start(view)
    q.processAllAvailable()
    q.stop()

    def bits(r):
        return (
            r.id_transacao,
            struct.pack("<d", r.score_medio),
            r.transacao_aprovada,
        )

    cols = ["id_transacao", "score_medio", "transacao_aprovada"]
    hist = spark.read.parquet(str(tmp_path / "hist"))
    scores = spark.read.parquet(str(scores_file))
    for sink in (hist, scores):
        assert sink.count() == 1000
        assert sink.select("id_transacao").distinct().count() == 1000
    got = sorted(bits(r) for r in hist.select(*cols).collect())
    want = sorted(
        bits(r) for r in approval_pipeline(spark, SF).select(*cols).collect()
    )
    assert got == want
    assert len(view) > 0


def test_streaming_analytics_match_batch(spark, replay_dir):
    """The live analytics (report's production direction) equal the batch
    dashboard queries once the stream is drained."""
    from banking_streaming_etl_spark.plans.dashboard import (
        denial_reasons,
        region_approval,
    )

    tx = stream_src.read_transaction_stream(spark, replay_dir)
    out = spipe.approval_stream(
        tx, datamodel.users(spark, SF), datamodel.regions(spark, SF)
    )
    q1 = (
        swin.streaming_region_approval(out)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("live_region")
        .start()
    )
    q2 = (
        swin.streaming_denial_reasons(out)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("live_denials")
        .start()
    )
    q1.processAllAvailable()
    q2.processAllAvailable()
    q1.stop()
    q2.stop()

    live_region = {
        (r.id_regiao, round(r.taxa_aprovacao, 9), r.total)
        for r in spark.sql("SELECT * FROM live_region").collect()
    }
    batch_region = {
        (r.id_regiao, round(r.taxa_aprovacao, 9), r.total)
        for r in region_approval(spark, SF).collect()
    }
    assert live_region == batch_region

    live_d = spark.sql("SELECT * FROM live_denials").first()
    batch_d = denial_reasons(spark, SF).first()
    assert (live_d.negadas_score, live_d.negadas_saldo, live_d.negadas_limite,
            live_d.negadas_total, live_d.total) == (
        batch_d.negadas_score, batch_d.negadas_saldo, batch_d.negadas_limite,
        batch_d.negadas_total, batch_d.total)


def test_rate_source_smoke(spark):
    """S-family: the built-in rate source as a synthetic load generator
    (standing in for the reference's producer under test conditions)."""
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 500)
        .load()
        .select(
            F.col("value").alias("id_transacao"),
            (F.col("value") % 100).alias("id_usuario_pagador"),
            F.col("timestamp").alias("data_horario"),
        )
    )
    q = (
        rate.writeStream.outputMode("append")
        .format("memory")
        .queryName("rate_out")
        .start()
    )
    import time as _t

    # poll with a deadline instead of a fixed sleep (first-batch commit
    # time varies with machine load)
    deadline = _t.time() + 30
    n = 0
    while _t.time() < deadline:
        n = spark.sql("SELECT count(*) FROM rate_out").first()[0]
        if n > 0:
            break
        _t.sleep(0.5)
    q.stop()
    assert n > 0


def test_latency_view_over_streamed_history(spark, replay_dir, tmp_path):
    """Close the loop: stream -> history parquet -> the reference's actual
    latency view over it (its Postgres views aggregate pipeline latency)."""
    from banking_streaming_etl_spark.plans.views import latency_stats_over_history

    tx = stream_src.read_transaction_stream(spark, replay_dir)
    out = spipe.approval_stream(
        tx, datamodel.users(spark, SF), datamodel.regions(spark, SF)
    )
    q = spipe.start_multi_sink(
        out,
        history_dir=str(tmp_path / "hist"),
        scores_dir=str(tmp_path / "scores"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()

    stats = latency_stats_over_history(
        spark.read.parquet(str(tmp_path / "hist"))
    ).collect()
    assert {r.modalidade_pagamento for r in stats} == set(datamodel.MODALITIES)
    for r in stats:
        assert r.latencia_min_ms >= 0
        assert r.latencia_min_ms <= r.latencia_media_ms <= r.latencia_max_ms
        assert r.p95_latencia_ms <= r.latencia_max_ms
    # sink-side stamping produces REAL latency, not the all-zero artifact
    # of in-query current_timestamp substitution
    assert max(r.latencia_max_ms for r in stats) > 0


def test_late_data_filter(spark, replay_dir):
    tx = stream_src.read_transaction_stream(spark, replay_dir)
    # replayed events are from 2024 -> ingest lag is huge -> all discarded
    filtered = swin.late_data_filter(tx, max_delay_seconds=1)
    _run_to_memory(filtered, "late_out")
    assert spark.sql("SELECT count(*) FROM late_out").collect()[0][0] == 0


def test_chained_stateful_dedup_then_window(spark, replay_dir, tmp_path):
    """Two stateful operators in ONE streaming query (Spark 4 chained
    state): dropDuplicatesWithinWatermark feeding a tumbling windowed
    aggregate. Replaying every chunk twice, the deduped windowed counts
    must equal the batch single-copy truth — the layout a real pipeline
    wants (dedup at ingest, aggregate downstream, one checkpoint)."""
    import shutil

    d = str(tmp_path / "dup_chunks")
    shutil.copytree(replay_dir, d)
    for f in sorted(__import__("glob").glob(f"{replay_dir}/*.json")):
        shutil.copy(f, f"{d}/dup_{f.rsplit('/', 1)[1]}")

    tx = stream_src.read_transaction_stream(spark, d)
    chained = swin.tumbling_modality_counts(
        swin.dedup_within_watermark(tx), "1 hour", watermark=None
    )
    _run_to_memory(chained, "chained_out", mode="complete")

    got = {
        (r.hora, r.modalidade_pagamento, r.total_transacoes)
        for r in spark.sql(
            "SELECT hora, modalidade_pagamento, total_transacoes"
            " FROM chained_out"
        ).collect()
    }
    want = {
        tuple(r)
        for r in datamodel.transactions(spark, SF)
        .groupBy(
            F.date_trunc("hour", "data_horario").alias("hora"),
            "modalidade_pagamento",
        )
        .agg(F.count("*").alias("total_transacoes"))
        .collect()
    }
    assert got == want


def test_quality_observation_counts_inline(spark):
    """df.observe: audit counters materialize with the action, no second
    scan, and match an explicit aggregation."""
    from banking_streaming_etl_spark.streaming import metrics as smetrics

    t = datamodel.transactions(spark, SF)
    observed, obs = smetrics.quality_observation(t)
    n_rows = observed.count()  # the action that also fills the observation
    got = obs.get
    assert got["total"] == n_rows
    want = t.agg(
        F.sum(F.col("valor_transacao").isNull().cast("long")),
        F.sum(F.col("id_usuario_pagador").isNull().cast("long")),
    ).collect()[0]
    assert got["valor_nulos"] == want[0]
    assert got["pagadores_nulos"] == want[1]
    assert got["valor_total"] > 0


def test_streaming_mad_alerts_match_batch_rule(spark, replay_dir):
    """Lambda pattern: MAD stats trained on the batch history, broadcast
    into the stream — the streamed alert set must equal the batch filter
    applied with the same stats."""
    from banking_streaming_etl_spark.plans import dashboard

    stats = (
        dashboard.mad_outliers_per_modality(spark, SF)
        .select("modalidade_pagamento", "mediana", "mad")
    )
    tx = stream_src.read_transaction_stream(spark, replay_dir)
    alerts = swin.streaming_mad_alerts(tx, stats)
    _run_to_memory(alerts, "mad_alerts_out", mode="append")
    got = {
        (r.id_transacao, r.z_mod)
        for r in spark.sql("SELECT * FROM mad_alerts_out").collect()
    }

    batch_tx = datamodel.transactions(spark, SF)
    want = {
        (r.id_transacao, r.z_mod)
        for r in swin.streaming_mad_alerts(batch_tx, stats).collect()
    }
    assert got == want
    assert len(want) > 0


def test_streaming_exact_dedup_matches_batch(spark, tmp_path):
    """Differential: the streaming digest-dedup (dropDuplicatesWithinWatermark
    over the replayed documents stream) must agree with the batch
    dedup_exact operator on everything replay order cannot change — the
    digest set, exactly one survivor per digest, and every survivor being
    a genuine member of its batch duplicate group."""
    from banking_streaming_etl_spark.functions import textfns
    from banking_streaming_etl_spark.operators import dedup as ddup

    d = str(tmp_path / "doc_chunks")
    n = stream_src.write_document_chunks(spark, SF, d, n_chunks=6)
    ds = stream_src.read_document_stream(spark, d, max_files_per_trigger=2)
    out = swin.dedup_documents_within_watermark(ds)
    _run_to_memory(out, "doc_dedup_out", mode="append")

    got = spark.sql("SELECT fingerprint, doc_id FROM doc_dedup_out").collect()
    batch = {
        r.fingerprint: (r.doc_id_canonico, r.n_copias)
        for r in ddup.dedup_exact(spark, SF).collect()
    }
    assert sum(c for _, c in batch.values()) == n  # groups cover the corpus
    # exactly one survivor per digest, and the digest sets are identical
    assert len(got) == len({r.fingerprint for r in got}) == len(batch)
    assert {r.fingerprint for r in got} == set(batch)
    # each survivor belongs to the duplicate group it represents
    members = {
        (r.f, r.doc_id)
        for r in datamodel.load_table(spark, SF, "documents")
        .select(textfns.md5_fingerprint().alias("f"), "doc_id")
        .collect()
    }
    for r in got:
        assert (r.fingerprint, r.doc_id) in members


def test_streaming_trending_tokens_match_batch(spark, tmp_path):
    """Stream-vs-batch unification for the windowed vocabulary monitor:
    tumbling (window, token) counts over the replayed documents stream
    must equal the batch aggregate over the same synthetic event-time
    axis."""
    from banking_streaming_etl_spark.functions import textfns
    from banking_streaming_etl_spark.sources.stream import _DOC_EVENT_EPOCH

    d = str(tmp_path / "doc_chunks_trend")
    stream_src.write_document_chunks(spark, SF, d, n_chunks=5)
    ds = stream_src.read_document_stream(spark, d, max_files_per_trigger=2)
    out = swin.trending_tokens_windowed(ds, window_size="10 minutes")
    _run_to_memory(out, "trend_out", mode="complete")
    got = {
        (r.inicio, r.termo, r.n)
        for r in spark.sql("SELECT * FROM trend_out").collect()
    }

    batch = (
        datamodel.load_table(spark, SF, "documents")
        .withColumn(
            "event_ts",
            F.timestamp_seconds(F.lit(_DOC_EVENT_EPOCH) + F.col("doc_id")),
        )
        .select("event_ts", F.explode(textfns.tokens()).alias("termo"))
        .groupBy(F.window("event_ts", "10 minutes").alias("janela"), "termo")
        .agg(F.count("*").alias("n"))
        .select(F.col("janela.start").alias("inicio"), "termo", "n")
    )
    want = {(r.inicio, r.termo, r.n) for r in batch.collect()}
    assert got == want and len(want) > 0


def test_streaming_centroid_assignment_matches_batch(spark, tmp_path):
    """The stateless streaming nearest-centroid twin over replayed
    embedding chunks must assign every vector to EXACTLY the centroid
    the batch ivf_assignments path picks (same literal doubles, same
    tie-break), regardless of replay chunking."""
    from banking_streaming_etl_spark.operators import similarity

    emb = similarity._with_norm(
        datamodel.load_table(spark, SF, "embeddings")
    )
    cent, assign = similarity.ivf_assignments(emb)
    batch = {(r.vec_id, r.centroid_id) for r in assign.collect()}

    n = stream_src.write_embedding_chunks(
        spark, SF, str(tmp_path / "emb_chunks"), n_chunks=4
    )
    es = stream_src.read_embedding_stream(
        spark, str(tmp_path / "emb_chunks"), max_files_per_trigger=1
    )
    out = similarity.streaming_centroid_assignments(es, cent.collect())
    assert out.isStreaming
    _run_to_memory(out, "cent_assign_out")
    got = {
        (r.vec_id, r.centroid_id)
        for r in spark.sql("SELECT * FROM cent_assign_out").collect()
    }
    assert len(got) == n
    assert got == batch


def test_streaming_transition_counts_match_batch(spark, tmp_path):
    """Stream-vs-batch differential for the order-sensitive stateful op:
    per-payer transition pairs carried across micro-batches (previous
    event in applyInPandasWithState scalar state) over a time-ordered
    replay must aggregate to EXACTLY the batch transition matrix."""
    from banking_streaming_etl_spark.plans.behavior import (
        event_transition_matrix,
    )
    from banking_streaming_etl_spark.streaming import stateful as sstate

    d = str(tmp_path / "ordered_chunks")
    stream_src.write_replay_chunks_ordered(spark, SF, d, n_chunks=6)
    tx = stream_src.read_transaction_stream(spark, d, max_files_per_trigger=1)
    out = sstate.transition_counts_stream(tx)
    _run_to_memory(out, "transition_out", mode="append")

    got = {
        (r.anterior, r.atual): r.n
        for r in spark.sql(
            "SELECT anterior, atual, COUNT(*) AS n FROM transition_out "
            "GROUP BY 1, 2"
        ).collect()
    }
    want = {
        (r.anterior, r.atual): r.n
        for r in event_transition_matrix(spark, SF).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_cms_cells_match_batch_sketch(spark, replay_dir):
    """The complete-mode streaming CMS cell table must equal the batch
    sketch over the same replayed transactions — the mergeability that
    makes the sketch a streaming-safe aggregate."""
    from banking_streaming_etl_spark.operators import sketches

    tx = stream_src.read_transaction_stream(spark, replay_dir)
    cells = swin.streaming_cms_cells(tx)
    _run_to_memory(cells, "cms_cells_out", mode="complete")
    got = {
        (r.d, r.bucket, r.cell)
        for r in spark.sql("SELECT * FROM cms_cells_out").collect()
    }
    want = {
        (r.d, r.bucket, r.cell)
        for r in sketches.cms_cells(
            datamodel.transactions(spark, SF)
        ).collect()
    }
    assert got == want
    assert len(want) <= sketches.CMS_D * sketches.CMS_W


def test_streaming_bloom_screen_matches_batch(spark, replay_dir):
    """The stateless streaming Bloom screen (history-trained bits
    broadcast into the stream) must flag exactly the payers the batch
    screen passes — no false negatives by construction, and identical
    false positives because the hash ladder is shared."""
    from banking_streaming_etl_spark.operators import sketches

    batch_tx = datamodel.transactions(spark, SF)
    bits = sketches.bloom_bits(batch_tx).collect()

    tx = stream_src.read_transaction_stream(spark, replay_dir)
    out = sketches.streaming_bloom_screen(tx, bits)
    _run_to_memory(out, "bloom_stream_out")

    got = {
        (r.id_usuario_pagador, r.bloom_pass)
        for r in spark.sql(
            "SELECT DISTINCT id_usuario_pagador, bloom_pass "
            "FROM bloom_stream_out"
        ).collect()
    }
    # batch per-payer truth: pure-Python probe of the same bit table
    payers = [
        r.id_usuario_pagador
        for r in batch_tx.select("id_usuario_pagador").distinct().collect()
    ]
    bit_rows = {b.bit for b in bits}
    want = set()
    for p in payers:
        pos = [
            (((p % sketches._M) * a + b) % sketches._M) % sketches.BLOOM_BITS
            for a, b in sketches._HASH_CONSTANTS[: sketches.BLOOM_J]
        ]
        want.add((p, all(x in bit_rows for x in pos)))
    assert got == want
    # every true member passes (no false negatives)
    members = {
        r.id_usuario_pagador
        for r in batch_tx.filter(
            F.col("valor_transacao") > sketches.BLOOM_VALUE_THRESHOLD
        )
        .select("id_usuario_pagador")
        .distinct()
        .collect()
    }
    passed = {p for p, ok in got if ok}
    assert members <= passed


def test_available_now_trigger_drains_backlog_in_bounded_batches(spark, replay_dir):
    """Trigger.AvailableNow: the backfill/catch-up mode — process ALL
    data available at start in rate-limited micro-batches, then STOP on
    its own (unlike processingTime, which runs forever; unlike the
    deprecated once-trigger, which ignores intake caps). The drained
    result must equal the batch read, and the file cap must split the
    backlog into multiple batches."""
    tx = stream_src.read_transaction_stream(
        spark, replay_dir, max_files_per_trigger=1
    )
    q = (
        tx.writeStream.outputMode("append")
        .format("memory")
        .queryName("available_now_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)  # self-terminates after draining
    assert not q.isActive
    batches = [
        p
        for p in q.recentProgress
        if int(p.get("numInputRows", 0) or 0) > 0
    ]
    assert len(batches) >= 2  # the 4-chunk replay honored the 1-file cap
    got = spark.sql("SELECT COUNT(*) FROM available_now_out").collect()[0][0]
    want = datamodel.transactions(spark, SF).count()
    assert got == want


def test_streaming_psi_matches_batch_bit_exact(spark, replay_dir):
    """The live drift monitor (complete-mode current-window bucket counts
    + read-side fusion against the frozen reference) must reproduce the
    batch psi_value_drift rows BIT-EXACTLY over the same replayed
    transactions — counts are integers and the smoothing/ln arithmetic is
    term-identical by construction."""
    from banking_streaming_etl_spark.plans import governance as gov

    tx = stream_src.read_transaction_stream(spark, replay_dir)
    counts = swin.streaming_psi_bucket_counts(tx)
    _run_to_memory(counts, "psi_counts_out", mode="complete")

    ref = gov.psi_reference_counts(spark, SF)
    got = {
        (r.faixa_valor, r.n_ref, r.n_cur, r.psi_contrib)
        for r in gov.psi_against_reference(
            ref, spark.sql("SELECT * FROM psi_counts_out")
        ).collect()
    }
    want = {
        (r.faixa_valor, r.n_ref, r.n_cur, r.psi_contrib)
        for r in gov.psi_value_drift(spark, SF).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_near_dup_screen_matches_batch(spark, tmp_path):
    """The stateless ingest-time near-dup screen: (1) row-local band
    hashes equal the batch signature pipeline's bit-for-bit; (2) the
    streamed screen emits exactly the rows the SAME function emits on the
    equivalent batch frame; (3) a planted exact copy of an indexed doc is
    caught at jaccard 1.0."""
    from banking_streaming_etl_spark.operators import dedup

    docs = datamodel.load_table(spark, SF, "documents")

    # (1) signature parity with the batch shuffle pipeline
    got_sig = {
        (r.doc_id, r.band, r.bh)
        for r in dedup.row_local_minhash_bands(docs)
        .select("doc_id", "band", "bh")
        .collect()
    }
    want_sig = {
        (r.doc_id, r.band, r.bh)
        for r in dedup._banded_signatures(
            dedup.minhash_signatures(spark, SF)
        ).collect()
    }
    assert got_sig == want_sig

    index_docs = docs.filter(F.col("doc_id") % 2 == 0)
    plant_src = index_docs.orderBy("doc_id").limit(1)
    planted = plant_src.select(
        F.lit(999999).cast("long").alias("doc_id"),
        "text", "lang", "source", "n_chars",
    )
    probe = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "text", "lang", "source", "n_chars"
    ).unionByName(planted)

    bidx, bsets = dedup.corpus_lsh_index(spark, SF, index_docs)
    bidx, bsets = bidx.cache(), bsets.cache()

    want = {
        (r.doc_novo, r.doc_indice, r.band, r.jaccard)
        for r in dedup.near_dup_screen_against_index(
            probe, bidx, bsets
        ).collect()
    }

    d = str(tmp_path / "probe_chunks")
    probe.select(
        F.to_json(
            F.struct(
                "doc_id", "text", "lang", "source", "n_chars",
                F.lit("2024-01-01T00:00:00").alias("event_ts"),
            )
        ).alias("value")
    ).repartition(4).write.mode("overwrite").text(d)

    ds = stream_src.read_document_stream(spark, d)
    out = swin.streaming_near_dup_screen(ds, bidx, bsets)
    _run_to_memory(out, "near_dup_screen_out")
    got = {
        (r.doc_novo, r.doc_indice, r.band, r.jaccard)
        for r in spark.sql("SELECT * FROM near_dup_screen_out").collect()
    }
    assert got == want and len(want) > 0

    plant_target = plant_src.collect()[0].doc_id
    assert any(
        n == 999999 and i == plant_target and j == 1.0
        for n, i, _, j in got
    )
    bidx.unpersist(), bsets.unpersist()


def test_streaming_value_quantiles_close_to_batch_exact(spark, replay_dir):
    """Complete-mode approx percentiles over the drained stream must sit
    within the sketch tolerance of the exact batch percentiles, with
    exact group counts (count state is exact even when quantile state
    is approximate)."""
    tx = stream_src.read_transaction_stream(spark, replay_dir)
    q = swin.streaming_value_quantiles(tx)
    _run_to_memory(q, "quantiles_out", mode="complete")
    got = {
        r.modalidade_pagamento: r
        for r in spark.sql("SELECT * FROM quantiles_out").collect()
    }
    batch = datamodel.transactions(spark, SF)
    want = {
        r.modalidade_pagamento: r
        for r in batch.groupBy("modalidade_pagamento")
        .agg(
            F.expr(
                "percentile(valor_transacao, array(0.5, 0.95, 0.99))"
            ).alias("qs"),
            F.count("*").alias("total"),
        )
        .select(
            "modalidade_pagamento",
            F.col("qs")[0].alias("p50"),
            F.col("qs")[1].alias("p95"),
            F.col("qs")[2].alias("p99"),
            "total",
        )
        .collect()
    }
    assert set(got) == set(want)
    # a quantile sketch's contract is RANK error, not value error: the
    # returned value's empirical rank must sit within eps of the target
    # quantile (value distance can be large wherever the distribution
    # is sparse, e.g. p99 tails on small groups).
    values = {}
    for r in batch.select("modalidade_pagamento", "valor_transacao").collect():
        values.setdefault(r.modalidade_pagamento, []).append(
            r.valor_transacao
        )
    for m in want:
        assert got[m].total == want[m].total  # counts exact
        vs = sorted(values[m])
        n = len(vs)
        for col, q in (("p50", 0.5), ("p95", 0.95), ("p99", 0.99)):
            g = getattr(got[m], col)
            rank = sum(1 for v in vs if v <= g) / n
            assert q - 0.03 <= rank <= min(1.0, q + 0.03) + 1e-9, (
                m, col, g, rank,
            )


def test_streaming_decontaminate_matches_batch(spark, tmp_path):
    """The stateless streaming decontamination screen must flag exactly
    the train docs (and per-doc distinct shingle counts) the batch
    decontaminate_train_docs flags."""
    from banking_streaming_etl_spark.operators import sampling
    from banking_streaming_etl_spark.functions import textfns
    from banking_streaming_etl_spark.plans.curation import (
        DECON_SHINGLE_N,
        decontaminate_train_docs,
    )

    d = str(tmp_path / "docs_replay")
    stream_src.write_document_chunks(spark, SF, d, n_chunks=4)

    # static side: the held-out split's distinct shingle hashes
    split = sampling.train_test_split_docs(spark, SF).select(
        "doc_id", "split"
    )
    docs = datamodel.load_table(spark, SF, "documents").withColumn(
        "toks", textfns.tokens()
    )
    test_sh = (
        docs.join(split.filter(F.col("split") == "test"), "doc_id")
        .select(
            F.explode(
                textfns.word_shingles("toks", DECON_SHINGLE_N)
            ).alias("s")
        )
        .select(F.xxhash64("s").alias("h"))
        .distinct()
    )

    ds = stream_src.read_document_stream(spark, d)
    hits = swin.streaming_decontaminate_hits(ds, test_sh)
    _run_to_memory(hits, "decon_hits_out")

    train_ids = {
        r.doc_id for r in split.filter(F.col("split") == "train").collect()
    }
    got = {}
    for r in spark.sql(
        "SELECT doc_id, COUNT(DISTINCT h) AS c FROM decon_hits_out "
        "GROUP BY doc_id"
    ).collect():
        if r.doc_id in train_ids:
            got[r.doc_id] = r.c
    want = {
        r.doc_id: r.n_shingles_contaminados
        for r in decontaminate_train_docs(spark, SF).collect()
    }
    assert got == want
    assert len(want) > 0


def test_streaming_distinct_payers_within_hll_tolerance(spark, replay_dir):
    """Complete-mode HLL distinct counts over the drained stream must sit
    within the sketch's relative error of the exact batch distincts."""
    tx = stream_src.read_transaction_stream(spark, replay_dir)
    out = swin.streaming_distinct_payers(tx)
    _run_to_memory(out, "distinct_out", mode="complete")
    got = {
        r.modalidade_pagamento: r.pagadores_aprox
        for r in spark.sql("SELECT * FROM distinct_out").collect()
    }
    want = {
        r.modalidade_pagamento: r.n
        for r in datamodel.transactions(spark, SF)
        .groupBy("modalidade_pagamento")
        .agg(F.countDistinct("id_usuario_pagador").alias("n"))
        .collect()
    }
    assert set(got) == set(want)
    for m, n in want.items():
        assert abs(got[m] - n) <= max(3, 0.1 * n), (m, got[m], n)


def test_sliding_window_matches_batch(spark, replay_dir):
    """sliding_value_sum (1 h window, 15 min slide): every event lands in
    exactly 4 overlapping windows; the drained complete-mode stream must
    equal a batch recomputation that explodes each event into its 4
    covering windows."""
    tx = stream_src.read_transaction_stream(spark, replay_dir)
    agg = swin.sliding_value_sum(tx, "1 hour", "15 minutes")
    _run_to_memory(agg, "sliding_out", mode="complete")
    got_rows = spark.sql("SELECT * FROM sliding_out").collect()
    got = {(r.inicio, r.fim): (r.total_transacoes, float(r.valor_total))
           for r in got_rows}
    slide_s = 15 * 60
    batch = (
        datamodel.transactions(spark, SF)
        .withColumn(
            "k", F.explode(F.sequence(F.lit(0), F.lit(3)))
        )
        .withColumn(
            "inicio",
            F.timestamp_seconds(
                (F.unix_timestamp("data_horario") / slide_s).cast("long")
                * slide_s
                - F.col("k") * slide_s
            ),
        )
        .groupBy("inicio")
        .agg(
            F.count("*").alias("total_transacoes"),
            F.sum("valor_transacao").alias("valor_total"),
        )
    )
    import datetime as _dt

    want = {
        (r.inicio, r.inicio + _dt.timedelta(hours=1)): (
            r.total_transacoes,
            float(r.valor_total),
        )
        for r in batch.collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0], k  # counts exact
        # sums tolerate aggregation-order float noise only
        assert abs(got[k][1] - want[k][1]) < 1e-6, k


def test_streaming_conformal_coverage_matches_batch(spark, replay_dir):
    """The live conformal coverage monitor (frozen thresholds broadcast
    onto the scored stream, complete-mode conditional counts) must
    reproduce the batch conformal_risk_thresholds rows BIT-EXACTLY over
    the same replayed transactions — thresholds come from the shared
    builder, scores from the shared enrich+score graph, and every
    output is an integer or a selected value."""
    from banking_streaming_etl_spark.plans import dashboard

    tx = stream_src.read_transaction_stream(spark, replay_dir)
    scored = spipe.approval_stream(
        tx,
        datamodel.users(spark, SF),
        datamodel.regions(spark, SF),
    )
    thresholds = dashboard.conformal_thresholds_frame(spark, SF)
    cov = swin.streaming_conformal_coverage(scored, thresholds)
    _run_to_memory(cov, "conformal_cov_out", mode="complete")

    got = {
        tuple(r)
        for r in spark.sql(
            "SELECT alpha_permille, n_cal, limiar, n_aval, n_coberto "
            "FROM conformal_cov_out"
        ).collect()
    }
    want = {
        tuple(r)
        for r in dashboard.conformal_risk_thresholds(spark, SF).collect()
    }
    assert got == want and len(want) == len(dashboard.CONF_ALPHAS_PERMILLE)


def test_streaming_cusum_matches_batch(spark, replay_dir):
    """The streaming CUSUM monitor (complete-mode hourly state + the
    shared closed form evaluated on read) must reproduce the batch
    cusum_hourly_drift rows BIT-EXACTLY over the same replayed
    transactions — one derivation (plans/stats.cusum_from_hourly) feeds
    both surfaces, so any divergence is a state bug, not float noise."""
    from banking_streaming_etl_spark.plans import stats

    tx = stream_src.read_transaction_stream(spark, replay_dir)
    scored = spipe.approval_stream(
        tx,
        datamodel.users(spark, SF),
        datamodel.regions(spark, SF),
    )
    hourly = swin.streaming_hourly_approvals(scored)
    _run_to_memory(hourly, "cusum_hourly_out", mode="complete")

    got = {
        tuple(r)
        for r in stats.cusum_from_hourly(
            spark.table("cusum_hourly_out")
        ).collect()
    }
    want = {tuple(r) for r in stats.cusum_hourly_drift(spark, SF).collect()}
    assert got == want and len(want) > 10


def test_streaming_ewma_chart_matches_batch(spark, replay_dir):
    """The streaming EWMA control chart (the SAME complete-mode hourly
    state the CUSUM monitor keeps + the shared ewma_from_hourly closed
    form on read) must reproduce the batch ewma_control_chart rows
    BIT-EXACTLY over the same replayed transactions — one more consumer
    of the one bounded hourly frame, zero extra streaming state."""
    from pyspark.sql import functions as F

    from banking_streaming_etl_spark.plans import behavior

    tx = stream_src.read_transaction_stream(spark, replay_dir)
    scored = spipe.approval_stream(
        tx,
        datamodel.users(spark, SF),
        datamodel.regions(spark, SF),
    )
    hourly = swin.streaming_hourly_approvals(scored)
    _run_to_memory(hourly, "ewma_hourly_out", mode="complete")

    live = spark.table("ewma_hourly_out").select(
        F.expr("unix_micros(hora) div 3600000000").alias("hk"),
        F.col("n").alias("total"),
    )
    got = {tuple(r) for r in behavior.ewma_from_hourly(live).collect()}
    want = {
        tuple(r)
        for r in behavior.ewma_control_chart(spark, SF).collect()
    }
    assert got == want and len(want) > 10


def test_streaming_fano_matches_batch(spark, replay_dir):
    """The streaming Fano burstiness monitor (complete-mode
    (modality, hour) state + the shared evaluator on read) must
    reproduce the batch fano_dispersion_by_modality rows BIT-EXACTLY
    over the same replayed transactions."""
    from banking_streaming_etl_spark.plans import stats

    tx = stream_src.read_transaction_stream(spark, replay_dir)
    scored = spipe.approval_stream(
        tx,
        datamodel.users(spark, SF),
        datamodel.regions(spark, SF),
    )
    hourly = swin.streaming_modality_hourly(scored)
    _run_to_memory(hourly, "fano_hourly_out", mode="complete")

    got = {
        tuple(r)
        for r in stats.fano_from_hourly(
            spark.table("fano_hourly_out")
        ).collect()
    }
    want = {
        tuple(r)
        for r in stats.fano_dispersion_by_modality(spark, SF).collect()
    }
    assert got == want and len(want) >= 3


def test_socket_stream_live_wire_matches_batch_parse(spark, replay_dir):
    """S1 live-wire proof: the producer's JSON-lines wire format served
    over a REAL TCP socket, ingested by Spark's built-in socket source,
    and funneled through the shared `parse_wire` — the parsed stream
    must equal the batch parse of the very same bytes (the
    source-agnosticism contract, executed over an actual network
    stream; the sandbox has no Kafka broker, so this is the live
    ingress differential)."""
    import glob
    import socket
    import threading
    import time

    lines: list[str] = []
    for f in sorted(glob.glob(f"{replay_dir}/part-*")):
        with open(f) as fh:
            lines.extend(ln for ln in fh.read().splitlines() if ln)
    lines = lines[:60]
    assert len(lines) == 60

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    port = srv.getsockname()[1]
    srv.listen(1)
    done = threading.Event()

    def serve():
        conn, _ = srv.accept()
        with conn:
            conn.sendall(("\n".join(lines) + "\n").encode())
            done.wait(timeout=90)  # keep the wire open until consumed

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    try:
        q = (
            stream_src.read_socket_stream(spark, port=port)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("sock_tx")
            .start()
        )
        try:
            deadline = time.time() + 60
            while (
                time.time() < deadline
                and spark.table("sock_tx").count() < len(lines)
            ):
                time.sleep(0.3)
        finally:
            done.set()
            q.stop()
    finally:
        srv.close()

    got = [
        tuple(r)
        for r in spark.table("sock_tx")
        .drop("tempo_entrada_kafka")
        .collect()
    ]
    want = [
        tuple(r)
        for r in stream_src.parse_wire(
            spark.createDataFrame([(ln,) for ln in lines], ["value"]),
            F.current_timestamp(),
        )
        .drop("tempo_entrada_kafka")
        .collect()
    ]
    assert sorted(got) == sorted(want)
    assert len(got) == 60


def test_streaming_media_sniff_matches_batch(spark, tmp_path):
    """Differential: the stateless ingest-time media screen over the
    replayed documents stream must agree ROW-FOR-ROW with the batch
    media_sniff of synthesize_media (same projection + sniff bodies) —
    digest, sniffed format, and octet length per doc_id."""
    from banking_streaming_etl_spark.operators import multimodal

    d = str(tmp_path / "doc_chunks_media")
    n = stream_src.write_document_chunks(spark, SF, d, n_chunks=5)
    ds = stream_src.read_document_stream(spark, d, max_files_per_trigger=2)
    _run_to_memory(swin.streaming_media_sniff(ds), "media_sniff_out")

    got = {
        r.doc_id: (r.media_format, r.formato_detectado, r.n_bytes,
                   r.corpo_sha256)
        for r in spark.sql("SELECT * FROM media_sniff_out").collect()
    }
    want = {
        r.doc_id: (r.media_format, r.formato_detectado, r.n_bytes,
                   r.corpo_sha256)
        for r in multimodal.media_sniff(
            multimodal.synthesize_media(spark, SF)
        ).collect()
    }
    assert len(got) == n
    assert got == want


def test_streaming_media_body_dedup_matches_batch_clusters(spark, tmp_path):
    """Differential for the watermarked CAS ingest dedup
    (streaming_media_body_dedup): which cluster member arrives first
    depends on replay chunk order, so the pinned invariants are
    (1) exactly ONE surviving row per body digest, (2) the surviving
    digest set equals the batch media_body_dedup cluster set, and
    (3) every survivor is a true member of its cluster (its own batch
    digest matches the one it survived under).

    The watermark is sized from the replayed corpus's actual doc_id
    range (event_ts = epoch + doc_id seconds in the testdata), not the
    operator's 1-hour default: rows below an already-advanced watermark
    are dropped outright (correct ingest-screen semantics), so invariant
    (2) only holds when the corpus event-time span fits in one horizon —
    a default-watermark test would silently become scale-fragile at a
    larger documents table (ADVICE round-11)."""
    from banking_streaming_etl_spark.operators import multimodal

    d = str(tmp_path / "doc_chunks_cas")
    stream_src.write_document_chunks(spark, SF, d, n_chunks=5)
    span_s = (
        datamodel.load_table(spark, SF, "documents")
        .agg(
            (F.max("doc_id") - F.min("doc_id") + F.lit(3600)).alias("s")
        )
        .collect()[0]["s"]
    )
    ds = stream_src.read_document_stream(spark, d, max_files_per_trigger=2)
    _run_to_memory(
        swin.streaming_media_body_dedup(ds, watermark=f"{int(span_s)} seconds"),
        "media_cas_out",
    )

    kept = spark.sql(
        "SELECT doc_id, corpo_sha256 FROM media_cas_out"
    ).collect()
    batch = {
        r.doc_id: r.corpo_sha256
        for r in multimodal.media_body_dedup(spark, SF).collect()
    }
    # one survivor per digest
    digests = [r.corpo_sha256 for r in kept]
    assert len(digests) == len(set(digests))
    # survivors cover exactly the batch cluster set
    assert set(digests) == set(batch.values())
    # each survivor genuinely belongs to the cluster it survived under
    for r in kept:
        assert batch[r.doc_id] == r.corpo_sha256


def test_streaming_kmv_registers_match_batch(spark, replay_dir):
    """The complete-mode streaming KMV register table must be BIT-EQUAL
    to the batch sketch over the same replayed transactions (MIN over
    the shared portable LCG is order-independent — the mergeability
    that makes the sketch a streaming-safe aggregate), the state must
    stay within the G x KMV_REG_K bound, and the read-side distinct
    estimate recomputed from the streamed cells must equal the batch
    estimate exactly."""
    from banking_streaming_etl_spark.operators import sketches

    tx = stream_src.read_transaction_stream(spark, replay_dir)
    regs = swin.streaming_kmv_registers(tx)
    _run_to_memory(regs, "kmv_regs_out", mode="complete")
    got = {
        (r.modalidade_pagamento, r.reg, r.m)
        for r in spark.sql("SELECT * FROM kmv_regs_out").collect()
    }
    batch = sketches.kmv_registers(datamodel.transactions(spark, SF))
    want = {(r.modalidade_pagamento, r.reg, r.m) for r in batch.collect()}
    assert got == want
    n_modalities = len({m for m, _, _ in want})
    assert len(want) <= n_modalities * sketches.KMV_REG_K

    est_stream = {
        (r.modalidade_pagamento, r.pagadores_kmv_reg, r.registers_hit)
        for r in sketches.kmv_register_estimate(
            spark.sql("SELECT * FROM kmv_regs_out")
        ).collect()
    }
    est_batch = {
        (r.modalidade_pagamento, r.pagadores_kmv_reg, r.registers_hit)
        for r in sketches.kmv_register_estimate(batch).collect()
    }
    assert est_stream == est_batch
    assert all(e > 0 for _, e, _ in est_batch)


def test_streaming_quantile_sketch_store_matches_batch(
    spark, replay_dir, tmp_path
):
    """The foreachBatch mergeable quantile-sketch store must fold to a
    sample BIT-EQUAL to the direct batch bottom-Q over the same
    replayed transactions for ANY micro-batch partitioning (the
    min-wise merge law applied at trigger granularity — the same
    stability argument the per-day rollup pins), and its live grid
    answers must equal the batch derivation exactly (shared
    qsk_grid_answers — the answers cannot fork by construction)."""
    from banking_streaming_etl_spark.plans import relational
    from banking_streaming_etl_spark.streaming import sinks as ssinks

    tx = stream_src.read_transaction_stream(
        spark, replay_dir, max_files_per_trigger=1
    )
    store = ssinks.QuantileSketchStore(str(tmp_path / "qsk_store"))
    q = (
        tx.writeStream.outputMode("append")
        .foreachBatch(store.write_batch)
        .option("checkpointLocation", str(tmp_path / "qsk_ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    # >1 delta epoch landed (otherwise the merge law is vacuous here)
    import os

    epochs = [
        p
        for p in os.listdir(str(tmp_path / "qsk_store"))
        if p.startswith("batch_id=")
    ]
    assert len(epochs) > 1, epochs

    rows = relational._qsk_rows(spark, SF)
    direct = ssinks.QuantileSketchStore._bottom_q(rows)
    got = {
        (r.modalidade_pagamento, r.tid, r.v, r.h)
        for r in store.read_sample(spark).collect()
    }
    want = {
        (r.modalidade_pagamento, r.tid, r.v, r.h)
        for r in direct.collect()
    }
    assert got and got == want

    grid_stream = {
        tuple(r) for r in store.read_quantiles(spark).collect()
    }
    grid_batch = {
        tuple(r) for r in relational.qsk_grid_answers(direct).collect()
    }
    assert grid_stream == grid_batch

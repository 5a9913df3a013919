"""The reference's batch dev-pipeline patterns (src/teste.py) + producer twin.

- `score_recombination`: teste.py computes each score in a separate frame
  and joins them back on the transaction key (J4 inner joins,
  src/teste.py:91-109), then left-joins approval flags (J5,
  src/teste.py:142-157). Semantically redundant vs computing in one frame —
  kept as an operator-coverage query because the join-graph shape is what's
  exercised; Catalyst collapses the common subplans.
- `coerced_casts`: F21 — string -> typed casts null on failure, matching
  pandas errors='coerce' (dashboard.py:117-125).
- `approx_aggregates`: approx_count_distinct / percentile_approx — sketch
  aggregates (rows-only: sketch internals are engine-specific; a tolerance
  test in tests/ pins them to the exact values).
- `synthetic_transactions`: the producer twin (F23/F24) — uuid(), uniform
  choice via element_at(shuffle) analogue, exponential draws from rand():
  -scale*ln(1-u). Non-deterministic across engines -> rows-only; seeded
  rand makes it deterministic within Spark (tested).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from banking_streaming_etl_spark import datamodel
from banking_streaming_etl_spark.functions import scores


def score_recombination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4/J5: per-score frames inner-joined back on id, flags left-joined.

    The six branches read the session pin of the scored fact
    (plans.dashboard._approved), which carries every enriched column:
    no branch re-plans the enrichment subtree and no pin is made per
    call."""
    from banking_streaming_etl_spark.plans.dashboard import _approved

    enriched = _approved(spark, sf_dir)

    t5 = enriched.select("id_transacao", scores.t5_distance_score().alias("t5_score"))
    t6 = enriched.select("id_transacao", scores.t6_value_score().alias("t6_score"))
    t7 = enriched.select("id_transacao", scores.t7_time_score().alias("t7_score"))

    base = enriched.select(
        "id_transacao", "modalidade_pagamento", "valor_transacao"
    )
    saldo_flag = enriched.select(
        "id_transacao", scores.saldo_aprovado().alias("saldo_aprovado")
    )
    limite_flag = enriched.select(
        "id_transacao", scores.limite_aprovado().alias("limite_aprovado")
    )

    return (
        base.join(t5, "id_transacao", "inner")
        .join(t6, "id_transacao", "inner")
        .join(t7, "id_transacao", "inner")
        .join(saldo_flag, "id_transacao", "left")
        .join(limite_flag, "id_transacao", "left")
    )


SCORE_RECOMBINATION_SQL = datamodel.with_ctes(
    f"""
SELECT id_transacao, modalidade_pagamento, valor_transacao,
       {scores.T5_SQL} AS t5_score,
       {scores.T6_SQL} AS t6_score,
       {scores.T7_SQL} AS t7_score,
       {scores.SALDO_APROVADO_SQL} AS saldo_aprovado,
       {scores.LIMITE_APROVADO_SQL} AS limite_aprovado
FROM enriched"""
)


def coerced_casts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F21: to_numeric/to_datetime with errors='coerce' — try_cast yields
    NULL on failure (plain cast THROWS under Spark 4's default ANSI mode).
    The props JSON field doubles as the dirty input."""
    ev = datamodel.load_table(spark, sf_dir, "events")
    raw_k = F.get_json_object("props", "$.k")
    return ev.select(
        "event_id",
        raw_k.try_cast("long").alias("k_longo"),
        raw_k.try_cast("double").alias("k_duplo"),
        F.col("event_type").try_cast("long").alias("tipo_como_numero"),  # NULL
        F.col("event_type").try_cast("timestamp").alias("tipo_como_ts"),  # NULL
        F.lower("event_type").alias("tipo_minusculo"),  # F20
        (F.lower("event_type") == "click").alias("eh_click"),
    )


COERCED_CASTS_SQL = """
SELECT event_id,
       TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_longo,
       TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k_duplo,
       TRY_CAST(event_type AS BIGINT) AS tipo_como_numero,
       TRY_CAST(event_type AS TIMESTAMP) AS tipo_como_ts,
       LOWER(event_type) AS tipo_minusculo,
       LOWER(event_type) = 'click' AS eh_click
FROM events
"""


def approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 + sketch family: approx_count_distinct (HLL++) and
    percentile_approx per modality. Rows-only (sketches are
    engine-specific); tests pin them within tolerance of exact."""
    t = datamodel.transactions(spark, sf_dir)
    return t.groupBy("modalidade_pagamento").agg(
        F.approx_count_distinct("id_usuario_pagador").alias("pagadores_aprox"),
        F.percentile_approx("valor_transacao", 0.95).alias("p95_aprox"),
        F.countDistinct("id_usuario_pagador").alias("pagadores_exato"),
    )


def synthetic_transactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The producer twin (F23/F24, producer.py:85-114): generate synthetic
    transactions with uuid(), seeded uniform modality choice, and
    exponential amounts via inverse-CDF of rand. Distributed generation —
    range() partitions across the cluster; no driver-side loop."""
    n = 10_000
    modalities = F.array(*[F.lit(m) for m in datamodel.MODALITIES])
    u1 = F.rand(seed=42)
    u2 = F.rand(seed=43)
    return spark.range(n).select(
        F.expr("uuid()").alias("id_transacao"),
        (F.col("id") % 1000).alias("id_usuario_pagador"),
        F.element_at(
            modalities, (F.floor(u1 * len(datamodel.MODALITIES)) + 1).cast("int")
        ).alias("modalidade_pagamento"),
        F.round(-1000.0 * F.log(1.0 - u2), 2).alias("valor_transacao"),
        F.timestamp_micros(
            (F.lit(1704067200000000) + (F.col("id") * 1_000_000)).cast("long")
        ).alias("data_horario"),
    )


# --- Avro wire round-trip (the dependency-free codec, driver-verified) ------

#: the reference's wire schema shape (data/schema.avsc: ids as strings,
#: epoch long, double value; one field uses the wrapped type form).
AVRO_WIRE_AVSC = {
    "type": "record",
    "name": "BankTransaction",
    "fields": [
        {"name": "id_transacao", "type": "string"},
        {"name": "id_usuario_pagador", "type": "string"},
        {"name": "id_usuario_recebedor", "type": "string"},
        {"name": "id_regiao", "type": "string"},
        {"name": "modalidade_pagamento", "type": {"type": "string"}},
        {"name": "data_horario", "type": "long"},
        {"name": "valor_transacao", "type": "double"},
    ],
}


def avro_wire_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every transaction pushed through the FULL Avro binary wire cycle
    — typed columns -> Arrow-batched encode to one binary `value`
    column (the Kafka wire shape) -> Arrow-batched decode back to typed
    columns (functions/avro_lite, the dependency-free implementation of
    the public Avro spec subset; the environment lacks spark-avro,
    reference schema data/schema.avsc). The oracle is a plain SELECT of
    the same projection, so the driver hash proves the codec is
    LOSSLESS on the whole corpus: exact strings, exact epoch-micros
    longs, and bit-identical IEEE doubles through the little-endian
    wire bytes.

    Scale shape: two Arrow-batched maps, no shuffle, no collect —
    Python only at the ingestion boundary (the multimodal stance)."""
    from banking_streaming_etl_spark.functions import avro_lite

    t = datamodel.transactions(spark, sf_dir).select(
        F.col("id_transacao").cast("string"),
        F.col("id_usuario_pagador").cast("string"),
        F.col("id_usuario_recebedor").cast("string"),
        F.col("id_regiao").cast("string"),
        "modalidade_pagamento",
        F.expr("unix_micros(data_horario)").alias("data_horario"),
        "valor_transacao",
    )
    wire = avro_lite.encode_avro_column(t, AVRO_WIRE_AVSC)
    return avro_lite.decode_avro_column(wire, AVRO_WIRE_AVSC)


AVRO_WIRE_SQL = datamodel.with_ctes(
    """
SELECT CAST(id_transacao AS VARCHAR) AS id_transacao,
       CAST(id_usuario_pagador AS VARCHAR) AS id_usuario_pagador,
       CAST(id_usuario_recebedor AS VARCHAR) AS id_usuario_recebedor,
       CAST(id_regiao AS VARCHAR) AS id_regiao,
       modalidade_pagamento,
       epoch_us(data_horario) AS data_horario,
       valor_transacao
FROM transactions"""
)

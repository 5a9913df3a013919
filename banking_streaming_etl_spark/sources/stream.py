"""Streaming sources (SURVEY.md §2.1 S1/S4).

The reference's production source is Kafka (streaming_etl.py:36-46); its
deterministic test source is a directory file-stream with an explicit
schema (src/teste2.py:21-24). Both arrive as a JSON wire format parsed by
from_json against the 7-field transaction StructType
(streaming_etl.py:23-31,56-59).

This module provides:
- `transaction_schema()` — the explicit wire StructType.
- `write_replay_chunks()` — serialize the driver's events table into N
  JSON-lines chunks (the producer's wire format, producer.py:106-114;
  `_wire_value` builds the line for both replay writers).
- `read_transaction_stream()` — file-stream the chunks and parse exactly
  like the reference: raw string -> from_json -> select("dados.*") plus a
  processing-time ingest mark (tempo_entrada_kafka analogue).
- `read_kafka_stream()` — the production path, same downstream contract;
  gated on the Kafka connector jar being present.

maxFilesPerTrigger plays the reference's maxOffsetsPerTrigger=1000 intake
cap (T3): it bounds micro-batch size, which is what shaped the reference's
published throughput ceiling (BASELINE.md).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from banking_streaming_etl_spark import datamodel


def transaction_schema() -> T.StructType:
    """The 7-field wire schema (streaming_etl.py:23-31)."""
    return T.StructType(
        [
            T.StructField("id_transacao", T.LongType()),
            T.StructField("id_usuario_pagador", T.LongType()),
            T.StructField("id_usuario_recebedor", T.LongType()),
            T.StructField("id_regiao", T.LongType()),
            T.StructField("modalidade_pagamento", T.StringType()),
            T.StructField("data_horario", T.TimestampType()),
            T.StructField("valor_transacao", T.DoubleType()),
        ]
    )


def _wire_value() -> Column:
    """The producer's wire line for one `transactions` row: the 7 wire
    fields as a JSON object, the timestamp as an ISO-8601 string
    (producer.py:99,162), aliased `value` like a Kafka record's."""
    return F.to_json(
        F.struct(
            "id_transacao",
            "id_usuario_pagador",
            "id_usuario_recebedor",
            "id_regiao",
            "modalidade_pagamento",
            F.date_format(
                "data_horario", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
            ).alias("data_horario"),
            "valor_transacao",
        )
    ).alias("value")


def write_replay_chunks(
    spark: SparkSession, sf_dir: str, out_dir: str, n_chunks: int = 8
) -> int:
    """Serialize `transactions` to JSON-lines text chunks for replay.

    Timestamps are ISO-8601 strings, like the producer ships them
    (producer.py:99,162). Returns the row count written (counted on the
    cached envelope — no second derivation of the events table).
    """
    t = datamodel.transactions(spark, sf_dir)
    envelope = t.select(_wire_value()).cache()
    n = envelope.count()
    envelope.repartition(n_chunks).write.mode("overwrite").text(out_dir)
    envelope.unpersist()
    return n


def parse_wire(raw: DataFrame, ingest: Column) -> DataFrame:
    """Shared wire parser (P1/P2/F1/F2): `value` -> from_json against the
    7-field schema -> flatten, plus the ingest mark (F11). EVERY source —
    Kafka, file replay, or a future socket/rate source — funnels through
    this one projection, so the downstream pipeline is source-agnostic by
    construction; tests/test_formats.py pins that the Kafka-shaped and
    file-shaped inputs yield byte-identical parsed schemas and rows."""
    return raw.select(
        F.from_json(
            F.col("value").cast("string"), transaction_schema()
        ).alias("dados"),
        ingest.alias("tempo_entrada_kafka"),
    ).select("dados.*", "tempo_entrada_kafka")


def read_transaction_stream(
    spark: SparkSession,
    source_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """S4: directory file-stream -> shared wire parse, with a
    processing-time ingest mark (streaming_etl.py:60)."""
    reader = spark.readStream.format("text")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.load(source_dir)
    return parse_wire(raw, F.current_timestamp())


def read_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str = "bank_transactions",
    max_offsets_per_trigger: int = 1000,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """S1: the production Kafka source (streaming_etl.py:36-46) — subscribe,
    earliest offsets, intake cap, tolerant of data loss. Same downstream
    contract as the file replay. Requires the spark-sql-kafka connector jar
    (pass spark.jars.packages at session build); raises AnalysisException
    at start() when absent."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("maxOffsetsPerTrigger", max_offsets_per_trigger)
        .option("failOnDataLoss", "false")
        .load()
    )
    # Kafka carries a broker-assigned ingest timestamp; the file replay
    # stamps processing time. Same parser either way.
    return parse_wire(raw, F.col("timestamp"))


def read_socket_stream(
    spark: SparkSession, host: str = "127.0.0.1", port: int = 9999
) -> DataFrame:
    """S1 live-wire twin over Spark's BUILT-IN socket source: a real
    network stream of the producer's JSON-lines wire format (one
    transaction per line, exactly what the reference's producer writes
    to its topic, producer.py:106-114,162) ingested live and funneled
    through the same `parse_wire` as Kafka and the file replay.

    The sandbox has no Kafka broker or connector jar, so this is the
    EXECUTED proof of live network ingestion + source-agnosticism
    (tests/test_streaming.py serves the wire over a local TCP socket and
    differentials the parsed stream against the batch parse of the same
    bytes). The socket source is Spark's testing source — at-most-once,
    no offsets — so production stays on `read_kafka_stream`; everything
    downstream of `parse_wire` is shared and source-blind."""
    raw = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )
    return parse_wire(raw, F.current_timestamp())


# --- documents replay (the curation suite's stream twin) ---------------------

#: deterministic synthetic event-time base for the documents stream —
#: documents are a batch table, but watermarked streaming state needs an
#: event-time axis; epoch + doc_id seconds is reproducible in both the
#: writer and any batch twin.
_DOC_EVENT_EPOCH = 1_704_067_200  # 2024-01-01T00:00:00Z


def document_schema() -> T.StructType:
    """Wire schema of the replayed `documents` stream (the 5 table columns
    plus the synthetic event_ts)."""
    return T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
            T.StructField("event_ts", T.TimestampType()),
        ]
    )


def write_document_chunks(
    spark: SparkSession, sf_dir: str, out_dir: str, n_chunks: int = 8
) -> int:
    """Serialize `documents` to JSON-lines chunks for streaming replay —
    the S4 pattern applied to the LLM-curation suite. Returns rows
    written."""
    d = datamodel.load_table(spark, sf_dir, "documents")
    envelope = d.select(
        F.to_json(
            F.struct(
                "doc_id",
                "text",
                "lang",
                "source",
                "n_chars",
                F.date_format(
                    F.timestamp_seconds(
                        F.lit(_DOC_EVENT_EPOCH) + F.col("doc_id")
                    ),
                    "yyyy-MM-dd'T'HH:mm:ss",
                ).alias("event_ts"),
            )
        ).alias("value")
    ).cache()
    n = envelope.count()
    envelope.repartition(n_chunks).write.mode("overwrite").text(out_dir)
    envelope.unpersist()
    return n


def read_document_stream(
    spark: SparkSession,
    source_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-stream the document chunks: raw line -> from_json -> flatten,
    mirroring read_transaction_stream (source-agnostic downstream)."""
    reader = spark.readStream.format("text")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.load(source_dir)
    return raw.select(
        F.from_json(F.col("value").cast("string"), document_schema()).alias(
            "d"
        )
    ).select("d.*")


def write_embedding_chunks(
    spark: SparkSession, sf_dir: str, out_dir: str, n_chunks: int = 8
) -> int:
    """Serialize `embeddings` to parquet chunks for streaming replay — the
    S4 directory-replay pattern for the vector side of the curation
    suite. Parquet (not a JSON wire) keeps the float vectors bit-exact,
    so stream-vs-batch differentials compare with equality, never a
    float tolerance. Returns rows written."""
    e = datamodel.load_table(spark, sf_dir, "embeddings")
    n = e.count()
    e.repartition(n_chunks).write.mode("overwrite").parquet(out_dir)
    return n


def read_embedding_stream(
    spark: SparkSession,
    source_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-stream the embedding chunks (schema peeked from the parquet
    footers batch-side, as the file-stream source requires)."""
    schema = spark.read.parquet(source_dir).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_dir)


def write_replay_chunks_ordered(
    spark: SparkSession, sf_dir: str, out_dir: str, n_chunks: int = 8
) -> int:
    """Time-ordered replay: like `write_replay_chunks`, but chunk k holds
    the k-th time-range of the stream and chunks are written
    SEQUENTIALLY, so the file-stream source (which processes oldest
    modification time first) replays events in global event-time order —
    the log-replay contract an order-sensitive stateful operator (e.g.
    `transition_counts_stream`) needs for an exact stream-vs-batch
    differential. The global sort is a replay-harness cost, not an
    operator cost (a real log is already time-ordered)."""
    import time as _time

    t = datamodel.transactions(spark, sf_dir)
    envelope = t.select(
        F.col("data_horario").alias("_ts"),
        F.col("id_transacao").alias("_id"),
        _wire_value(),
    )
    from pyspark.sql import Window as W

    chunked = envelope.withColumn(
        "_chunk",
        F.ntile(n_chunks).over(W.orderBy(F.asc("_ts"), F.asc("_id"))),
    ).cache()
    n = chunked.count()
    for k in range(1, n_chunks + 1):
        (
            chunked.filter(F.col("_chunk") == k)
            .orderBy(F.asc("_ts"), F.asc("_id"))
            .select("value")
            .coalesce(1)
            .write.mode("append")
            .text(out_dir)
        )
        _time.sleep(0.05)  # distinct mtimes -> deterministic replay order
    chunked.unpersist()
    return n

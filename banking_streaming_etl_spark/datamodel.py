"""Canonical banking data model over the driver's TPC-H-ish tables.

The reference's entities (SURVEY.md §1.4, FIXTURES.md §6) are carried by the
driver parquet tables:

- transactions stream  <- ``events``   (event_id, ts, user_id, event_type,
                                        value, props JSON)
- usuarios dimension   <- ``customer`` (c_custkey, c_nationkey, c_acctbal,
                                        c_mktsegment)
- regioes dimension    <- ``nation`` x ``region`` (n_nationkey 0..24)

This module defines the mapping ONCE, in two synchronized dialects:

1. Spark DataFrame builders (`transactions`, `users`, `regions`,
   `enriched_transactions`) — the engine's code path.
2. DuckDB SQL CTE text (`SQL_CTES`) — prepended to every oracle query so the
   correctness gate checks the exact same derivation.

All derived columns are simple deterministic arithmetic so IEEE-double
results are bit-identical between Spark and DuckDB.

Reference contracts mirrored here:
- 7-column transaction contract: containers/producer/producer.py:106-114
- usuarios DDL (saldo + 4 per-modality limits):
  containers/db-seed/historic_data_mock.py:23-33
- regioes DDL (lat/lon + monthly average + fraud count):
  containers/db-seed/historic_data_mock.py:65-72
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from banking_streaming_etl_spark.operators import memo

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: modality vocabulary = the driver's event_type values; plays the
#: reference's {PIX, TED, DOC, Boleto} (producer.py:33).
MODALITIES = ("click", "error", "purchase", "signup", "view")

#: per-modality limit weight (reference seeds one limit value for all four
#: modalities, historic_data_mock.py:135-136; we vary by modality so the
#: chained-CASE limit pick — streaming_etl.py:136-149 — is actually exercised).
LIMIT_WEIGHTS = {
    "click": 1.0,
    "error": 0.9,
    "purchase": 0.8,
    "signup": 0.7,
    "view": 0.6,
}

#: t6 value threshold (reference uses 2000 BRL, streaming_etl.py:121-123;
#: scaled to the driver's value distribution, median ~35, max ~560).
T6_VALUE_THRESHOLD = 100.0

#: approval threshold on score_medio (streaming_etl.py:130-132).
SCORE_THRESHOLD = 6.0

N_REGIONS = 25  # nation keys are 0..24 at every scale factor


#: driver parquet timestamp encoding has varied across rounds:
#: TIMESTAMP(NANOS) (Spark's vectorized reader rejects it unless read as raw
#: longs) and plain timestamp[us] with no timezone (Spark reads
#: TIMESTAMP_NTZ).  Both are normalized here to session-UTC TIMESTAMP so
#: downstream hour()/date_trunc()/unix_micros() work identically, and so the
#: oracle CTEs' CAST(ts AS TIMESTAMP) stays a value-preserving no-op in
#: DuckDB (which reads the same files as naive microsecond timestamps).
_TS_COLUMNS = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table with its timestamps normalized (see
    _TS_COLUMNS). Session-memoized as the ``table:<name>`` entry of
    operators/memo.shared: `spark.read.parquet` pays file listing +
    footer schema inference on EVERY call (~0.2-0.3 s of driver time
    per table) and a typical query build loads 2-4 tables, so every
    later call returns the SAME (immutable) DataFrame object."""

    def _build() -> DataFrame:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # hour()/date_trunc() must agree with DuckDB's UTC-naive timestamps
        # even when the caller (e.g. the verify driver) built its own
        # session.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        dtypes = dict(df.dtypes)
        for c in _TS_COLUMNS.get(name, ()):
            if dtypes.get(c) == "bigint":  # TIMESTAMP(NANOS) as raw longs
                df = df.withColumn(
                    c, F.timestamp_micros(F.expr(f"{c} div 1000"))
                )
            elif dtypes.get(c) == "timestamp_ntz":
                # naive micros; session tz is UTC so this cast is
                # value-preserving
                df = df.withColumn(c, F.col(c).cast("timestamp"))
        return df

    return memo.shared(spark, sf_dir, f"table:{name}", _build)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


# ---------------------------------------------------------------------------
# Spark builders
# ---------------------------------------------------------------------------


def transactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 7-column transaction contract (SURVEY.md §1.4) from `events`.

    - receiver id comes out of the JSON `props` envelope (the reference
      parses its JSON wire format with from_json, streaming_etl.py:56;
      here the envelope carries the receiver key).
    - tx region is a deterministic function of the event id (uniform over
      the 25 nation keys, like the producer's uniform UF choice,
      producer.py:110).
    """
    def _build() -> DataFrame:
        ev = load_table(spark, sf_dir, "events")
        return ev.select(
            F.col("event_id").alias("id_transacao"),
            F.col("user_id").alias("id_usuario_pagador"),
            F.get_json_object(F.col("props"), "$.k")
            .cast("long")
            .alias("id_usuario_recebedor"),
            (F.col("event_id") % N_REGIONS).alias("id_regiao"),
            F.col("event_type").alias("modalidade_pagamento"),
            F.col("ts").alias("data_horario"),
            F.col("value").alias("valor_transacao"),
        )

    return memo.shared(spark, sf_dir, "derived:transactions", _build)


def users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`usuarios` dimension from `customer` (saldo + per-modality limits)."""
    c = load_table(spark, sf_dir, "customer")
    base = F.lit(100.0) + F.greatest(F.col("c_acctbal"), F.lit(0.0))
    cols = [
        F.col("c_custkey").alias("id_usuario"),
        F.col("c_nationkey").alias("id_regiao_u"),
        F.col("c_acctbal").alias("saldo"),
        F.col("c_mktsegment").alias("segmento"),
    ]
    cols += [
        (base * F.lit(w)).alias(f"limite_{m}") for m, w in LIMIT_WEIGHTS.items()
    ]
    return c.select(*cols)


def regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`regioes` dimension from nation x region (27-row analogue: 25 rows).

    Coordinates / monthly averages / fraud counts are deterministic
    functions of the nation key (the reference hard-codes 27 literal rows,
    historic_data_mock.py:156-184; deterministic synthesis keeps the
    oracle SQL in lock-step).
    """
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    k = F.col("n_nationkey").cast("double")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            F.col("n_nationkey").alias("id_regiao"),
            F.col("n_name").alias("nome_regiao"),
            F.col("r_name").alias("macro_regiao"),
            (F.lit(-30.0) + k * F.lit(2.5)).alias("latitude"),
            (F.lit(-70.0) + k * F.lit(1.7)).alias("longitude"),
            (F.lit(1000.0) + k * F.lit(137.5)).alias("media_transacional_mensal"),
            (F.col("n_nationkey") % 7).alias("num_fraudes_ult_30d"),
        )
    )


def enrich(tx: DataFrame, u: DataFrame, reg: DataFrame) -> DataFrame:
    """The three (stream-)static LEFT joins (SURVEY.md §2.4 J1-J3), shared
    verbatim by the batch flagship and the streaming pipeline — `tx` may be
    bounded or unbounded (Structured Streaming's unification means the one
    definition serves both; the streaming twin adds only watermark and
    processing-time columns around it).

    transactions ⋈ users (payer) ⋈ regions (tx side) ⋈ regions (payer side).
    The dimension tables are small at every scale (users grows with sf but
    regions is 25 rows) — regions are explicitly broadcast; the payer join
    is left to Catalyst/AQE, which picks broadcast-hash while the dim fits
    (at 100 TB the payer dim would be the one to bucket/shuffle on
    id_usuario; the region joins stay broadcast at any scale).

    Rename-before-join to disambiguate the twice-joined region dim, exactly
    as the reference does (streaming_etl.py:97-112).
    """
    reg_t = reg.select(
        F.col("id_regiao").alias("id_regiao_t"),
        F.col("latitude").alias("latitude_t"),
        F.col("longitude").alias("longitude_t"),
        F.col("media_transacional_mensal").alias("media_transacional_mensal_t"),
        F.col("num_fraudes_ult_30d").alias("num_fraudes_ult_30d_t"),
    )
    reg_u = reg.select(
        F.col("id_regiao").alias("id_regiao_u_dim"),
        F.col("latitude").alias("latitude_u"),
        F.col("longitude").alias("longitude_u"),
    )

    return (
        tx.join(u, tx.id_usuario_pagador == u.id_usuario, "left")
        .join(F.broadcast(reg_t), F.col("id_regiao") == F.col("id_regiao_t"), "left")
        .join(
            F.broadcast(reg_u),
            F.col("id_regiao_u") == F.col("id_regiao_u_dim"),
            "left",
        )
        .drop("id_usuario", "id_regiao_t", "id_regiao_u_dim")
    )


def enriched_transactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch flavor of `enrich` over the canonical entities."""
    return memo.shared(
        spark,
        sf_dir,
        "derived:enriched",
        lambda: enrich(
            transactions(spark, sf_dir),
            users(spark, sf_dir),
            regions(spark, sf_dir),
        ),
    )


# ---------------------------------------------------------------------------
# DuckDB oracle CTEs — the same derivation in ANSI SQL.
# ---------------------------------------------------------------------------

_LIMIT_COLS_SQL = ",\n        ".join(
    f"(100.0 + GREATEST(c_acctbal, 0.0)) * {w} AS limite_{m}"
    for m, w in LIMIT_WEIGHTS.items()
)

SQL_CTES = f"""
transactions AS (
    SELECT
        event_id                                        AS id_transacao,
        user_id                                         AS id_usuario_pagador,
        CAST(json_extract_string(props, '$.k') AS BIGINT) AS id_usuario_recebedor,
        event_id % {N_REGIONS}                          AS id_regiao,
        event_type                                      AS modalidade_pagamento,
        CAST(ts AS TIMESTAMP)                           AS data_horario,
        value                                           AS valor_transacao
    FROM events
),
users AS (
    SELECT
        c_custkey    AS id_usuario,
        c_nationkey  AS id_regiao_u,
        c_acctbal    AS saldo,
        c_mktsegment AS segmento,
        {_LIMIT_COLS_SQL}
    FROM customer
),
regions AS (
    SELECT
        n_nationkey                                   AS id_regiao,
        n_name                                        AS nome_regiao,
        r_name                                        AS macro_regiao,
        -30.0 + CAST(n_nationkey AS DOUBLE) * 2.5     AS latitude,
        -70.0 + CAST(n_nationkey AS DOUBLE) * 1.7     AS longitude,
        1000.0 + CAST(n_nationkey AS DOUBLE) * 137.5  AS media_transacional_mensal,
        n_nationkey % 7                               AS num_fraudes_ult_30d
    FROM nation JOIN region ON n_regionkey = r_regionkey
),
enriched AS (
    SELECT
        t.*,
        u.id_regiao_u, u.saldo, u.segmento,
        {", ".join(f"u.limite_{m}" for m in MODALITIES)},
        rt.latitude  AS latitude_t,
        rt.longitude AS longitude_t,
        rt.media_transacional_mensal AS media_transacional_mensal_t,
        rt.num_fraudes_ult_30d       AS num_fraudes_ult_30d_t,
        ru.latitude  AS latitude_u,
        ru.longitude AS longitude_u
    FROM transactions t
    LEFT JOIN users   u  ON t.id_usuario_pagador = u.id_usuario
    LEFT JOIN regions rt ON t.id_regiao = rt.id_regiao
    LEFT JOIN regions ru ON u.id_regiao_u = ru.id_regiao
)
"""


def with_ctes(body: str, extra_ctes: str = "") -> str:
    """Compose an oracle query: shared CTEs (+ optional extras) + body."""
    extra = f",{extra_ctes}" if extra_ctes else ""
    return f"WITH {SQL_CTES}{extra}\n{body}"

"""Relational operator coverage beyond the reference's direct usage.

SURVEY.md §2.8 notes the reference uses no set ops / semi-anti joins /
frame-spec windows; a complete engine exposes them anyway (they are Spark
built-ins — the work is deterministic fixtures + oracle SQL). Every query
here is totally ordered where order affects values (window frames, top-K)
so results are reproducible on any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from banking_streaming_etl_spark import datamodel
from banking_streaming_etl_spark.functions import exact, portable


# --- semi / anti joins -------------------------------------------------------


def customers_without_tx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS): customers that never paid a transaction."""
    c = datamodel.users(spark, sf_dir)
    t = datamodel.transactions(spark, sf_dir)
    return c.join(
        t, c.id_usuario == t.id_usuario_pagador, "left_anti"
    ).select("id_usuario", "id_regiao_u", "saldo")


CUSTOMERS_WITHOUT_TX_SQL = datamodel.with_ctes(
    """
SELECT id_usuario, id_regiao_u, saldo
FROM users u
WHERE NOT EXISTS (
    SELECT 1 FROM transactions t WHERE t.id_usuario_pagador = u.id_usuario)"""
)


def customers_with_tx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (EXISTS): customers with at least one payment."""
    c = datamodel.users(spark, sf_dir)
    t = datamodel.transactions(spark, sf_dir)
    return c.join(
        t, c.id_usuario == t.id_usuario_pagador, "left_semi"
    ).select("id_usuario", "id_regiao_u", "saldo")


CUSTOMERS_WITH_TX_SQL = datamodel.with_ctes(
    """
SELECT id_usuario, id_regiao_u, saldo
FROM users u
WHERE EXISTS (
    SELECT 1 FROM transactions t WHERE t.id_usuario_pagador = u.id_usuario)"""
)


# --- set operations ----------------------------------------------------------


def payer_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT over payer-id sets of two modalities,
    tagged and unioned into one result frame."""
    t = datamodel.transactions(spark, sf_dir)
    clicks = t.filter(F.col("modalidade_pagamento") == "click").select(
        "id_usuario_pagador"
    )
    buys = t.filter(F.col("modalidade_pagamento") == "purchase").select(
        "id_usuario_pagador"
    )
    u = clicks.union(buys).distinct().withColumn("op", F.lit("union"))
    i = clicks.intersect(buys).withColumn("op", F.lit("intersect"))
    e = clicks.subtract(buys).withColumn("op", F.lit("except"))  # EXCEPT DISTINCT
    return u.union(i).union(e)


PAYER_SET_OPS_SQL = datamodel.with_ctes(
    """
SELECT id_usuario_pagador, 'union' AS op FROM (
    SELECT id_usuario_pagador FROM transactions WHERE modalidade_pagamento = 'click'
    UNION
    SELECT id_usuario_pagador FROM transactions WHERE modalidade_pagamento = 'purchase')
UNION ALL
SELECT id_usuario_pagador, 'intersect' AS op FROM (
    SELECT id_usuario_pagador FROM transactions WHERE modalidade_pagamento = 'click'
    INTERSECT
    SELECT id_usuario_pagador FROM transactions WHERE modalidade_pagamento = 'purchase')
UNION ALL
SELECT id_usuario_pagador, 'except' AS op FROM (
    SELECT DISTINCT id_usuario_pagador FROM transactions WHERE modalidade_pagamento = 'click'
    EXCEPT
    SELECT DISTINCT id_usuario_pagador FROM transactions WHERE modalidade_pagamento = 'purchase')"""
)


# --- distinct aggregation ----------------------------------------------------


def distinct_payers_per_modality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) per group (exact; approx_count_distinct is exposed in
    the API but not oracle-checkable bit-for-bit)."""
    t = datamodel.transactions(spark, sf_dir)
    return t.groupBy("modalidade_pagamento").agg(
        F.countDistinct("id_usuario_pagador").alias("pagadores_distintos"),
        F.count("*").alias("total"),
    )


DISTINCT_PAYERS_SQL = datamodel.with_ctes(
    """
SELECT modalidade_pagamento,
       COUNT(DISTINCT id_usuario_pagador) AS pagadores_distintos,
       COUNT(*) AS total
FROM transactions GROUP BY modalidade_pagamento"""
)


# --- rollup ------------------------------------------------------------------


def rollup_modality_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ROLLUP (modality, region): subtotals + grand total."""
    t = datamodel.transactions(spark, sf_dir)
    return t.rollup("modalidade_pagamento", "id_regiao").agg(
        F.count("*").alias("total"),
        exact.exact_sum("valor_transacao", "valor_total"),
    )


ROLLUP_SQL = datamodel.with_ctes(
    f"""
SELECT modalidade_pagamento, id_regiao, COUNT(*) AS total,
       {exact.sql_sum('valor_transacao', 'valor_total')}
FROM transactions
GROUP BY ROLLUP (modalidade_pagamento, id_regiao)"""
)


def grouping_sets_modality_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the general form rollup/cube specialize:
    per-modality totals and per-hour totals in ONE pass over the fact
    (Expand doubles the rows into both grouping shapes, then a single
    partial-agg + shuffle) — how a dashboard fan-out avoids N separate
    scans of a 100 TB fact."""
    t = datamodel.transactions(spark, sf_dir).withColumn(
        "hora", F.hour("data_horario")
    )
    return t.groupingSets(
        [["modalidade_pagamento"], ["hora"]],
        "modalidade_pagamento",
        "hora",
    ).agg(
        F.grouping_id().alias("gid"),
        F.count("*").alias("total"),
        exact.exact_sum("valor_transacao", "valor_total"),
    )


GROUPING_SETS_SQL = datamodel.with_ctes(
    f"""
SELECT modalidade_pagamento, hora,
       CASE WHEN modalidade_pagamento IS NULL THEN 2 ELSE 1 END AS gid,
       COUNT(*) AS total,
       {exact.sql_sum('valor_transacao', 'valor_total')}
FROM (SELECT *, EXTRACT(hour FROM data_horario) AS hora FROM transactions)
GROUP BY GROUPING SETS ((modalidade_pagamento), (hora))"""
)


def unpivot_user_limits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): the wide per-modality limit columns back to long
    (id, modalidade, limite) — the inverse of the pivot family."""
    u = datamodel.users(spark, sf_dir)
    return u.unpivot(
        ids=["id_usuario"],
        values=[f"limite_{m}" for m in datamodel.MODALITIES],
        variableColumnName="modalidade",
        valueColumnName="limite",
    ).withColumn(
        "modalidade", F.replace(F.col("modalidade"), F.lit("limite_"), F.lit(""))
    )


UNPIVOT_SQL = datamodel.with_ctes(
    "SELECT id_usuario, modalidade, limite FROM (\n"
    + "\nUNION ALL\n".join(
        f"SELECT id_usuario, '{m}' AS modalidade, limite_{m} AS limite FROM users"
        for m in datamodel.MODALITIES
    )
    + "\n)"
)


def cube_modality_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY CUBE: all grouping-set combinations + grouping_id to
    disambiguate rollup NULLs from data NULLs."""
    t = datamodel.transactions(spark, sf_dir)
    return t.cube("modalidade_pagamento", "id_regiao").agg(
        F.grouping_id().alias("gid"),
        F.count("*").alias("total"),
    )


CUBE_SQL = datamodel.with_ctes(
    """
SELECT modalidade_pagamento, id_regiao,
       GROUPING(modalidade_pagamento, id_regiao) AS gid,
       COUNT(*) AS total
FROM transactions
GROUP BY CUBE (modalidade_pagamento, id_regiao)"""
)


# --- pivot (true columnar pivot, A9) ------------------------------------------


def pivot_returnflag_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy().pivot().count() with explicit pivot values (stable schema),
    nulls filled with 0 like the dashboard's unstack(fill_value=0)."""
    li = datamodel.load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .count()
        .na.fill(0)
        .withColumnsRenamed({"F": "status_f", "O": "status_o"})
    )


PIVOT_SQL = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS status_f,
       CAST(SUM(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS status_o
FROM lineitem GROUP BY l_returnflag
"""


# --- window frames / ranking ---------------------------------------------------


def running_total_per_payer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running SUM over rowsBetween(unboundedPreceding, currentRow) with a
    total order (ts, id) — prefix sums accumulate in DECIMAL for parity."""
    t = datamodel.transactions(spark, sf_dir)
    w = (
        W.partitionBy("id_usuario_pagador")
        .orderBy("data_horario", "id_transacao")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return t.select(
        "id_transacao",
        "id_usuario_pagador",
        "valor_transacao",
        F.sum(F.round(F.col("valor_transacao"), 6).cast(exact.DEC))
        .over(w)
        .cast("double")
        .alias("valor_acumulado"),
    )


RUNNING_TOTAL_SQL = datamodel.with_ctes(
    """
SELECT id_transacao, id_usuario_pagador, valor_transacao,
       CAST(SUM(CAST(ROUND(valor_transacao, 6) AS DECIMAL(28,6))) OVER (
           PARTITION BY id_usuario_pagador
           ORDER BY data_horario, id_transacao
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS valor_acumulado
FROM transactions"""
)


#: trailing window width of the rolling robust baseline (ROWS frame).
ROLLING_MEDIAN_W = 5


def rolling_median_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling LOWER median of each payer's last ROLLING_MEDIAN_W
    transaction values (ROWS frame, total order ts+id) — the robust
    trailing baseline an anomaly screen compares the next amount against
    (a single whale transaction shifts a rolling MEAN for W rows; the
    median shrugs it off).

    Engine-portable exactness: the frame's values are collected per row
    (bounded: <= W elements), sorted, and the ((n+1) div 2)-th element
    taken — the LOWER median, an EXACT element selection, never the
    even-count interpolation whose (a+b)/2 halving the two engines might
    associate differently. Both dialects express it as the same
    sort+pick, so doubles are bit-identical.

    Scale shape: one payer-keyed window shuffle; per-row state is the
    <= W-element list (constant), so the frame collect is O(W) per row —
    nothing like the unbounded collect_list antipattern."""
    t = datamodel.transactions(spark, sf_dir)
    w = (
        W.partitionBy("id_usuario_pagador")
        .orderBy("data_horario", "id_transacao")
        .rowsBetween(-(ROLLING_MEDIAN_W - 1), W.currentRow)
    )
    arr = F.array_sort(F.collect_list("valor_transacao").over(w))
    return t.select(
        "id_transacao",
        "id_usuario_pagador",
        "valor_transacao",
        F.element_at(
            arr, ((F.size(arr) + 1) / 2).cast("int")
        ).alias("mediana_movel"),
    )


ROLLING_MEDIAN_SQL = datamodel.with_ctes(
    f"""
SELECT id_transacao, id_usuario_pagador, valor_transacao,
       lst[CAST((LEN(lst) + 1) // 2 AS BIGINT)] AS mediana_movel
FROM (
    SELECT id_transacao, id_usuario_pagador, valor_transacao,
           list_sort(list(valor_transacao) OVER (
               PARTITION BY id_usuario_pagador
               ORDER BY data_horario, id_transacao
               ROWS BETWEEN {ROLLING_MEDIAN_W - 1} PRECEDING
                        AND CURRENT ROW)) AS lst
    FROM transactions
)"""
)


def lag_lead_per_payer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG/LEAD + time-since-previous per payer (total order incl. tiebreak)."""
    t = datamodel.transactions(spark, sf_dir)
    w = W.partitionBy("id_usuario_pagador").orderBy(
        "data_horario", "id_transacao"
    )
    prev_ts = F.lag("data_horario").over(w)
    return t.select(
        "id_transacao",
        "id_usuario_pagador",
        F.lag("valor_transacao").over(w).alias("valor_anterior"),
        F.lead("valor_transacao").over(w).alias("valor_seguinte"),
        (
            F.unix_micros(F.col("data_horario")) - F.unix_micros(prev_ts)
        ).alias("micros_desde_anterior"),
    )


LAG_LEAD_SQL = datamodel.with_ctes(
    """
SELECT id_transacao, id_usuario_pagador,
       LAG(valor_transacao) OVER w AS valor_anterior,
       LEAD(valor_transacao) OVER w AS valor_seguinte,
       EPOCH_US(data_horario) - EPOCH_US(LAG(data_horario) OVER w)
           AS micros_desde_anterior
FROM transactions
WINDOW w AS (PARTITION BY id_usuario_pagador
             ORDER BY data_horario, id_transacao)"""
)


def top3_tx_per_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group: row_number over (region, valor desc) <= 3 — the
    scalable 'top N per key' pattern (one shuffle, no global sort)."""
    t = datamodel.transactions(spark, sf_dir)
    w = W.partitionBy("id_regiao").orderBy(
        F.desc("valor_transacao"), F.desc("id_transacao")
    )
    return (
        t.withColumn("posicao", F.row_number().over(w))
        .filter(F.col("posicao") <= 3)
        .select("id_regiao", "posicao", "id_transacao", "valor_transacao")
    )


TOP3_PER_REGION_SQL = datamodel.with_ctes(
    """
SELECT id_regiao, posicao, id_transacao, valor_transacao
FROM (
    SELECT id_regiao, id_transacao, valor_transacao,
           ROW_NUMBER() OVER (PARTITION BY id_regiao
                              ORDER BY valor_transacao DESC,
                                       id_transacao DESC) AS posicao
    FROM transactions)
WHERE posicao <= 3"""
)


def value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE(4) over a total order -> per-quartile stats.

    Scale note: an unpartitioned window forces a single-partition sort.
    Fine here (the output is 4 summary rows and quartile boundaries need a
    global order anyway); for per-key quantiles at 100 TB use
    percentile_approx per group instead — see perf_stats_by_modality."""
    t = datamodel.transactions(spark, sf_dir)
    w = W.orderBy("valor_transacao", "id_transacao")
    return (
        t.withColumn("quartil", F.ntile(4).over(w))
        .groupBy("quartil")
        .agg(
            F.count("*").alias("total"),
            F.min("valor_transacao").alias("valor_min"),
            F.max("valor_transacao").alias("valor_max"),
        )
    )


VALUE_QUARTILES_SQL = datamodel.with_ctes(
    """
SELECT quartil, COUNT(*) AS total,
       MIN(valor_transacao) AS valor_min,
       MAX(valor_transacao) AS valor_max
FROM (
    SELECT valor_transacao,
           NTILE(4) OVER (ORDER BY valor_transacao, id_transacao) AS quartil
    FROM transactions)
GROUP BY quartil"""
)


def value_rank_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-family windows per modality: NTILE(10) decile, PERCENT_RANK,
    CUME_DIST over a total order (valor, id tiebreak). Partitioned window
    — one shuffle on the partition key, per-key sort; both rank ratios
    are exact-integer divisions so cross-engine doubles are identical."""
    t = datamodel.transactions(spark, sf_dir)
    w = W.partitionBy("modalidade_pagamento").orderBy(
        "valor_transacao", "id_transacao"
    )
    return t.select(
        "id_transacao",
        "modalidade_pagamento",
        "valor_transacao",
        F.ntile(10).over(w).alias("decil"),
        F.dense_rank().over(w).alias("posicao_densa"),
        F.round(F.percent_rank().over(w), 6).alias("rank_percentual"),
        F.round(F.cume_dist().over(w), 6).alias("dist_acumulada"),
    )


VALUE_RANK_METRICS_SQL = datamodel.with_ctes(
    """
SELECT id_transacao, modalidade_pagamento, valor_transacao,
       NTILE(10) OVER w AS decil,
       DENSE_RANK() OVER w AS posicao_densa,
       ROUND(PERCENT_RANK() OVER w, 6) AS rank_percentual,
       ROUND(CUME_DIST() OVER w, 6) AS dist_acumulada
FROM transactions
WINDOW w AS (PARTITION BY modalidade_pagamento
             ORDER BY valor_transacao, id_transacao)"""
)


# --- sessionization (lag + gap cumsum) -----------------------------------------

SESSION_GAP_MINUTES = 30


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: new session when the gap to the previous event of the
    same user exceeds 30 min; session id = running count of session starts.
    The canonical lag+cumsum window composition (guide §OLAP patterns);
    the streaming twin is session_window() in streaming/windows.py."""
    t = datamodel.transactions(spark, sf_dir)
    w = W.partitionBy("id_usuario_pagador").orderBy(
        "data_horario", "id_transacao"
    )
    gap_us = F.unix_micros(F.col("data_horario")) - F.unix_micros(
        F.lag("data_horario").over(w)
    )
    is_new = F.when(
        gap_us.isNull() | (gap_us > SESSION_GAP_MINUTES * 60 * 1_000_000), 1
    ).otherwise(0)
    cum = W.partitionBy("id_usuario_pagador").orderBy(
        "data_horario", "id_transacao"
    ).rowsBetween(W.unboundedPreceding, W.currentRow)
    sess = t.withColumn("nova_sessao", is_new).withColumn(
        "sessao", F.sum("nova_sessao").over(cum)
    )
    return sess.groupBy("id_usuario_pagador", "sessao").agg(
        F.count("*").alias("eventos"),
        F.min("data_horario").alias("inicio"),
        F.max("data_horario").alias("fim"),
    )


SESSIONIZE_SQL = datamodel.with_ctes(
    f"""
SELECT id_usuario_pagador, CAST(sessao AS BIGINT) AS sessao, COUNT(*) AS eventos,
       MIN(data_horario) AS inicio, MAX(data_horario) AS fim
FROM (
    SELECT *, SUM(nova_sessao) OVER (
        PARTITION BY id_usuario_pagador
        ORDER BY data_horario, id_transacao
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sessao
    FROM (
        SELECT id_usuario_pagador, data_horario, id_transacao,
            CASE WHEN LAG(data_horario) OVER (
                    PARTITION BY id_usuario_pagador
                    ORDER BY data_horario, id_transacao) IS NULL
                 OR EPOCH_US(data_horario) - EPOCH_US(LAG(data_horario) OVER (
                    PARTITION BY id_usuario_pagador
                    ORDER BY data_horario, id_transacao))
                    > {SESSION_GAP_MINUTES} * 60 * 1000000
                 THEN 1 ELSE 0 END AS nova_sessao
        FROM transactions))
GROUP BY id_usuario_pagador, sessao"""
)


# --- JSON envelope roundtrip (F1/F22) ------------------------------------------


def json_envelope_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F22 + F1: serialize the tx to a JSON envelope with to_json(struct(...))
    then parse it back with from_json — the reference's Kafka wire format
    (producer.py:162 / streaming_etl.py:56). Output is the parsed fields, so
    the oracle checks semantics without hashing engine-specific JSON spacing."""
    from pyspark.sql import types as T

    t = datamodel.transactions(spark, sf_dir)
    envelope = F.to_json(
        F.struct("id_transacao", "modalidade_pagamento", "valor_transacao")
    )
    schema = T.StructType(
        [
            T.StructField("id_transacao", T.LongType()),
            T.StructField("modalidade_pagamento", T.StringType()),
            T.StructField("valor_transacao", T.DoubleType()),
        ]
    )
    parsed = F.from_json(envelope, schema).alias("dados")
    return t.select(parsed).select("dados.*")


JSON_ROUNDTRIP_SQL = datamodel.with_ctes(
    "SELECT id_transacao, modalidade_pagamento, valor_transacao FROM transactions"
)


N_SALTS = 16


def payer_totals_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof per-payer totals via two-stage salted aggregation
    (operators/skew.py pattern, wired with DECIMAL accumulation so the
    salt split is provably semantics-preserving — the oracle is the
    PLAIN single-stage GROUP BY and the hashes must still match).

    Salt = xxhash64(tx id) % N_SALTS: deterministic per row, independent
    of partition layout (never rand()). Stage 1 shuffles on (payer,
    salt) so a hyperactive payer spreads over N_SALTS reducers; stage 2
    re-aggregates N_SALTS-x fewer rows on payer alone. Exact decimal
    partials make the two-stage sum bit-identical to the one-stage."""
    t = datamodel.transactions(spark, sf_dir)
    salted = t.withColumn(
        "_salt", F.pmod(F.xxhash64("id_transacao"), F.lit(N_SALTS))
    )
    partial = salted.groupBy("id_usuario_pagador", "_salt").agg(
        F.count("*").alias("_c"),
        F.sum(
            F.round(F.col("valor_transacao"), 6).cast(exact.DEC)
        ).alias("_s"),
    )
    return partial.groupBy("id_usuario_pagador").agg(
        F.sum("_c").alias("total_transacoes"),
        F.sum("_s").cast("double").alias("valor_total"),
    )


PAYER_TOTALS_SALTED_SQL = datamodel.with_ctes(
    """
SELECT id_usuario_pagador,
       COUNT(*) AS total_transacoes,
       CAST(SUM(CAST(ROUND(valor_transacao, 6) AS DECIMAL(28,6))) AS DOUBLE)
           AS valor_total
FROM transactions
GROUP BY id_usuario_pagador"""
)


# --- trailing-hour velocity (RANGE frame) ------------------------------------


def tx_velocity_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-transaction trailing-1-hour velocity features for the SAME
    payer: event count and exact-decimal value sum over a RANGE frame on
    epoch seconds — the window-frame type (rangeBetween on a value axis)
    the rest of the window family doesn't exercise, and the batch twin of
    a per-key sliding-window stream aggregate (T6).

    Epoch seconds derive via integer `div` of unix_micros (floor in both
    dialects — DuckDB's epoch() returns a rounding double, avoided).
    RANGE frames include ALL peer rows at equal epoch_s in both engines,
    so ties need no ordering tiebreak. One (payer)-keyed window shuffle."""
    t = datamodel.transactions(spark, sf_dir).withColumn(
        "epoch_s", F.expr("unix_micros(data_horario) div 1000000")
    )
    w = (
        W.partitionBy("id_usuario_pagador")
        .orderBy("epoch_s")
        .rangeBetween(-3600, 0)
    )
    return t.select(
        "id_transacao",
        "id_usuario_pagador",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.sum(exact._d(F.col("valor_transacao")))
        .over(w)
        .cast("double")
        .alias("valor_1h"),
    )


TX_VELOCITY_SQL = datamodel.with_ctes(
    """
SELECT id_transacao, id_usuario_pagador,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
       CAST(SUM(CAST(ROUND(valor_transacao, 6) AS DECIMAL(28,6))) OVER w
            AS DOUBLE) AS valor_1h
FROM (
    SELECT *, epoch_us(CAST(data_horario AS TIMESTAMP)) // 1000000 AS epoch_s
    FROM transactions
)
WINDOW w AS (
    PARTITION BY id_usuario_pagador
    ORDER BY epoch_s
    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
)"""
)


# --- ordered string aggregation (LISTAGG / STRING_AGG) -----------------------


def region_modalities_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation: per region, the alphabetically sorted
    distinct modalities as ONE text column (LISTAGG/STRING_AGG — the
    manifest-building aggregate). collect_set alone is partition-order-
    dependent; array_sort before array_join imposes the total order that
    makes the result deterministic and hash-comparable, and the output is
    text rather than an array (driver canonicalization can't sort list
    columns). One small-key shuffle with map-side partial sets."""
    t = datamodel.transactions(spark, sf_dir)
    return t.groupBy("id_regiao").agg(
        F.array_join(
            F.array_sort(F.collect_set("modalidade_pagamento")), ","
        ).alias("modalidades"),
        F.countDistinct("modalidade_pagamento").alias("n_modalidades"),
    )


REGION_MODALITIES_LISTAGG_SQL = datamodel.with_ctes(
    """
SELECT id_regiao,
       array_to_string(list_sort(list_distinct(list(modalidade_pagamento))),
                       ',') AS modalidades,
       COUNT(DISTINCT modalidade_pagamento) AS n_modalidades
FROM transactions
GROUP BY id_regiao"""
)


# --- deterministic mode (most-frequent value per group) ----------------------


def modality_mode_per_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-region MODE of the payment modality with a deterministic
    tie-break (highest count, then alphabetically first) — the built-in
    `mode()` leaves ties unspecified, which can never hash-match across
    engines. Two-level shape: the heavy groupBy collapses the fact table
    to (region x modality) counts; the rank window then runs on that
    TINY aggregate (cardinality = group keys, not rows), so the window
    cost is constant at any corpus size."""
    t = datamodel.transactions(spark, sf_dir)
    counts = t.groupBy("id_regiao", "modalidade_pagamento").agg(
        F.count("*").alias("n")
    )
    w = W.partitionBy("id_regiao").orderBy(
        F.desc("n"), F.asc("modalidade_pagamento")
    )
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "id_regiao",
            F.col("modalidade_pagamento").alias("modalidade_mais_comum"),
            "n",
        )
    )


MODALITY_MODE_SQL = datamodel.with_ctes(
    """
SELECT id_regiao, modalidade_pagamento AS modalidade_mais_comum, n
FROM (
    SELECT id_regiao, modalidade_pagamento, COUNT(*) AS n,
           ROW_NUMBER() OVER (
               PARTITION BY id_regiao
               ORDER BY COUNT(*) DESC, modalidade_pagamento ASC
           ) AS rk
    FROM transactions
    GROUP BY id_regiao, modalidade_pagamento
)
WHERE rk = 1"""
)


# --- engine-portable KMV distinct sketch -------------------------------------

#: k-minimum-values sketch size: estimate = (k-1) * M / h_k where h_k is
#: the k-th smallest distinct hash and M the hash range. Relative error
#: ~ 1/sqrt(k-2) (~13% at k=64).
KMV_K = 64
_KMV_M = 2147483648  # the portable LCG's range (2^31)
#: salt fan-out of the stage-1 bottom-K: each stage-1 rank partition holds
#: ~1/KMV_SALTS of a modality's distinct hashes, so no single task ever
#: sorts the full distinct-hash stream.
KMV_SALTS = 32


def kmv_distinct_payers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct payers per modality via a K-minimum-values
    sketch (Bar-Yossef et al. 2002) over the engine-portable LCG hash —
    unlike HLL/approx_count_distinct (whose hashes differ per engine and
    can never hash-match), the KMV estimate is a deterministic closed
    form both dialects compute identically, so an APPROXIMATE operator
    becomes oracle-checkable. Exact count rides along as the error
    witness.

    Scale shape: distinct (modality, h) pairs — one shuffle; the k-th
    order statistic is computed as a TWO-STAGE mergeable bottom-K (the
    KMV merge property: union the min-sets, re-truncate to k). Stage 1
    ranks within (modality, salt) slices — salt = h % KMV_SALTS, a
    deterministic data-derived key — keeping the K smallest per slice;
    the global bottom-K has at most K members in ANY slice, so every
    survivor of the global rank survives stage 1. Stage 2 ranks the
    <= KMV_SALTS x K survivors per modality — a constant-size partition
    regardless of corpus cardinality. No task ever sorts a modality's
    full distinct-hash stream (the round-3 shape did: one rank window
    per modality over ALL distinct hashes)."""
    t = datamodel.transactions(spark, sf_dir)
    hashed = t.select(
        "modalidade_pagamento",
        portable.lcg_hash(F.col("id_usuario_pagador")).alias("h"),
    ).distinct()
    kth = (
        _kmv_bottom_k(hashed, with_rank=True)
        .filter(F.col("rk") == KMV_K)
        .select("modalidade_pagamento", F.col("h").alias("h_k"))
    )
    exact_cnt = t.groupBy("modalidade_pagamento").agg(
        F.countDistinct("id_usuario_pagador").alias("pagadores_exato")
    )
    est = F.round(
        F.lit(float(KMV_K - 1))
        * F.lit(float(_KMV_M))
        / F.col("h_k").cast("double"),
        6,
    )
    return (
        exact_cnt.join(kth, "modalidade_pagamento", "left")
        .select(
            "modalidade_pagamento",
            "pagadores_exato",
            F.when(F.col("h_k").isNotNull(), est).alias("pagadores_kmv"),
        )
    )


KMV_DISTINCT_SQL = datamodel.with_ctes(
    f"""
SELECT e.modalidade_pagamento, pagadores_exato,
       CASE WHEN h_k IS NOT NULL
            THEN ROUND({float(KMV_K - 1)!r} * {float(_KMV_M)!r}
                       / CAST(h_k AS DOUBLE), 6)
       END AS pagadores_kmv
FROM (
    SELECT modalidade_pagamento,
           COUNT(DISTINCT id_usuario_pagador) AS pagadores_exato
    FROM transactions GROUP BY 1
) e
LEFT JOIN (
    SELECT modalidade_pagamento, h AS h_k
    FROM (
        SELECT modalidade_pagamento, h,
               ROW_NUMBER() OVER (
                   PARTITION BY modalidade_pagamento ORDER BY h ASC
               ) AS rk
        FROM (
            SELECT DISTINCT modalidade_pagamento,
                   ((id_usuario_pagador % {_KMV_M}) * 1103515245 + 12345)
                       % {_KMV_M} AS h
            FROM transactions
        )
    )
    WHERE rk = {KMV_K}
) k ON e.modalidade_pagamento = k.modalidade_pagamento"""
)


# --- KMV set operations (union / intersection cardinality estimates) ---------


def _kmv_hashed_payers(t: DataFrame) -> DataFrame:
    """Distinct (modality, portable-LCG hash) pairs. The LCG multiply is
    by an odd constant mod 2^31, a bijection of payer % 2^31 — distinct
    payers map to distinct hashes, so sketch membership is collision-free
    by construction (not just with high probability)."""
    return t.select(
        "modalidade_pagamento",
        portable.lcg_hash(F.col("id_usuario_pagador")).alias("h"),
    ).distinct()


def _kmv_bottom_k(
    hashed: DataFrame,
    keys: tuple[str, ...] = ("modalidade_pagamento",),
    with_rank: bool = False,
) -> DataFrame:
    """Per-key bottom-K hash sketch via the ONE two-stage mergeable
    truncation every KMV query shares (stage 1 ranks (keys..., salt)
    slices, stage 2 ranks the <= KMV_SALTS x K survivors) — no task ever
    sorts a modality's full distinct-hash stream. Returns (modality, h)
    with |rows per modality| <= KMV_K."""
    pre_w = W.partitionBy(*keys, "kmv_salt").orderBy(F.asc("h"))
    pre = (
        hashed.withColumn("kmv_salt", F.col("h") % F.lit(KMV_SALTS))
        .withColumn("rk_pre", F.row_number().over(pre_w))
        .filter(F.col("rk_pre") <= KMV_K)
    )
    w = W.partitionBy(*keys).orderBy(F.asc("h"))
    out = pre.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= KMV_K
    )
    return out.select(*keys, "h", "rk") if with_rank else out.select(
        *keys, "h"
    )


def kmv_modality_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation cardinalities between modality payer-sets from
    MERGED KMV sketches: for every modality pair (a < b), estimate
    |A union B| from the re-truncated union of the two bottom-K sketches
    (the KMV merge property) and |A intersect B| via the sketch Jaccard
    (fraction of the union sketch's members present in BOTH input
    sketches — Beyer et al. 2007). Exact counts ride along as the error
    witness. Like `kmv_distinct_payers`, every estimate is a
    deterministic closed form over the portable LCG hash, so an
    approximate DISTRIBUTIVE set-op sketch becomes oracle-checkable.

    Scale shape: sketch construction is the two-stage bottom-K (no
    full-cardinality rank window); everything pairwise happens on
    K-sized sketches (n_modalities x KMV_K rows — broadcast-sized
    regardless of corpus cardinality). The exact witness is one
    payer-keyed self-join, the same one shuffle `pagadores_exato`
    pays.

    Three frames with several consumers each are pinned once per
    session (memo.shared_frame): the sketch (modality pairs and both
    union sides), the re-truncated union sketch (its stats and the
    both-sketch count) and the distinct (modality, payer) projection
    (the counts and both exact self-join sides). All three are bounded:
    G x K sketch rows, pairs x K union rows, the distinct projection."""
    from banking_streaming_etl_spark.operators import memo

    t = datamodel.transactions(spark, sf_dir)
    sk = memo.shared_frame(
        spark,
        sf_dir,
        "kmv_sketch",
        lambda: _kmv_bottom_k(_kmv_hashed_payers(t)),
    )

    modal = sk.select("modalidade_pagamento").distinct()
    pairs = (
        modal.select(F.col("modalidade_pagamento").alias("ma"))
        .crossJoin(modal.select(F.col("modalidade_pagamento").alias("mb")))
        .filter(F.col("ma") < F.col("mb"))
    )

    ska = sk.select(F.col("modalidade_pagamento").alias("ma"), "h")
    skb = sk.select(F.col("modalidade_pagamento").alias("mb"), "h")
    u = (
        pairs.join(ska, "ma")
        .select("ma", "mb", "h")
        .union(pairs.join(skb, "mb").select("ma", "mb", "h"))
        .distinct()
    )
    uw = W.partitionBy("ma", "mb").orderBy(F.asc("h"))
    ub = memo.shared_frame(
        spark,
        sf_dir,
        "kmv_union_sketch",
        lambda: u.withColumn("rk", F.row_number().over(uw)).filter(
            F.col("rk") <= KMV_K
        ),
    )
    ustats = ub.groupBy("ma", "mb").agg(
        F.count("*").alias("n_u"),
        F.max(F.when(F.col("rk") == KMV_K, F.col("h"))).alias("h_k"),
    )
    both = (
        ub.join(ska, ["ma", "h"])
        .join(skb, ["mb", "h"])
        .groupBy("ma", "mb")
        .agg(F.count("*").alias("n_both"))
    )

    pay = memo.shared_frame(
        spark,
        sf_dir,
        "kmv_payers",
        lambda: t.select(
            "modalidade_pagamento", "id_usuario_pagador"
        ).distinct(),
    )
    cnt = pay.groupBy("modalidade_pagamento").agg(
        F.count("*").alias("c")
    )
    inter_exact = (
        pay.select(
            F.col("modalidade_pagamento").alias("ma"), "id_usuario_pagador"
        )
        .join(
            pay.select(
                F.col("modalidade_pagamento").alias("mb"),
                "id_usuario_pagador",
            ),
            "id_usuario_pagador",
        )
        .filter(F.col("ma") < F.col("mb"))
        .groupBy("ma", "mb")
        .agg(F.count("*").alias("intersecao_exata"))
    )

    u_raw = F.when(
        F.col("n_u") >= KMV_K,
        F.lit(float(KMV_K - 1)) * F.lit(float(_KMV_M))
        / F.col("h_k").cast("double"),
    ).otherwise(F.col("n_u").cast("double"))
    j_raw = F.col("n_both").cast("double") / F.least(
        F.lit(KMV_K), F.col("n_u")
    ).cast("double")
    return (
        pairs.join(ustats, ["ma", "mb"])
        .join(both, ["ma", "mb"], "left")
        .join(inter_exact, ["ma", "mb"], "left")
        .join(cnt.select(F.col("modalidade_pagamento").alias("ma"),
                         F.col("c").alias("ca")), "ma")
        .join(cnt.select(F.col("modalidade_pagamento").alias("mb"),
                         F.col("c").alias("cb")), "mb")
        .withColumn("n_both", F.coalesce("n_both", F.lit(0).cast("long")))
        .withColumn(
            "intersecao_exata",
            F.coalesce("intersecao_exata", F.lit(0).cast("long")),
        )
        .select(
            "ma",
            "mb",
            (F.col("ca") + F.col("cb") - F.col("intersecao_exata")).alias(
                "uniao_exata"
            ),
            "intersecao_exata",
            F.round(u_raw, 6).alias("uniao_kmv"),
            F.round(j_raw, 6).alias("jaccard_kmv"),
            F.round(j_raw * u_raw, 6).alias("intersecao_kmv"),
        )
    )


KMV_OVERLAP_SQL = datamodel.with_ctes(
    f"""
SELECT p.ma, p.mb,
       CAST(cca.c + ccb.c - COALESCE(n_inter, 0) AS BIGINT) AS uniao_exata,
       CAST(COALESCE(n_inter, 0) AS BIGINT) AS intersecao_exata,
       ROUND(CASE WHEN n_u >= {KMV_K}
                  THEN {float(KMV_K - 1)!r} * {float(_KMV_M)!r}
                       / CAST(h_k AS DOUBLE)
                  ELSE CAST(n_u AS DOUBLE) END, 6) AS uniao_kmv,
       ROUND(CAST(COALESCE(n_both, 0) AS DOUBLE)
             / CAST(LEAST({KMV_K}, n_u) AS DOUBLE), 6) AS jaccard_kmv,
       ROUND((CAST(COALESCE(n_both, 0) AS DOUBLE)
              / CAST(LEAST({KMV_K}, n_u) AS DOUBLE))
             * (CASE WHEN n_u >= {KMV_K}
                     THEN {float(KMV_K - 1)!r} * {float(_KMV_M)!r}
                          / CAST(h_k AS DOUBLE)
                     ELSE CAST(n_u AS DOUBLE) END), 6) AS intersecao_kmv
FROM (
    SELECT a.modalidade_pagamento AS ma, b.modalidade_pagamento AS mb
    FROM (SELECT DISTINCT modalidade_pagamento FROM transactions) a
    JOIN (SELECT DISTINCT modalidade_pagamento FROM transactions) b
      ON a.modalidade_pagamento < b.modalidade_pagamento
) p
JOIN (
    -- union-sketch stats per pair: bottom-K of the merged sketches
    SELECT ma, mb, COUNT(*) AS n_u,
           MAX(CASE WHEN rk = {KMV_K} THEN h END) AS h_k,
           CAST(SUM(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS BIGINT)
               AS n_both
    FROM (
        SELECT ma, mb, h, in_a, in_b,
               ROW_NUMBER() OVER (PARTITION BY ma, mb ORDER BY h ASC) AS rk
        FROM (
            SELECT ma, mb, h,
                   BOOL_OR(src = 'a') AS in_a, BOOL_OR(src = 'b') AS in_b
            FROM (
                SELECT p2.ma, p2.mb, s.h, 'a' AS src
                FROM (
                    SELECT a.modalidade_pagamento AS ma,
                           b.modalidade_pagamento AS mb
                    FROM (SELECT DISTINCT modalidade_pagamento
                          FROM transactions) a
                    JOIN (SELECT DISTINCT modalidade_pagamento
                          FROM transactions) b
                      ON a.modalidade_pagamento < b.modalidade_pagamento
                ) p2
                JOIN kmv_sketch s ON s.modalidade_pagamento = p2.ma
                UNION ALL
                SELECT p3.ma, p3.mb, s.h, 'b' AS src
                FROM (
                    SELECT a.modalidade_pagamento AS ma,
                           b.modalidade_pagamento AS mb
                    FROM (SELECT DISTINCT modalidade_pagamento
                          FROM transactions) a
                    JOIN (SELECT DISTINCT modalidade_pagamento
                          FROM transactions) b
                      ON a.modalidade_pagamento < b.modalidade_pagamento
                ) p3
                JOIN kmv_sketch s ON s.modalidade_pagamento = p3.mb
            )
            GROUP BY ma, mb, h
        )
    )
    WHERE rk <= {KMV_K}
    GROUP BY ma, mb
) us ON us.ma = p.ma AND us.mb = p.mb
LEFT JOIN (
    SELECT x.modalidade_pagamento AS ma, y.modalidade_pagamento AS mb,
           COUNT(*) AS n_inter
    FROM (SELECT DISTINCT modalidade_pagamento, id_usuario_pagador
          FROM transactions) x
    JOIN (SELECT DISTINCT modalidade_pagamento, id_usuario_pagador
          FROM transactions) y
      ON x.id_usuario_pagador = y.id_usuario_pagador
     AND x.modalidade_pagamento < y.modalidade_pagamento
    GROUP BY 1, 2
) i ON i.ma = p.ma AND i.mb = p.mb
JOIN (
    SELECT modalidade_pagamento, COUNT(DISTINCT id_usuario_pagador) AS c
    FROM transactions GROUP BY 1
) cca ON cca.modalidade_pagamento = p.ma
JOIN (
    SELECT modalidade_pagamento, COUNT(DISTINCT id_usuario_pagador) AS c
    FROM transactions GROUP BY 1
) ccb ON ccb.modalidade_pagamento = p.mb
""",
    extra_ctes=f"""
kmv_sketch AS (
    SELECT modalidade_pagamento, h
    FROM (
        SELECT modalidade_pagamento, h,
               ROW_NUMBER() OVER (
                   PARTITION BY modalidade_pagamento ORDER BY h ASC
               ) AS rk
        FROM (
            SELECT DISTINCT modalidade_pagamento,
                   ((id_usuario_pagador % {_KMV_M}) * 1103515245 + 12345)
                       % {_KMV_M} AS h
            FROM transactions
        )
    )
    WHERE rk <= {KMV_K}
)""",
)


# --- cumulative distinct payers (windowed COUNT DISTINCT emulation) ----------


def cumulative_distinct_payers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running distinct-payer count per modality by hour — the windowed
    COUNT(DISTINCT) that SQL window frames cannot express directly
    (reference dashboards recompute it per refresh over the full history,
    dashboard freq queries; SURVEY.md §2.6 W-family).

    Standard first-touch decomposition: a payer contributes to the hour
    of its FIRST transaction per modality (one groupBy), hours aggregate
    new-payer counts (second small groupBy), and a prefix-sum window over
    the per-modality hour series (a few hundred rows per group) yields
    the running total. Scale shape: the only wide shuffle keys on
    (modality, payer) with map-side partial MIN — no windowed distinct
    state, no rescan per frame; the window runs over modality x hours
    rows, tiny at any corpus size."""
    t = datamodel.transactions(spark, sf_dir)
    first_seen = t.groupBy("modalidade_pagamento", "id_usuario_pagador").agg(
        F.min(F.date_trunc("hour", F.col("data_horario"))).alias("hora")
    )
    novos = first_seen.groupBy("modalidade_pagamento", "hora").agg(
        F.count("*").alias("novos_pagadores")
    )
    w = (
        W.partitionBy("modalidade_pagamento")
        .orderBy("hora")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return novos.select(
        "modalidade_pagamento",
        "hora",
        "novos_pagadores",
        F.sum("novos_pagadores").over(w).alias("pagadores_acum"),
    )


CUMULATIVE_DISTINCT_SQL = datamodel.with_ctes(
    """
SELECT modalidade_pagamento, hora, CAST(novos_pagadores AS BIGINT)
           AS novos_pagadores,
       CAST(SUM(novos_pagadores) OVER (
           PARTITION BY modalidade_pagamento ORDER BY hora
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS pagadores_acum
FROM (
    SELECT modalidade_pagamento, hora, COUNT(*) AS novos_pagadores
    FROM (
        SELECT modalidade_pagamento, id_usuario_pagador,
               MIN(date_trunc('hour', CAST(data_horario AS TIMESTAMP)))
                   AS hora
        FROM transactions GROUP BY 1, 2
    )
    GROUP BY 1, 2
)"""
)


# --- KMV rollup: time-partitioned sketches merged upward ---------------------


def kmv_merge_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-payer estimates per modality from MERGED per-day KMV
    sketches — the datasketches rollup pattern: build one bottom-K
    sketch per (modality, day) partition, merge partitions upward by
    re-truncating the union. Min-wise stability makes the merge LOSSLESS
    (every member of the global bottom-K is in its own day's bottom-K),
    so the merged estimate EQUALS the direct whole-history sketch —
    which is why a 100 TB history can keep per-partition sketches and
    answer any time-range distinct query without rescanning rows. The
    equality is pinned in tests; the oracle re-derives the merged
    estimate with the direct closed form.

    Scale shape: day-level sketches aggregate in their partitions (the
    rank windows see one (modality, day, salt) slice each); the merge
    ranks <= days x K rows per modality."""
    t = datamodel.transactions(spark, sf_dir)
    hashed = t.select(
        "modalidade_pagamento",
        F.to_date("data_horario").alias("dia"),
        portable.lcg_hash(F.col("id_usuario_pagador")).alias("h"),
    ).distinct()
    # per-(modality, day) bottom-K through the shared two-stage helper
    day_sketch = _kmv_bottom_k(hashed, keys=("modalidade_pagamento", "dia"))
    # merge upward: distinct union of day sketches, re-truncate to K
    merge_w = W.partitionBy("modalidade_pagamento").orderBy(F.asc("h"))
    merged = (
        day_sketch.select("modalidade_pagamento", "h")
        .distinct()
        .withColumn("rk", F.row_number().over(merge_w))
    )
    kth = merged.filter(F.col("rk") == KMV_K).select(
        "modalidade_pagamento", F.col("h").alias("h_k")
    )
    exact_cnt = t.groupBy("modalidade_pagamento").agg(
        F.countDistinct("id_usuario_pagador").alias("pagadores_exato")
    )
    n_days = day_sketch.groupBy("modalidade_pagamento").agg(
        F.countDistinct("dia").alias("dias_mesclados")
    )
    est = F.round(
        F.lit(float(KMV_K - 1))
        * F.lit(float(_KMV_M))
        / F.col("h_k").cast("double"),
        6,
    )
    return (
        exact_cnt.join(n_days, "modalidade_pagamento")
        .join(kth, "modalidade_pagamento", "left")
        .select(
            "modalidade_pagamento",
            "pagadores_exato",
            F.col("dias_mesclados").cast("bigint").alias("dias_mesclados"),
            F.when(F.col("h_k").isNotNull(), est).alias("pagadores_kmv_merged"),
        )
    )


KMV_MERGE_ROLLUP_SQL = datamodel.with_ctes(
    f"""
SELECT e.modalidade_pagamento, pagadores_exato,
       CAST(d.dias_mesclados AS BIGINT) AS dias_mesclados,
       CASE WHEN h_k IS NOT NULL
            THEN ROUND({float(KMV_K - 1)!r} * {float(_KMV_M)!r}
                       / CAST(h_k AS DOUBLE), 6)
       END AS pagadores_kmv_merged
FROM (
    SELECT modalidade_pagamento,
           COUNT(DISTINCT id_usuario_pagador) AS pagadores_exato
    FROM transactions GROUP BY 1
) e
JOIN (
    SELECT modalidade_pagamento,
           COUNT(DISTINCT CAST(data_horario AS DATE)) AS dias_mesclados
    FROM transactions GROUP BY 1
) d ON e.modalidade_pagamento = d.modalidade_pagamento
LEFT JOIN (
    -- min-wise stability: the merged k-th order statistic equals the
    -- DIRECT whole-history k-th order statistic, so the oracle derives
    -- it without simulating the per-day merge
    SELECT modalidade_pagamento, h AS h_k
    FROM (
        SELECT modalidade_pagamento, h,
               ROW_NUMBER() OVER (
                   PARTITION BY modalidade_pagamento ORDER BY h ASC
               ) AS rk
        FROM (
            SELECT DISTINCT modalidade_pagamento,
                   ((id_usuario_pagador % {_KMV_M}) * 1103515245 + 12345)
                       % {_KMV_M} AS h
            FROM transactions
        )
    )
    WHERE rk = {KMV_K}
) k ON e.modalidade_pagamento = k.modalidade_pagamento"""
)


# --- mergeable quantile sketch: time-partitioned value samples ---------------

#: quantile-sketch sample size per group: the merged sample answers any
#: quantile with standard error ~ sqrt(p(1-p)/Q) (~3% at the median).
#: When a group has <= Q rows the "sketch" degenerates to the exact
#: order statistic (pinned in tests).
QSK_Q = 256
#: the percentile grid, integer percents with their output labels —
#: integer index arithmetic end-to-end (no float p, no rounding hazard).
QSK_PCTS = ((25, "p25"), (50, "p50"), (75, "p75"), (90, "p90"), (99, "p99"))


def _qsk_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch's input projection: (modality, day, tid, v, h) with a
    NULL-value guard (Spark sorts NULLs first / DuckDB last — excluded
    in BOTH dialects) and the `+ 0.0` signed-zero normalization on the
    ORDER key (a -0.0 vs +0.0 row could otherwise rank differently per
    engine and move the sampled order statistic)."""
    t = datamodel.transactions(spark, sf_dir)
    return t.filter(F.col("valor_transacao").isNotNull()).select(
        "modalidade_pagamento",
        F.to_date("data_horario").alias("dia"),
        F.col("id_transacao").alias("tid"),
        (F.col("valor_transacao") + F.lit(0.0)).alias("v"),
        portable.lcg_hash(F.col("id_transacao")).alias("h"),
    )


def _qsk_day_sketches(rows: DataFrame) -> DataFrame:
    """Per-(modality, day) bottom-Q value sample under the portable LCG
    hash total order (h asc, tid asc) — the quantile analogue of the
    per-day KMV sketch. Two-stage like `_kmv_bottom_k`: stage 1 ranks
    (modality, day, salt) slices so no task ever sorts a full day."""
    pre_w = W.partitionBy("modalidade_pagamento", "dia", "qsk_salt").orderBy(
        F.asc("h"), F.asc("tid")
    )
    pre = (
        rows.withColumn("qsk_salt", F.col("h") % F.lit(KMV_SALTS))
        .withColumn("rk1", F.row_number().over(pre_w))
        .filter(F.col("rk1") <= QSK_Q)
    )
    day_w = W.partitionBy("modalidade_pagamento", "dia").orderBy(
        F.asc("h"), F.asc("tid")
    )
    return (
        pre.withColumn("rk2", F.row_number().over(day_w))
        .filter(F.col("rk2") <= QSK_Q)
        .select("modalidade_pagamento", "dia", "tid", "v", "h")
    )


def _qsk_merge(day_sketches: DataFrame) -> DataFrame:
    """Merge day sketches upward: re-truncate the union to the global
    bottom-Q per modality under the same (h, tid) total order. Min-wise
    stability makes the merge LOSSLESS (every member of the global
    bottom-Q is in its own day's bottom-Q), so the merged sample EQUALS
    the direct whole-history bottom-Q — pinned in tests."""
    merge_w = W.partitionBy("modalidade_pagamento").orderBy(
        F.asc("h"), F.asc("tid")
    )
    return (
        day_sketches.withColumn("rk", F.row_number().over(merge_w))
        .filter(F.col("rk") <= QSK_Q)
        .select("modalidade_pagamento", "tid", "v")
    )


def quantile_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value quantiles per modality from MERGED per-day quantile
    sketches — `kmv_merge_rollup`'s rank-query sibling (round-12
    verdict task #7 option A): each (modality, day) partition keeps the
    Q rows with the smallest portable-LCG hash (a uniform row sample,
    since the hash rides the unique transaction id), partitions merge
    upward by re-truncating the union under the same total order, and
    the merged sample answers the whole percentile grid as exact order
    statistics — idx = ceil(n * pct / 100) computed with INTEGER
    arithmetic ((n * pct + 99) DIV 100) in both dialects. Min-wise
    stability makes the merge lossless, so a 100 TB partitioned history
    can keep per-day sketches and answer any time-range quantile query
    without rescanning rows; the oracle re-derives the DIRECT
    whole-history sample (== merged, the same stability argument the
    KMV oracle uses).

    Exactness: the sampled values are raw parquet doubles passed through
    untouched (no arithmetic), so the emitted order statistics are
    bit-identical across engines; sample membership and ranks are pure
    integer/hash logic. When a modality has <= Q rows the sketch
    degenerates to the exact quantile (test-pinned).

    Scale shape: ONE narrow shuffle of (h, v, tid) triples keyed
    (modality, day, salt) with immediate per-slice truncation to Q;
    every later stage ranks <= days x Q (merge) or <= Q (value ranks)
    rows per modality — bounded partitions regardless of corpus size.
    No unpartitioned window, no full-fact global sort, no UDF."""
    day_sketches = _qsk_day_sketch_memo(spark, sf_dir)
    merged = _qsk_merge(day_sketches)
    days = (
        day_sketches.select("modalidade_pagamento", "dia")
        .distinct()
        .groupBy("modalidade_pagamento")
        .agg(F.count("*").cast("bigint").alias("dias_mesclados"))
    )
    return qsk_grid_answers(merged).join(days, "modalidade_pagamento").select(
        "modalidade_pagamento",
        "quantil",
        "valor_quantil",
        "amostra_n",
        "dias_mesclados",
    )


def _qsk_day_sketch_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized per-day sketch table: <= days x G x Q rows,
    eager localCheckpoint. This IS the partitioned sketch history — the
    whole-history rollup, the time-range query, and every read-side
    branch (value ranks, counts, day joins) derive from this ONE
    materialization; the raw fact is scanned exactly once per
    (session, sf_dir)."""
    from banking_streaming_etl_spark.operators import memo

    return memo.shared_frame(
        spark,
        sf_dir,
        "qsk_day_sketches",
        lambda: _qsk_day_sketches(_qsk_rows(spark, sf_dir)),
    )


def qsk_grid_answers(sample: DataFrame) -> DataFrame:
    """Answer the percentile grid from a bottom-Q sample frame
    (modalidade_pagamento, tid, v): rank the sample by the (v, tid)
    total order and select idx = (n * pct + 99) DIV 100 per grid point.
    The ONE shared read-side derivation — the batch rollup query and
    the streaming sketch store both call it, so their answers can never
    fork. Every window here is partitioned and <= QSK_Q rows."""
    val_w = W.partitionBy("mod_s").orderBy(F.asc("v"), F.asc("tid"))
    ranked = sample.select(
        F.col("modalidade_pagamento").alias("mod_s"), "tid", "v"
    ).withColumn("vrk", F.row_number().over(val_w))
    ns = sample.groupBy("modalidade_pagamento").agg(
        F.count("*").alias("amostra_n")
    )
    pct_grid = F.array(
        *[
            F.struct(F.lit(p).alias("pct"), F.lit(lbl).alias("quantil"))
            for p, lbl in QSK_PCTS
        ]
    )
    targets = (
        ns.withColumn("pq", F.explode(pct_grid))
        .select(
            "modalidade_pagamento",
            "amostra_n",
            F.col("pq.pct").alias("pct"),
            F.col("pq.quantil").alias("quantil"),
        )
        .withColumn("idx", F.expr("(amostra_n * pct + 99) DIV 100"))
    )
    return (
        targets.join(
            ranked,
            (F.col("modalidade_pagamento") == F.col("mod_s"))
            & (F.col("vrk") == F.col("idx")),
        )
        .select(
            "modalidade_pagamento",
            "quantil",
            F.col("v").alias("valor_quantil"),
            F.col("amostra_n").cast("bigint").alias("amostra_n"),
        )
    )


_QSK_SAMPLE_CTE = f"""
qsk_sample AS (
    -- min-wise stability: the DIRECT whole-history bottom-Q equals the
    -- per-day-merged sample, so the oracle skips the day partition
    SELECT modalidade_pagamento, tid, v
    FROM (
        SELECT modalidade_pagamento, id_transacao AS tid,
               valor_transacao + 0.0 AS v,
               {portable.lcg_hash_sql('id_transacao')} AS h
        FROM transactions
        WHERE valor_transacao IS NOT NULL
    )
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY modalidade_pagamento ORDER BY h ASC, tid ASC
    ) <= {QSK_Q}
)"""

QUANTILE_SKETCH_SQL = datamodel.with_ctes(
    f"""
SELECT s.modalidade_pagamento, p.quantil,
       r.v AS valor_quantil,
       CAST(s.amostra_n AS BIGINT) AS amostra_n,
       CAST(d.dias_mesclados AS BIGINT) AS dias_mesclados
FROM (
    SELECT modalidade_pagamento, COUNT(*) AS amostra_n
    FROM qsk_sample GROUP BY 1
) s
JOIN (
    SELECT modalidade_pagamento,
           COUNT(DISTINCT CAST(data_horario AS DATE)) AS dias_mesclados
    FROM transactions WHERE valor_transacao IS NOT NULL GROUP BY 1
) d ON s.modalidade_pagamento = d.modalidade_pagamento
CROSS JOIN (VALUES {', '.join(f"({p}, '{lbl}')" for p, lbl in QSK_PCTS)})
        AS p(pct, quantil)
JOIN (
    SELECT modalidade_pagamento, v,
           ROW_NUMBER() OVER (
               PARTITION BY modalidade_pagamento ORDER BY v ASC, tid ASC
           ) AS vrk
    FROM qsk_sample
) r ON r.modalidade_pagamento = s.modalidade_pagamento
   AND r.vrk = (s.amostra_n * p.pct + 99) // 100""",
    extra_ctes=_QSK_SAMPLE_CTE,
)


#: time-range query bounds, as day offsets from the corpus' first day:
#: the middle two weeks [d0+7, d0+20] — data-derived identically in
#: both dialects (no literal dates to drift when testdata regenerates).
QSK_RANGE_OFFSETS = (7, 20)


def quantile_sketch_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range quantile query answered PURELY from the per-day sketch
    history — the read pattern `quantile_sketch_rollup`'s merge law
    exists to serve: value quantiles per modality over the middle two
    weeks [d0+7, d0+20] by merging ONLY that range's day sketches. At
    100 TB this is the difference between rescanning a fortnight of raw
    rows and re-truncating 14 x Q pre-built sample rows per modality;
    min-wise stability guarantees the range merge equals the direct
    bottom-Q over the range's raw rows — which is exactly how the
    oracle re-derives it (the same stability argument as the rollup).

    Scale shape: the day-sketch table is the session-shared
    materialization (<= days x G x Q rows); the range filter prunes it
    before the merge rank, the bounds row broadcasts, and no stage
    touches the raw fact at read time."""
    day_sketches = _qsk_day_sketch_memo(spark, sf_dir)
    lo, hi = QSK_RANGE_OFFSETS
    bounds = day_sketches.agg(F.min("dia").alias("d0"))
    in_range = (
        day_sketches.crossJoin(F.broadcast(bounds))
        .filter(
            (F.col("dia") >= F.date_add(F.col("d0"), lo))
            & (F.col("dia") <= F.date_add(F.col("d0"), hi))
        )
        .select("modalidade_pagamento", "dia", "tid", "v", "h")
    )
    days = (
        in_range.select("modalidade_pagamento", "dia")
        .distinct()
        .groupBy("modalidade_pagamento")
        .agg(F.count("*").cast("bigint").alias("dias_no_intervalo"))
    )
    return (
        qsk_grid_answers(_qsk_merge(in_range))
        .join(days, "modalidade_pagamento")
        .select(
            "modalidade_pagamento",
            "quantil",
            "valor_quantil",
            "amostra_n",
            "dias_no_intervalo",
        )
    )


QUANTILE_SKETCH_RANGE_SQL = datamodel.with_ctes(
    f"""
SELECT s.modalidade_pagamento, p.quantil,
       r.v AS valor_quantil,
       CAST(s.amostra_n AS BIGINT) AS amostra_n,
       CAST(d.dias_no_intervalo AS BIGINT) AS dias_no_intervalo
FROM (
    SELECT modalidade_pagamento, COUNT(*) AS amostra_n
    FROM qsk_range_sample GROUP BY 1
) s
JOIN (
    SELECT modalidade_pagamento,
           COUNT(DISTINCT CAST(data_horario AS DATE)) AS dias_no_intervalo
    FROM transactions, qsk_range_bounds
    WHERE valor_transacao IS NOT NULL
      AND CAST(data_horario AS DATE) >= d0 + {QSK_RANGE_OFFSETS[0]}
      AND CAST(data_horario AS DATE) <= d0 + {QSK_RANGE_OFFSETS[1]}
    GROUP BY 1
) d ON s.modalidade_pagamento = d.modalidade_pagamento
CROSS JOIN (VALUES {', '.join(f"({p}, '{lbl}')" for p, lbl in QSK_PCTS)})
        AS p(pct, quantil)
JOIN (
    SELECT modalidade_pagamento, v,
           ROW_NUMBER() OVER (
               PARTITION BY modalidade_pagamento ORDER BY v ASC, tid ASC
           ) AS vrk
    FROM qsk_range_sample
) r ON r.modalidade_pagamento = s.modalidade_pagamento
   AND r.vrk = (s.amostra_n * p.pct + 99) // 100""",
    extra_ctes=f"""
qsk_range_bounds AS (
    SELECT MIN(CAST(data_horario AS DATE)) AS d0
    FROM transactions WHERE valor_transacao IS NOT NULL
),
qsk_range_sample AS (
    -- min-wise stability: merging the range's per-day sketches equals
    -- the DIRECT bottom-Q over the range's raw rows
    SELECT modalidade_pagamento, tid, v
    FROM (
        SELECT modalidade_pagamento, id_transacao AS tid,
               valor_transacao + 0.0 AS v,
               {portable.lcg_hash_sql('id_transacao')} AS h
        FROM transactions, qsk_range_bounds
        WHERE valor_transacao IS NOT NULL
          AND CAST(data_horario AS DATE) >= d0 + {QSK_RANGE_OFFSETS[0]}
          AND CAST(data_horario AS DATE) <= d0 + {QSK_RANGE_OFFSETS[1]}
    )
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY modalidade_pagamento ORDER BY h ASC, tid ASC
    ) <= {QSK_Q}
)"""
)


# --- delta-join IVM: the oracle-checkable face -------------------------------

IVM_ALERT_VALUE = 220.0  # ~p99 of valor at every SF; matches the sink default


def ivm_join_view_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-epoch view deltas of the delta-join materialized view
    (streaming/sinks.MaterializedJoinView), derived declaratively: with
    DAYS as epochs, every joined pair (tx, alert-of-same-payer) belongs
    to exactly one view delta — epoch max(day_tx, day_alert), the closed
    form of dV_N = dA_N JOIN B_{<=N} UNION A_{<N} JOIN dB_N. Grouping
    the full join by that attribution epoch yields every delta in ONE
    pass; summed over epochs the deltas partition the full join (pinned
    by tests/test_stateful_sinks.py against the streaming store).

    Epoch keys are integer-exact day truncations (no transcendental can
    move a pair between groups); the value sum rides the exact decimal
    accumulator."""
    t = datamodel.transactions(spark, sf_dir)
    tx = t.select(
        "id_usuario_pagador",
        F.col("id_transacao").alias("id_tx"),
        F.col("valor_transacao").alias("valor_tx"),
        F.date_trunc("day", F.col("data_horario")).alias("dia_tx"),
    )
    alerts = t.filter(
        F.col("valor_transacao") >= F.lit(IVM_ALERT_VALUE)
    ).select(
        "id_usuario_pagador",
        F.col("id_transacao").alias("id_alerta"),
        F.date_trunc("day", F.col("data_horario")).alias("dia_alerta"),
    )
    pairs = tx.join(alerts, "id_usuario_pagador").withColumn(
        "epoch_dia", F.greatest(F.col("dia_tx"), F.col("dia_alerta"))
    )
    return (
        pairs.groupBy("epoch_dia")
        .agg(
            F.count("*").alias("pares"),
            F.countDistinct("id_usuario_pagador").alias("pagadores"),
            exact.exact_sum("valor_tx", "soma_valor_tx"),
        )
        .orderBy("epoch_dia")
    )


IVM_JOIN_VIEW_SQL = datamodel.with_ctes(
    f"""
SELECT
    GREATEST(DATE_TRUNC('day', t.data_horario),
             DATE_TRUNC('day', a.data_horario)) AS epoch_dia,
    COUNT(*) AS pares,
    COUNT(DISTINCT t.id_usuario_pagador) AS pagadores,
    {exact.sql_sum('t.valor_transacao', 'soma_valor_tx')}
FROM transactions t
JOIN transactions a
  ON a.id_usuario_pagador = t.id_usuario_pagador
 AND a.valor_transacao >= {IVM_ALERT_VALUE}
GROUP BY 1
ORDER BY epoch_dia"""
)

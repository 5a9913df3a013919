"""The reference dashboard's 10 analyses as Spark queries.

The reference loads `SELECT *` into pandas and computes these in-process
(containers/dashboard/dashboard.py:164-631). Here each analysis is a
declarative Spark query over the approval pipeline's output, so Catalyst
prunes columns/pushes filters and the work distributes. Oracle SQL reuses
the shared scored/flagged/approved CTEs.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from banking_streaming_etl_spark import datamodel
from banking_streaming_etl_spark.functions import portable
from banking_streaming_etl_spark.functions import exact, scores
from banking_streaming_etl_spark.plans.approval import (
    with_approval_flags,
    with_scores,
)


def _approved_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lazy enrich+score+flags graph behind the `_approved` pin.

    Read it directly only where a selective predicate must prune at the
    events scan (`filter_membership_range`); everything else reads the
    pin. Object-memoized (operators/memo.shared, no materialization) so
    repeat builds skip the py4j construction and re-analysis of the
    join graph."""
    from banking_streaming_etl_spark.operators import memo

    return memo.shared(
        spark,
        sf_dir,
        "derived:approved",
        lambda: with_approval_flags(
            with_scores(datamodel.enriched_transactions(spark, sf_dir))
        ),
    )


def _approved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scored fact, pinned once per (session, sf_dir)
    (operators/memo.shared_frame). Most dashboard and stats queries
    read it; re-deriving it per query re-scanned events, re-parsed
    props, re-broadcast the three dimensions and re-computed the scores
    — about 5 jobs each. Cost: one O(fact rows) eager localCheckpoint
    (MEMORY_AND_DISK)."""
    from banking_streaming_etl_spark.operators import memo

    return memo.shared_frame(
        spark, sf_dir, "approved", lambda: _approved_build(spark, sf_dir)
    )


def _approval_contingency(
    spark: SparkSession, sf_dir: str, **rows: Column
) -> DataFrame:
    """Contingency kernel: the (row keys) x `transacao_aprovada` table of
    the pinned scored fact, one row per row-key tuple, pinned once per
    (session, sf_dir, row keys) via operators/memo.shared_frame.

    Columns: the row keys; `n` (the row margin) and `n_y` (its approved
    cell — the denied cell is n - n_y, since `transacao_aprovada` is
    never NULL); `n_total` and `n_y_total` (the table total and the
    approved column margin). All exact bigints. A NULL key forms its
    own row, as in GROUP BY. The memo key is every (name, expression)
    pair, so one name may carry different expressions. Model-sized at
    any corpus size."""
    from banking_streaming_etl_spark.operators import memo

    def build() -> DataFrame:
        counts = (
            _approved(spark, sf_dir)
            .groupBy(*[e.alias(k) for k, e in rows.items()])
            .agg(
                F.count("*").cast("bigint").alias("n"),
                F.sum(F.col("transacao_aprovada").cast("bigint")).alias("n_y"),
            )
        )
        total = counts.agg(
            F.sum("n").cast("bigint").alias("n_total"),
            F.sum("n_y").cast("bigint").alias("n_y_total"),
        )
        return counts.crossJoin(F.broadcast(total))

    key = ",".join(f"{k}={e}" for k, e in rows.items())
    return memo.shared_frame(spark, sf_dir, "contingency:" + key, build)


def _modality_approval_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The non-empty (modality, approval) cells behind chi2, G, Cramer's
    V and MI, unpivoted from the contingency kernel (a narrow
    projection): `n_celula` with its margins `n_modalidade`,
    `n_resultado` and `n_total`."""
    k = _approval_contingency(
        spark, sf_dir, modalidade_pagamento=F.col("modalidade_pagamento")
    )

    def cell(aprovada: bool, n_celula: Column, n_resultado: Column) -> Column:
        return F.struct(
            F.lit(aprovada).alias("transacao_aprovada"),
            n_celula.alias("n_celula"),
            n_resultado.alias("n_resultado"),
        )

    cells = F.inline(F.array(
        cell(True, F.col("n_y"), F.col("n_y_total")),
        cell(False, F.col("n") - F.col("n_y"),
             F.col("n_total") - F.col("n_y_total")),
    ))
    return k.select(
        "modalidade_pagamento",
        F.col("n").alias("n_modalidade"),
        "n_total",
        cells,
    ).filter(F.col("n_celula") > 0)


#: SQL twin of `_modality_approval_cells` (plus the cell key the sorted
#: folds order by), shared by the chi2, G, Cramer's V and MI oracles
MODALITY_APPROVAL_CELLS_CTE = """,
ma_cells AS (
    SELECT modalidade_pagamento, transacao_aprovada,
           modalidade_pagamento || '|'
               || CAST(transacao_aprovada AS VARCHAR) AS chave,
           CAST(COUNT(*) AS BIGINT) AS n_celula,
           CAST(SUM(COUNT(*)) OVER (PARTITION BY modalidade_pagamento)
                AS BIGINT) AS n_modalidade,
           CAST(SUM(COUNT(*)) OVER (PARTITION BY transacao_aprovada)
                AS BIGINT) AS n_resultado,
           CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS n_total
    FROM approved
    GROUP BY modalidade_pagamento, transacao_aprovada
)"""


def _oracle(body: str) -> str:
    return datamodel.with_ctes(body, extra_ctes=scores.SCORED_CTE)


# --- session-shared family derivations (operators/memo) --------------------
#
# Three query families re-derive the same expensive intermediate when a
# session runs several of them (the EXTRA sweep runs ALL of them): the
# calibration trio's global ranks of the scored fact (exact NTILE(10)
# deciles), and the per-modality grouped value ranking behind the
# exact-percentile / Brown-Forsythe pair. Each derivation is a
# multi-stage distributed-ranking pipeline, so it is materialized ONCE
# per (session, sf_dir) via operators/memo.shared_frame (eager
# localCheckpoint — survives bench's between-query cache eviction).


def _cal_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Narrow scored frame of the calibration/eval family:
    (id_transacao, score_medio, transacao_aprovada) — a projection of
    the scored-fact pin."""
    return _approved(spark, sf_dir).select(
        "id_transacao", "score_medio", "transacao_aprovada"
    )


def _cal_rank_asc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared ASC global rank of the scored frame under
    (score_medio ASC, id_transacao ASC): column `r` + `_rank_n_total`
    — ONE distributed rank pass feeds the exact AUC (Mann-Whitney rank
    sums), the NTILE(10) calibration deciles, and the NTILE(20)
    isotonic bins (NTILE is the rank's closed form, so every bin width
    shares the same pass)."""
    from banking_streaming_etl_spark.operators import memo, ranking

    return memo.shared_frame(
        spark,
        sf_dir,
        "cal_rank_asc",
        lambda: ranking.with_global_row_number(
            _cal_scored(spark, sf_dir), "score_medio", "id_transacao",
            out="r", nulls="reject",
        ),
    )


def _cal_ntile_asc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact NTILE(10) of the scored frame under (score_medio ASC,
    id_transacao ASC) — the reliability diagram AND the ECE/MCE/Brier
    trio read the identical `decil` assignment. A free projection of
    the shared ASC rank (ntile_from_rank closed form)."""
    from banking_streaming_etl_spark.operators import ranking

    return (
        _cal_rank_asc(spark, sf_dir)
        .withColumn(
            "decil",
            ranking.ntile_from_rank(
                F.col("r"), F.col("_rank_n_total"), 10
            ),
        )
        .drop("r", "_rank_n_total")
    )


def _cal_rank_desc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared DESC global rank of the scored frame under
    (score_medio DESC, id_transacao ASC): column `r` + `_rank_n_total`
    — feeds precision@K directly and the ROC deciles via the NTILE
    closed form (with_global_ntile is exactly this rank + the closed
    form, so sharing the rank shares the whole expensive pass)."""
    from banking_streaming_etl_spark.operators import memo, ranking

    return memo.shared_frame(
        spark,
        sf_dir,
        "cal_rank_desc",
        # desc rank: a NULL score at rank 1 would pollute every top-K /
        # decile-1 cell; scores are non-null by construction — enforce it
        lambda: ranking.with_global_row_number(
            _cal_scored(spark, sf_dir), "score_medio", "id_transacao",
            out="r", value_desc=True, nulls="reject",
        ),
    )


def _modality_value_ranked_build(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Un-memoized build of the shared grouped value ranking (exposed
    so the plan-shape tests can inspect the DISTRIBUTED plan — the
    memoized frame itself is a checkpointed RDD scan)."""
    from banking_streaming_etl_spark.operators import ranking

    t = datamodel.transactions(spark, sf_dir).select(
        F.col("modalidade_pagamento").alias("modalidade"),
        F.col("valor_transacao").alias("v"),
        F.col("id_transacao").alias("i"),
    )
    return ranking.with_global_row_number(
        t, "v", "i", out="r", group_cols=["modalidade"], nulls="reject"
    )


def _modality_value_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared grouped ranking of transaction values within each
    modality: (modalidade, v, i, r, _rank_n_total) under
    (valor ASC, id ASC) — feeds the exact per-modality percentiles AND
    the Brown-Forsythe exact medians (same order statistics)."""
    from banking_streaming_etl_spark.operators import memo

    return memo.shared_frame(
        spark,
        sf_dir,
        "modality_value_ranked",
        lambda: _modality_value_ranked_build(spark, sf_dir),
    )


# --- 1. approval overview (dashboard.py:329, value_counts) -----------------


def approval_overview(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _approved(spark, sf_dir).groupBy("transacao_aprovada").agg(
        F.count("*").alias("total"),
        exact.exact_avg("valor_transacao", "valor_medio"),
    )


APPROVAL_OVERVIEW_SQL = _oracle(
    f"""
SELECT transacao_aprovada, COUNT(*) AS total,
       {exact.sql_avg('valor_transacao', 'valor_medio')}
FROM approved GROUP BY transacao_aprovada"""
)


# --- 2. value histogram with p99 trim (dashboard.py:373-395) ----------------

HIST_BIN_WIDTH = 25.0


def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 quantile trim + A13 histogram binning. The p99 scalar is computed
    exactly (percentile_cont parity) and joined back as a 1-row broadcast —
    no driver-side collect."""
    t = _approved(spark, sf_dir)
    p99 = t.agg(
        F.round(F.percentile("valor_transacao", F.lit(0.99)), 6).alias("p99")
    )
    return (
        t.crossJoin(F.broadcast(p99))
        .filter(F.col("valor_transacao") <= F.col("p99"))
        .groupBy(
            F.floor(F.col("valor_transacao") / F.lit(HIST_BIN_WIDTH)).alias("bin")
        )
        .agg(F.count("*").alias("n"))
    )


VALUE_HISTOGRAM_SQL = _oracle(
    f"""
SELECT CAST(FLOOR(valor_transacao / {HIST_BIN_WIDTH}) AS BIGINT) AS bin,
       COUNT(*) AS n
FROM approved
WHERE valor_transacao <= (
    SELECT ROUND(QUANTILE_CONT(valor_transacao, 0.99), 6) FROM approved)
GROUP BY 1"""
)


# --- 3. 2-D density grid (dashboard.py:472-493) -----------------------------


def density_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14: counts over a (value, t5_score) grid, approved rows only."""
    t = _approved(spark, sf_dir).filter(F.col("transacao_aprovada"))
    return t.groupBy(
        F.floor(F.col("valor_transacao") / F.lit(25.0)).alias("value_bin"),
        F.floor(F.col("t5_score") / F.lit(5.0)).alias("score_bin"),
    ).agg(F.count("*").alias("n"))


DENSITY_GRID_SQL = _oracle(
    """
SELECT CAST(FLOOR(valor_transacao / 25.0) AS BIGINT) AS value_bin,
       CAST(FLOOR(t5_score / 5.0) AS BIGINT) AS score_bin,
       COUNT(*) AS n
FROM approved
WHERE transacao_aprovada
GROUP BY 1, 2"""
)


# --- 4. hourly score vs approval rate (dashboard.py:498) --------------------


def hourly_score_approval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: per hour-of-day, mean abs time score + approval rate (bool->rate).
    Uses the dashboard's UNSIGNED time score (dashboard.py:208), a deliberate
    semantic difference from the pipeline's signed t7 (SURVEY.md §2.11)."""
    t = _approved(spark, sf_dir).withColumn("hora", F.hour("data_horario"))
    return t.groupBy("hora").agg(
        exact.exact_avg(scores.time_score_abs(), "time_score_medio"),
        exact.exact_avg(
            F.col("transacao_aprovada").cast("double"), "taxa_aprovacao"
        ),
        F.count("*").alias("total"),
    )


HOURLY_SCORE_APPROVAL_SQL = _oracle(
    f"""
SELECT HOUR(data_horario) AS hora,
       {exact.sql_avg(scores.TIME_ABS_SQL, 'time_score_medio')},
       {exact.sql_avg('CAST(transacao_aprovada AS DOUBLE)', 'taxa_aprovacao')},
       COUNT(*) AS total
FROM approved GROUP BY HOUR(data_horario)"""
)


# --- 5. approval rate by region (dashboard.py:520-533) ----------------------


def region_approval(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _approved(spark, sf_dir).groupBy("id_regiao").agg(
        exact.exact_avg(
            F.col("transacao_aprovada").cast("double"), "taxa_aprovacao"
        ),
        F.count("*").alias("total"),
    )


REGION_APPROVAL_SQL = _oracle(
    f"""
SELECT id_regiao,
       {exact.sql_avg('CAST(transacao_aprovada AS DOUBLE)', 'taxa_aprovacao')},
       COUNT(*) AS total
FROM approved GROUP BY id_regiao"""
)


# --- 6. denial reasons (dashboard.py:574-577, conditional sums) --------------


def denial_reasons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: one-row conditional counts — why transactions were denied."""
    t = _approved(spark, sf_dir)
    return t.agg(
        F.sum(F.when(~F.col("score_aprovado"), 1).otherwise(0)).alias(
            "negadas_score"
        ),
        F.sum(F.when(~F.col("saldo_aprovado"), 1).otherwise(0)).alias(
            "negadas_saldo"
        ),
        F.sum(F.when(~F.col("limite_aprovado"), 1).otherwise(0)).alias(
            "negadas_limite"
        ),
        F.sum(F.when(~F.col("transacao_aprovada"), 1).otherwise(0)).alias(
            "negadas_total"
        ),
        F.count("*").alias("total"),
    )


DENIAL_REASONS_SQL = _oracle(
    """
SELECT
    CAST(SUM(CASE WHEN NOT score_aprovado THEN 1 ELSE 0 END) AS BIGINT)      AS negadas_score,
    CAST(SUM(CASE WHEN NOT saldo_aprovado THEN 1 ELSE 0 END) AS BIGINT)      AS negadas_saldo,
    CAST(SUM(CASE WHEN NOT limite_aprovado THEN 1 ELSE 0 END) AS BIGINT)     AS negadas_limite,
    CAST(SUM(CASE WHEN NOT transacao_aprovada THEN 1 ELSE 0 END) AS BIGINT)  AS negadas_total,
    COUNT(*) AS total
FROM approved"""
)


# --- 7. denied by modality (dashboard.py:592-597) ----------------------------


def denied_by_modality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _approved(spark, sf_dir)
        .filter(~F.col("transacao_aprovada"))
        .groupBy("modalidade_pagamento")
        .agg(F.count("*").alias("negadas"))
    )


DENIED_BY_MODALITY_SQL = _oracle(
    """
SELECT modalidade_pagamento, COUNT(*) AS negadas
FROM approved WHERE NOT transacao_aprovada
GROUP BY modalidade_pagamento"""
)


# --- 8. transactions per hour (dashboard.py:608) -----------------------------


def tx_per_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _approved(spark, sf_dir)
        .groupBy(F.hour("data_horario").alias("hora"))
        .agg(F.count("*").alias("total"))
    )


TX_PER_HOUR_SQL = _oracle(
    """
SELECT HOUR(data_horario) AS hora, COUNT(*) AS total
FROM approved GROUP BY HOUR(data_horario)"""
)


# --- 9. distance buckets x approval (dashboard.py:185-192, 613-618) ----------

_BUCKET_EDGES = (10.0, 25.0, 45.0)  # perto / medio / longe / muito_longe


def _distance_bucket_col() -> F.Column:
    """F15: pd.cut -> chained when over t5_score (NULL -> 'desconhecida')."""
    return (
        F.when(F.col("t5_score").isNull(), "desconhecida")
        .when(F.col("t5_score") < _BUCKET_EDGES[0], "perto")
        .when(F.col("t5_score") < _BUCKET_EDGES[1], "media")
        .when(F.col("t5_score") < _BUCKET_EDGES[2], "longe")
        .otherwise("muito_longe")
    )


_DISTANCE_BUCKET_SQL = f"""CASE
    WHEN t5_score IS NULL THEN 'desconhecida'
    WHEN t5_score < {_BUCKET_EDGES[0]} THEN 'perto'
    WHEN t5_score < {_BUCKET_EDGES[1]} THEN 'media'
    WHEN t5_score < {_BUCKET_EDGES[2]} THEN 'longe'
    ELSE 'muito_longe' END"""


def distance_bucket_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: two-key group + pivot-to-columns (unstack(fill_value=0)) —
    expressed as conditional counts so column names are stable."""
    t = _approved(spark, sf_dir).withColumn(
        "faixa_distancia", _distance_bucket_col()
    )
    return t.groupBy("faixa_distancia").agg(
        F.sum(F.when(F.col("transacao_aprovada"), 1).otherwise(0)).alias(
            "aprovadas"
        ),
        F.sum(F.when(~F.col("transacao_aprovada"), 1).otherwise(0)).alias(
            "negadas"
        ),
    )


DISTANCE_BUCKET_PIVOT_SQL = _oracle(
    f"""
SELECT {_DISTANCE_BUCKET_SQL} AS faixa_distancia,
       CAST(SUM(CASE WHEN transacao_aprovada THEN 1 ELSE 0 END) AS BIGINT)     AS aprovadas,
       CAST(SUM(CASE WHEN NOT transacao_aprovada THEN 1 ELSE 0 END) AS BIGINT) AS negadas
FROM approved
GROUP BY 1"""
)


# --- 10. per-payer frequency + z-score windows (dashboard.py:195-205) --------


def freq_per_payer_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 + F16: windowed frequency count broadcast back to rows, then the
    np.select(frequency -> {0, 0.5, 1}) multi-branch score."""
    t = _approved(spark, sf_dir)
    w = W.partitionBy(
        "id_usuario_pagador", F.date_trunc("hour", F.col("data_horario"))
    )
    t = t.withColumn("freq_hora", F.count("*").over(w))
    return t.select(
        "id_transacao",
        "id_usuario_pagador",
        "freq_hora",
        F.when(F.col("freq_hora") >= 5, 1.0)
        .when(F.col("freq_hora") >= 3, 0.5)
        .otherwise(0.0)
        .alias("freq_score"),
    )


FREQ_PER_PAYER_HOUR_SQL = _oracle(
    """
SELECT id_transacao, id_usuario_pagador, freq_hora,
       CAST(CASE WHEN freq_hora >= 5 THEN 1.0
                 WHEN freq_hora >= 3 THEN 0.5
                 ELSE 0.0 END AS DOUBLE) AS freq_score
FROM (
    SELECT id_transacao, id_usuario_pagador,
           COUNT(*) OVER (PARTITION BY id_usuario_pagador,
                          DATE_TRUNC('hour', data_horario)) AS freq_hora
    FROM approved
)"""
)


def zscore_per_payer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 + F17: per-payer mean/std broadcast back, z-score per row.
    Moments accumulate in DECIMAL over the window so Spark and DuckDB agree
    bit-for-bit; payers with <2 transactions get NULL z (guarded division)."""
    t = _approved(spark, sf_dir)
    w = W.partitionBy("id_usuario_pagador")
    v = F.col("valor_transacao")
    vd = F.round(v, 6).cast(exact.DEC)
    sq = F.round(F.round(v, 6) * F.round(v, 6), 6).cast(exact.DEC)
    n = F.count(v).over(w).cast("double")
    s = F.sum(vd).over(w).cast("double")
    ssq = F.sum(sq).over(w).cast("double")
    mean = s / n
    std = F.sqrt((ssq - s * s / n) / (n - F.lit(1.0)))
    z = F.when((n >= 2) & (std > 0), (v - mean) / std)
    return t.select(
        "id_transacao",
        "id_usuario_pagador",
        "valor_transacao",
        F.round(z, 6).alias("z_score"),
    )


ZSCORE_PER_PAYER_SQL = _oracle(
    """
SELECT id_transacao, id_usuario_pagador, valor_transacao,
       ROUND(CASE WHEN n >= 2 AND std > 0
                  THEN (valor_transacao - s / n) / std END, 6) AS z_score
FROM (
    SELECT *,
        CAST(COUNT(valor_transacao) OVER w AS DOUBLE) AS n,
        CAST(SUM(CAST(ROUND(valor_transacao, 6) AS DECIMAL(28,6))) OVER w
             AS DOUBLE) AS s,
        SQRT((CAST(SUM(CAST(ROUND(ROUND(valor_transacao, 6)
                                  * ROUND(valor_transacao, 6), 6)
                            AS DECIMAL(28,6))) OVER w AS DOUBLE)
              - CAST(SUM(CAST(ROUND(valor_transacao, 6) AS DECIMAL(28,6)))
                     OVER w AS DOUBLE)
                * CAST(SUM(CAST(ROUND(valor_transacao, 6) AS DECIMAL(28,6)))
                       OVER w AS DOUBLE)
                / CAST(COUNT(valor_transacao) OVER w AS DOUBLE))
             / (CAST(COUNT(valor_transacao) OVER w AS DOUBLE) - 1.0)) AS std
    FROM approved
    WINDOW w AS (PARTITION BY id_usuario_pagador)
)"""
)


# --- score box-plot stats by value bucket (dashboard.py:447-466) -------------

_VALUE_EDGES = (10.0, 50.0, 100.0, 200.0, 400.0)  # 6 labeled buckets


def _value_bucket_col() -> F.Column:
    b = F.when(F.col("valor_transacao") < _VALUE_EDGES[0], "0-10")
    labels = ["10-50", "50-100", "100-200", "200-400"]
    for edge, lab in zip(_VALUE_EDGES[1:], labels):
        b = b.when(F.col("valor_transacao") < edge, lab)
    return b.otherwise("400+")


_VALUE_BUCKET_SQL = f"""CASE
    WHEN valor_transacao < {_VALUE_EDGES[0]} THEN '0-10'
    WHEN valor_transacao < {_VALUE_EDGES[1]} THEN '10-50'
    WHEN valor_transacao < {_VALUE_EDGES[2]} THEN '50-100'
    WHEN valor_transacao < {_VALUE_EDGES[3]} THEN '100-200'
    WHEN valor_transacao < {_VALUE_EDGES[4]} THEN '200-400'
    ELSE '400+' END"""


def score_by_value_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Box-plot aggregates of the distance score per value bucket
    (pd.cut + plotly box, dashboard.py:447-466): exact quartiles."""
    t = _approved(spark, sf_dir).withColumn("faixa_valor", _value_bucket_col())
    t = t.filter(F.col("t5_score").isNotNull())
    return t.groupBy("faixa_valor").agg(
        F.count("*").alias("total"),
        F.min("t5_score").alias("minimo"),
        F.round(F.percentile("t5_score", F.lit(0.25)), 6).alias("q1"),
        F.round(F.percentile("t5_score", F.lit(0.5)), 6).alias("mediana"),
        F.round(F.percentile("t5_score", F.lit(0.75)), 6).alias("q3"),
        F.max("t5_score").alias("maximo"),
    )


SCORE_BY_VALUE_BUCKET_SQL = _oracle(
    f"""
SELECT {_VALUE_BUCKET_SQL} AS faixa_valor,
       COUNT(*) AS total,
       MIN(t5_score) AS minimo,
       ROUND(QUANTILE_CONT(t5_score, 0.25), 6) AS q1,
       ROUND(QUANTILE_CONT(t5_score, 0.5), 6) AS mediana,
       ROUND(QUANTILE_CONT(t5_score, 0.75), 6) AS q3,
       MAX(t5_score) AS maximo
FROM approved
WHERE t5_score IS NOT NULL
GROUP BY 1"""
)


# --- recent-view scalar metrics (A11, dashboard.py:273-277) -------------------


def recent_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar metrics over the 100 most recent transactions (the Redis
    live-view numbers): mean value, approval rate, distinct payers.
    orderBy+limit plans as TakeOrderedAndProject — per-partition top-100
    then a tiny merge, no single-partition global sort (an unpartitioned
    row_number window would shuffle the whole fact table to one task)."""
    t = _approved(spark, sf_dir)
    recent = t.orderBy(F.desc("data_horario"), F.desc("id_transacao")).limit(
        100
    )
    return recent.agg(
        F.count("*").alias("total"),
        exact.exact_avg("valor_transacao", "valor_medio"),
        exact.exact_avg(
            F.col("transacao_aprovada").cast("double"), "taxa_aprovacao"
        ),
        F.countDistinct("id_usuario_pagador").alias("pagadores_distintos"),
    )


RECENT_METRICS_SQL = _oracle(
    f"""
SELECT COUNT(*) AS total,
       {exact.sql_avg('valor_transacao', 'valor_medio')},
       {exact.sql_avg('CAST(transacao_aprovada AS DOUBLE)', 'taxa_aprovacao')},
       COUNT(DISTINCT id_usuario_pagador) AS pagadores_distintos
FROM (
    SELECT * FROM approved
    ORDER BY data_horario DESC, id_transacao DESC
    LIMIT 100)"""
)


# --- correlation analysis (exact second-order moments) ------------------------


def valor_score_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of value vs distance score per modality —
    built-in corr() accumulates doubles (order-dependent); this uses the
    exact decimal-moment formulation (functions/exact.exact_corr) so the
    statistic is bit-identical with the oracle. NULL inputs excluded
    explicitly (count(1) in the formula counts all surviving rows)."""
    t = _approved(spark, sf_dir).filter(
        F.col("t5_score").isNotNull() & F.col("valor_transacao").isNotNull()
    )
    # final statistic rounded to 6: the moment sums round raw double
    # PRODUCTS at the 6th decimal, where Java's exact-expansion HALF_UP and
    # DuckDB's double rounding can differ by an ulp on midpoint-adjacent
    # values — a ~1e-12 drift in the statistic that final rounding absorbs.
    return t.groupBy("modalidade_pagamento").agg(
        F.count("*").alias("total"),
        F.round(
            exact.exact_corr("valor_transacao", "t5_score", "raw"), 6
        ).alias("correlacao"),
    )


VALOR_SCORE_CORRELATION_SQL = _oracle(
    f"""
SELECT modalidade_pagamento, total,
       ROUND(corr_raw, 6) AS correlacao
FROM (
    SELECT modalidade_pagamento, COUNT(*) AS total,
           {exact.sql_corr('valor_transacao', 't5_score', 'corr_raw')}
    FROM approved
    WHERE t5_score IS NOT NULL AND valor_transacao IS NOT NULL
    GROUP BY modalidade_pagamento
) sub
"""
)


def valor_score_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simple linear regression (t5_score on valor) per modality — the
    trend-line companion to the Pearson correlation, built on the same
    exact decimal moments (functions/exact.exact_regr) so slope and
    intercept are bit-identical with the oracle after final rounding."""
    t = _approved(spark, sf_dir).filter(
        F.col("t5_score").isNotNull() & F.col("valor_transacao").isNotNull()
    )
    slope, icept = exact.exact_regr(
        "valor_transacao", "t5_score", "raw_slope", "raw_icept"
    )
    return (
        t.groupBy("modalidade_pagamento")
        .agg(F.count("*").alias("total"), slope, icept)
        .select(
            "modalidade_pagamento",
            "total",
            F.round("raw_slope", 6).alias("inclinacao"),
            F.round("raw_icept", 6).alias("intercepto"),
        )
    )


VALOR_SCORE_REGRESSION_SQL = _oracle(
    f"""
SELECT modalidade_pagamento, total,
       ROUND(raw_slope, 6) AS inclinacao,
       ROUND(raw_icept, 6) AS intercepto
FROM (
    SELECT modalidade_pagamento, COUNT(*) AS total,
           {exact.sql_regr('valor_transacao', 't5_score', 'raw_slope', 'raw_icept')}
    FROM approved
    WHERE t5_score IS NOT NULL AND valor_transacao IS NOT NULL
    GROUP BY modalidade_pagamento
) sub
"""
)


# --- top-K recent + filters (O2, P6, F19) ------------------------------------


def top_k_recent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2/W3: the Redis 'N most recent transactions' view as a total-order
    top-K — Spark plans TakeOrderedAndProject (no full sort at scale).
    id tiebreak makes the result set deterministic."""
    return (
        _approved(spark, sf_dir)
        .orderBy(F.desc("data_horario"), F.desc("id_transacao"))
        .limit(100)
        .select(
            "id_transacao",
            "data_horario",
            "modalidade_pagamento",
            "valor_transacao",
            "transacao_aprovada",
        )
    )


TOP_K_RECENT_SQL = _oracle(
    """
SELECT id_transacao, data_horario, modalidade_pagamento, valor_transacao,
       transacao_aprovada
FROM approved
ORDER BY data_horario DESC, id_transacao DESC
LIMIT 100"""
)


def filter_membership_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: membership + range predicates (dashboard sidebar filters).
    Reads the lazy `_approved_build`, not the pin: the modality
    membership predicate prunes at the events scan."""
    t = _approved_build(spark, sf_dir)
    return t.filter(
        F.col("modalidade_pagamento").isin("click", "purchase")
        & F.hour("data_horario").between(8, 18)
    ).select(
        "id_transacao",
        "modalidade_pagamento",
        "data_horario",
        "valor_transacao",
        "transacao_aprovada",
    )


FILTER_MEMBERSHIP_RANGE_SQL = _oracle(
    """
SELECT id_transacao, modalidade_pagamento, data_horario, valor_transacao,
       transacao_aprovada
FROM approved
WHERE modalidade_pagamento IN ('click', 'purchase')
  AND HOUR(data_horario) BETWEEN 8 AND 18"""
)


def exceed_limit_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F19: per-modality exceed-limit bool columns + row-wise any()."""
    t = _approved(spark, sf_dir)
    flags = [
        F.coalesce(F.col("valor_transacao") > F.col(f"limite_{m}"), F.lit(False)).alias(
            f"excede_{m}"
        )
        for m in datamodel.MODALITIES
    ]
    t = t.select("id_transacao", *flags)
    any_col = None
    for m in datamodel.MODALITIES:
        c = F.col(f"excede_{m}")
        any_col = c if any_col is None else (any_col | c)
    return t.withColumn("excede_alguma", any_col)


EXCEED_LIMIT_FLAGS_SQL = _oracle(
    "SELECT id_transacao, "
    + ", ".join(
        f"COALESCE(valor_transacao > limite_{m}, FALSE) AS excede_{m}"
        for m in datamodel.MODALITIES
    )
    + ", ("
    + " OR ".join(
        f"COALESCE(valor_transacao > limite_{m}, FALSE)"
        for m in datamodel.MODALITIES
    )
    + ") AS excede_alguma FROM approved"
)


# --- robust anomaly detection: median/MAD outliers per modality --------------

#: modified-z-score cutoff (Iglewicz-Hoaglin) and the MAD normal-consistency
#: constant.
MAD_CUTOFF = 3.5
MAD_K = 1.4826


def mad_outliers_per_modality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-modality outlier profile: median, MAD, and the count of
    transactions whose modified z-score |x - med| / (1.4826 * MAD)
    exceeds 3.5. Mean/std outlier rules (zscore_per_payer) move with the
    outliers themselves; median/MAD don't — this is the anomaly filter a
    monitoring pipeline runs on skewed money amounts.

    Scale shape: two modality-keyed percentile aggregates (median, then
    MAD over the residuals) and a broadcast of the 5-row stats table back
    onto the stream — same profile as the p99 trim, two shuffles total.
    """
    t = datamodel.transactions(spark, sf_dir)
    med = t.groupBy("modalidade_pagamento").agg(
        F.round(F.percentile("valor_transacao", F.lit(0.5)), 6).alias(
            "mediana"
        )
    )
    dev = t.join(F.broadcast(med), "modalidade_pagamento").withColumn(
        "desvio_abs", F.abs(F.col("valor_transacao") - F.col("mediana"))
    )
    mad = dev.groupBy("modalidade_pagamento").agg(
        F.round(F.percentile("desvio_abs", F.lit(0.5)), 6).alias("mad")
    )
    flagged = (
        dev.join(F.broadcast(mad), "modalidade_pagamento")
        .withColumn(
            "z_mod",
            # the division itself must sit under the mad > 0 guard:
            # ANSI evaluates the projection eagerly and throws on /0
            # for a zero-variance modality even though the outlier
            # count below never reads z_mod there
            F.when(
                F.col("mad") > 0,
                F.col("desvio_abs") / (F.lit(MAD_K) * F.col("mad")),
            ),
        )
    )
    # mad == 0 guard: Spark doubles give desvio/0 = Inf while DuckDB's
    # division yields NULL — gate on mad > 0 so a zero-variance modality
    # counts 0 outliers identically in both engines.
    return flagged.groupBy("modalidade_pagamento").agg(
        F.count("*").alias("n_tx"),
        F.min("mediana").alias("mediana"),
        F.min("mad").alias("mad"),
        F.sum(
            F.when(
                (F.col("mad") > 0) & (F.col("z_mod") > MAD_CUTOFF), 1
            ).otherwise(0)
        ).alias("n_outliers"),
    )


MAD_OUTLIERS_SQL = datamodel.with_ctes(
    f"""
SELECT modalidade_pagamento,
       CAST(COUNT(*) AS BIGINT) AS n_tx,
       MIN(mediana) AS mediana,
       MIN(mad) AS mad,
       CAST(SUM(CASE WHEN mad > 0
                      AND desvio_abs / ({MAD_K} * mad) > {MAD_CUTOFF}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM (
    SELECT d.modalidade_pagamento, d.mediana, d.desvio_abs, m.mad
    FROM (
        SELECT t.modalidade_pagamento, s.mediana,
               ABS(t.valor_transacao - s.mediana) AS desvio_abs
        FROM transactions t
        JOIN (
            SELECT modalidade_pagamento,
                   ROUND(QUANTILE_CONT(valor_transacao, 0.5), 6) AS mediana
            FROM transactions GROUP BY modalidade_pagamento
        ) s USING (modalidade_pagamento)
    ) d
    JOIN (
        SELECT modalidade_pagamento,
               ROUND(QUANTILE_CONT(desvio_abs, 0.5), 6) AS mad
        FROM (
            SELECT t.modalidade_pagamento,
                   ABS(t.valor_transacao - s.mediana) AS desvio_abs
            FROM transactions t
            JOIN (
                SELECT modalidade_pagamento,
                       ROUND(QUANTILE_CONT(valor_transacao, 0.5), 6) AS mediana
                FROM transactions GROUP BY modalidade_pagamento
            ) s USING (modalidade_pagamento)
        )
        GROUP BY modalidade_pagamento
    ) m USING (modalidade_pagamento)
)
GROUP BY modalidade_pagamento
"""
)


# --- two-feature regression: score_medio ~ valor + t5 ------------------------


def score_multi_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature linear regression per modality — score_medio on
    (valor_transacao, t5_score) by the closed-form normal equations over
    exact decimal moments (functions/exact.exact_regr2). The multivariate
    step up from valor_score_regression: same one-shuffle profile (nine
    moment sums in a single hash aggregate), the 2x2 Cramer solve is
    scalar arithmetic on the agg row."""
    t = _approved(spark, sf_dir).filter(
        F.col("t5_score").isNotNull()
        & F.col("valor_transacao").isNotNull()
        & F.col("score_medio").isNotNull()
    )
    b1, b2, icept = exact.exact_regr2(
        "valor_transacao", "t5_score", "score_medio",
        "raw_b1", "raw_b2", "raw_icept",
    )
    return (
        t.groupBy("modalidade_pagamento")
        .agg(F.count("*").alias("total"), b1, b2, icept)
        .select(
            "modalidade_pagamento",
            "total",
            F.round("raw_b1", 6).alias("coef_valor"),
            F.round("raw_b2", 6).alias("coef_t5"),
            F.round("raw_icept", 6).alias("intercepto"),
        )
    )


SCORE_MULTI_REGRESSION_SQL = _oracle(
    f"""
SELECT modalidade_pagamento, total,
       ROUND(raw_b1, 6) AS coef_valor,
       ROUND(raw_b2, 6) AS coef_t5,
       ROUND(raw_icept, 6) AS intercepto
FROM (
    SELECT modalidade_pagamento, COUNT(*) AS total,
           {exact.sql_regr2('valor_transacao', 't5_score', 'score_medio',
                            'raw_b1', 'raw_b2', 'raw_icept')}
    FROM approved
    WHERE t5_score IS NOT NULL AND valor_transacao IS NOT NULL
      AND score_medio IS NOT NULL
    GROUP BY modalidade_pagamento
) sub
"""
)


# --- equi-depth histogram of transaction values ------------------------------

EQUIDEPTH_BUCKETS = 10


def equidepth_histogram_valor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-count) histogram of transaction values — the
    histogram an optimizer keeps (bucket boundaries adapt to skew,
    unlike the fixed-width A13 binning). NTILE over a total order
    (valor, id tiebreak) then per-bucket min/max/count.

    Scale note: a global NTILE is a single-partition sort; at 100 TB the
    same boundaries come from approx quantiles + a broadcast cut join
    (the value_histogram p99 pattern, K cuts instead of 1). The exact
    form here is the oracle-checkable baseline of that path."""
    t = datamodel.transactions(spark, sf_dir)
    w = W.orderBy(F.col("valor_transacao").asc(), F.col("id_transacao").asc())
    return (
        t.withColumn("balde", F.ntile(EQUIDEPTH_BUCKETS).over(w))
        .groupBy("balde")
        .agg(
            F.count("*").alias("n"),
            F.min("valor_transacao").alias("valor_min"),
            F.max("valor_transacao").alias("valor_max"),
        )
    )


EQUIDEPTH_SQL = datamodel.with_ctes(
    f"""
SELECT balde, CAST(COUNT(*) AS BIGINT) AS n,
       MIN(valor_transacao) AS valor_min,
       MAX(valor_transacao) AS valor_max
FROM (
    SELECT valor_transacao,
           NTILE({EQUIDEPTH_BUCKETS}) OVER (
               ORDER BY valor_transacao ASC, id_transacao ASC
           ) AS balde
    FROM transactions
)
GROUP BY balde
"""
)


#: sampled-boundary budget for the approx twin: expected sample size is
#: min(16 * ceil(sqrt(N)), 65536) — grows with N for small tables (boundary
#: precision), capped at a constant so the single boundary-sort aggregate
#: buffer stays ~2 MB at ANY corpus size (DKW: max CDF error at the cap is
#: ~0.5% — far inside one bucket's mass).
EQUIDEPTH_SAMPLE_MULT = 16
EQUIDEPTH_SAMPLE_CAP = 65536
_ED_M = 2147483648  # the portable LCG's range (2^31)


def equidepth_histogram_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-safe equi-depth histogram: SAMPLED boundary estimation + a
    broadcast cut join — the 100 TB twin of `equidepth_histogram_valor`
    (whose global NTILE is a single-reducer sort of the fact table; that
    exact form stays registered as the oracle-checkable baseline).

    1. deterministic sample: rows whose portable LCG hash of
       id_transacao falls below M * K_s / N (K_s per
       EQUIDEPTH_SAMPLE_MULT/CAP — both engines derive the same budget
       from COUNT(*), the semantic_dedup size-following template);
    2. boundaries: the j*|S|/B-th order statistics of the sample under
       the (valor, id) total order, computed in ONE bounded
       sort_array(collect_list) aggregate (no Window node anywhere —
       pinned by a plan test);
    3. cut join: the <= B-1 boundary structs broadcast against the fact
       scan; bucket = 1 + #boundaries below the row in the total order
       (a narrow map over a 9-element array);
    4. per-bucket count/min/max — one ordinary hash aggregate.

    Every stage is engine-portable closed-form arithmetic, so this
    APPROXIMATE operator is still oracle-checked bit-for-bit; agreement
    with the exact NTILE baseline is tolerance-tested separately."""
    b = EQUIDEPTH_BUCKETS
    t = datamodel.transactions(spark, sf_dir)
    params = (
        t.agg(F.count("*").alias("n_total"))
        .select(
            "n_total",
            F.least(
                F.greatest(
                    F.lit(1).cast("bigint"),
                    F.ceil(F.sqrt(F.col("n_total"))),
                )
                * F.lit(EQUIDEPTH_SAMPLE_MULT),
                F.lit(EQUIDEPTH_SAMPLE_CAP).cast("bigint"),
            ).alias("k_s"),
        )
        .select(F.expr(f"({_ED_M} * k_s) DIV n_total").alias("thr"))
    )
    h = portable.lcg_hash(F.col("id_transacao"))
    sample = (
        t.select(
            F.col("valor_transacao").alias("v"),
            F.col("id_transacao").alias("i"),
            h.alias("h"),
        )
        .crossJoin(F.broadcast(params))
        .filter(F.col("h") < F.col("thr"))
    )
    positions = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.lit(b - 1)),
            lambda j: F.greatest(
                F.lit(1).cast("bigint"),
                F.floor(
                    j.cast("bigint") * F.size("arr").cast("bigint")
                    / F.lit(float(b))
                ),
            ),
        )
    )
    bnds = (
        sample.agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("v"), F.col("i")))
            ).alias("arr")
        )
        .select(
            F.filter(
                F.transform(
                    positions,
                    lambda p: F.try_element_at(F.col("arr"), p.cast("int")),
                ),
                lambda s: s.isNotNull(),
            ).alias("bnds")
        )
    )
    below = F.size(
        F.filter(
            F.col("bnds"),
            lambda s: (s["v"] < F.col("valor_transacao"))
            | (
                (s["v"] == F.col("valor_transacao"))
                & (s["i"] < F.col("id_transacao"))
            ),
        )
    )
    return (
        t.crossJoin(F.broadcast(bnds))
        .select(
            (F.lit(1) + below).alias("balde"),
            "valor_transacao",
        )
        .groupBy("balde")
        .agg(
            F.count("*").alias("n"),
            F.min("valor_transacao").alias("valor_min"),
            F.max("valor_transacao").alias("valor_max"),
        )
    )


EQUIDEPTH_APPROX_SQL = datamodel.with_ctes(
    f"""
SELECT balde, CAST(COUNT(*) AS BIGINT) AS n,
       MIN(valor_transacao) AS valor_min,
       MAX(valor_transacao) AS valor_max
FROM (
    SELECT t.valor_transacao, t.id_transacao,
           1 + (SELECT COUNT(*) FROM bnd b
                WHERE b.v < t.valor_transacao
                   OR (b.v = t.valor_transacao
                       AND b.i < t.id_transacao)) AS balde
    FROM transactions t
)
GROUP BY balde""",
    extra_ctes=f"""
ed_params AS (
    SELECT ({_ED_M} * LEAST(
               GREATEST(1, CAST(CEIL(SQRT(n_total)) AS BIGINT))
                   * {EQUIDEPTH_SAMPLE_MULT},
               {EQUIDEPTH_SAMPLE_CAP})) // n_total AS thr
    FROM (SELECT COUNT(*) AS n_total FROM transactions)
),
ed_sample AS (
    SELECT t.valor_transacao AS v, t.id_transacao AS i
    FROM transactions t, ed_params
    WHERE ((t.id_transacao % {_ED_M}) * 1103515245 + 12345) % {_ED_M}
          < ed_params.thr
),
ed_ranked AS (
    SELECT v, i, ROW_NUMBER() OVER (ORDER BY v ASC, i ASC) AS rn
    FROM ed_sample
),
ed_pos AS (
    SELECT DISTINCT GREATEST(1, CAST(FLOOR(
               j * (SELECT COUNT(*) FROM ed_sample)
                 / {float(EQUIDEPTH_BUCKETS)!r}) AS BIGINT)) AS p
    FROM generate_series(1, {EQUIDEPTH_BUCKETS - 1}) AS gs(j)
),
bnd AS (
    SELECT v, i FROM ed_ranked JOIN ed_pos ON ed_ranked.rn = ed_pos.p
)""",
)


# --- Benford's-law first-digit screen ----------------------------------------


def _benford_digit(col):
    """First significant digit WITHOUT transcendentals: scale into [1,10)
    with a comparison ladder of exact power-of-10 literals, then floor.

    Every step is an IEEE-754 compare/multiply/divide — correctly rounded
    and bit-identical across JVM and DuckDB libm-free — so the GROUP BY
    key cannot shift between engines the way floor(log10)/pow could at
    power-of-10 boundaries (a 1-ulp log10 divergence there moves a row
    between digit groups). Division by a power of 10 is monotone, so
    y >= 10^k implies y/10^k >= 1 and each step halves the exponent
    range: domain covered is (1e-32, 1e32), far beyond any amount.
    """
    y = F.when(col < 1.0, col * F.lit(1.0e16)).otherwise(col)
    y = F.when(y < 1.0, y * F.lit(1.0e16)).otherwise(y)
    for p in (1.0e16, 1.0e8, 1.0e4, 1.0e2, 1.0e1):
        y = F.when(y >= p, y / F.lit(p)).otherwise(y)
    return F.floor(y).cast("int")


def benford_digit_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law screen over transaction amounts: observed
    first-significant-digit frequencies vs the log10(1 + 1/d)
    expectation, with each digit's chi-square contribution — the
    classic forensic-accounting test for fabricated amounts.

    First digit via the transcendental-free ladder (_benford_digit) on
    positive values. One scan + one 9-row aggregate; the total count
    joins back as a scalar broadcast.
    """
    t = datamodel.transactions(spark, sf_dir).filter(
        F.col("valor_transacao") > 0
    )
    digit = _benford_digit(F.col("valor_transacao"))
    counts = t.select(digit.alias("digito")).groupBy("digito").agg(
        F.count("*").alias("n")
    )
    total = counts.agg(F.sum("n").alias("n_total"))
    p_obs = F.col("n").cast("double") / F.col("n_total").cast("double")
    p_exp = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digito").cast("double"))
    chi = (
        F.col("n_total").cast("double")
        * (p_obs - p_exp) * (p_obs - p_exp) / p_exp
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digito",
            "n",
            # exact integer ratio UNROUNDED (l_diversity/chi2
            # convention); the log10 terms stay ROUND(.,6)
            # (transcendental-output precedent)
            p_obs.alias("freq_observada"),
            F.round(p_exp, 6).alias("freq_benford"),
            F.round(chi, 6).alias("chi2_contrib"),
        )
    )


#: digit ladder as chained CTEs — the same exact power-of-10 literals and
#: step order as _benford_digit, so both engines walk identical IEEE ops.
_BENFORD_CTES = """
bd0 AS (
    SELECT valor_transacao AS x FROM transactions WHERE valor_transacao > 0
),
bd1 AS (SELECT CASE WHEN x < 1.0 THEN x * 1e16 ELSE x END AS y FROM bd0),
bd2 AS (SELECT CASE WHEN y < 1.0 THEN y * 1e16 ELSE y END AS y FROM bd1),
bd3 AS (SELECT CASE WHEN y >= 1e16 THEN y / 1e16 ELSE y END AS y FROM bd2),
bd4 AS (SELECT CASE WHEN y >= 1e8 THEN y / 1e8 ELSE y END AS y FROM bd3),
bd5 AS (SELECT CASE WHEN y >= 1e4 THEN y / 1e4 ELSE y END AS y FROM bd4),
bd6 AS (SELECT CASE WHEN y >= 1e2 THEN y / 1e2 ELSE y END AS y FROM bd5),
bd7 AS (SELECT CASE WHEN y >= 1e1 THEN y / 1e1 ELSE y END AS y FROM bd6),
benford_counts AS (
    SELECT CAST(FLOOR(y) AS INTEGER) AS digito,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM bd7 GROUP BY 1
),
benford_total AS (
    SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM benford_counts
)
"""

BENFORD_SQL = datamodel.with_ctes(
    """
SELECT digito, n,
       CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE)
           AS freq_observada,
       ROUND(LOG10(1.0 + 1.0 / CAST(digito AS DOUBLE)), 6) AS freq_benford,
       ROUND(CAST(n_total AS DOUBLE)
             * (CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE)
                - LOG10(1.0 + 1.0 / CAST(digito AS DOUBLE)))
             * (CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE)
                - LOG10(1.0 + 1.0 / CAST(digito AS DOUBLE)))
             / LOG10(1.0 + 1.0 / CAST(digito AS DOUBLE)), 6)
           AS chi2_contrib
FROM benford_counts, benford_total
""",
    extra_ctes=_BENFORD_CTES,
)


# --- geodesic distance stats (F18 with a DuckDB oracle) ----------------------


def geo_distance_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per tx-region haversine stats between the transaction region's
    coordinates and the payer's home-region coordinates — F18
    (dashboard.py:187-191's geopy row-apply) as a native trig expression
    WITH an oracle twin (the geo family was previously only
    property-tested). Same per-value ROUND(.,6) + exact-decimal-mean
    discipline as BM25's log-bearing aggregate; null payer coords are
    filtered in both dialects.

    Scale shape: one narrow trig map over the enriched scan, one 25-group
    hash aggregate."""
    from banking_streaming_etl_spark.functions import exact, geo

    e = datamodel.enriched_transactions(spark, sf_dir).filter(
        F.col("latitude_u").isNotNull()
    )
    hav = F.round(
        geo.haversine_km(
            "latitude_t", "longitude_t", "latitude_u", "longitude_u"
        ),
        6,
    )
    return (
        e.select("id_regiao", hav.alias("dist_km"))
        .groupBy("id_regiao")
        .agg(
            F.count("*").alias("n_tx"),
            exact.exact_avg(F.col("dist_km"), "dist_media_km"),
            F.min("dist_km").alias("dist_min_km"),
            F.max("dist_km").alias("dist_max_km"),
        )
    )


def _geo_distance_sql() -> str:
    from banking_streaming_etl_spark.functions import exact, geo

    hav = geo.haversine_sql(
        "latitude_t", "longitude_t", "latitude_u", "longitude_u"
    )
    return datamodel.with_ctes(
        f"""
SELECT id_regiao, COUNT(*) AS n_tx,
       {exact.sql_avg('dist_km', 'dist_media_km')},
       MIN(dist_km) AS dist_min_km,
       MAX(dist_km) AS dist_max_km
FROM (
    SELECT id_regiao, ROUND({hav}, 6) AS dist_km
    FROM enriched
    WHERE latitude_u IS NOT NULL
)
GROUP BY id_regiao
"""
    )


GEO_DISTANCE_SQL = _geo_distance_sql()


# --- Pareto concentration by payer decile ------------------------------------


def pareto_share_by_decile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume concentration: payers ranked by total spend, NTILE(10)
    deciles, each decile's share of all volume — the 80/20 fraud-exposure
    profile. Totals accumulate in exact DECIMAL; the only double math is
    the final share division, term-identical in both dialects.

    Scale shape (round-5 fix of the last single-task sort): the decile
    comes from operators/ranking.with_global_ntile — sampled boundaries
    + broadcast cut join + per-bucket rank + exact prefix offsets — so
    NO unpartitioned window exists anywhere in the plan even though the
    answer is bit-identical to NTILE(10) (the oracle keeps its plain
    NTILE text; ntile_from_rank's closed form reproduces it exactly)."""
    from banking_streaming_etl_spark.functions import exact
    from banking_streaming_etl_spark.operators import ranking

    t = datamodel.transactions(spark, sf_dir)
    totals = t.groupBy("id_usuario_pagador").agg(
        F.sum(exact._d(F.col("valor_transacao"))).alias("total_dec")
    )
    gt = totals.agg(F.sum("total_dec").alias("grand_dec"))
    return (
        ranking.with_global_ntile(
            totals,
            "total_dec",
            "id_usuario_pagador",
            10,
            out="decil",
            value_desc=True,
            # desc rank: a NULL total would land at rank 1 under the
            # old implicit nulls-first order and skew decile 1 — the
            # SUM aggregate can't produce one, so fail loudly if it
            # ever does (round-6 verdict task #6 audit).
            nulls="reject",
        )
        .groupBy("decil")
        .agg(
            F.count("*").alias("n_pagadores"),
            F.sum("total_dec").alias("soma_dec"),
        )
        .crossJoin(F.broadcast(gt))
        .select(
            "decil",
            "n_pagadores",
            F.col("soma_dec").cast("double").alias("valor_total"),
            F.round(
                F.col("soma_dec").cast("double")
                / F.col("grand_dec").cast("double"),
                6,
            ).alias("parcela"),
        )
    )


# --- exact ROC-AUC of the risk score ------------------------------------------


def risk_score_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC-AUC of the risk score as a denial predictor — the
    model-evaluation statistic, computed distributed at any scale via
    the Mann-Whitney rank-sum identity:
    AUC = (sum of positive ranks - n_pos(n_pos+1)/2) / (n_pos * n_neg),
    with the GLOBAL rank from operators/ranking (no single-task sort —
    sklearn.roc_auc_score's sort simply doesn't exist at 10^12 rows).

    Ties in score_medio break deterministically by id_transacao (both
    dialects apply the identical total order, so the statistic is
    bit-identical cross-engine; the tie-broken AUC sits between the
    standard tie-adjusted bounds). Rank sums accumulate in DECIMAL(38,0)
    — at 10^12 rows a rank sum is ~5e23, past bigint — and every double
    conversion/expression is term-identical in both dialects."""
    # session-shared ASC rank (the calibration/isotonic family reads
    # the same pass)
    ranked = _cal_rank_asc(spark, sf_dir)
    pos = (~F.col("transacao_aprovada")).cast("int")
    agg = ranked.agg(
        F.sum(pos).cast("bigint").alias("n_pos"),
        F.count("*").cast("bigint").alias("n"),
        F.sum(
            F.when(~F.col("transacao_aprovada"), F.col("r")).otherwise(0)
            .cast("decimal(38,0)")
        ).alias("s_pos"),
    )
    npd = F.col("n_pos").cast("double")
    nnd = (F.col("n") - F.col("n_pos")).cast("double")
    auc = (
        F.col("s_pos").cast("double") - npd * (npd + F.lit(1.0)) / F.lit(2.0)
    ) / (npd * nnd)
    return agg.select(
        "n_pos",
        (F.col("n") - F.col("n_pos")).alias("n_neg"),
        F.round(auc, 6).alias("auc"),
    )


RISK_SCORE_AUC_SQL = _oracle(
    """
SELECT n_pos, n - n_pos AS n_neg,
       ROUND((CAST(s_pos AS DOUBLE)
              - CAST(n_pos AS DOUBLE) * (CAST(n_pos AS DOUBLE) + 1.0) / 2.0)
             / (CAST(n_pos AS DOUBLE) * CAST(n - n_pos AS DOUBLE)), 6)
           AS auc
FROM (
    SELECT CAST(SUM(CASE WHEN NOT transacao_aprovada THEN 1 ELSE 0 END)
                AS BIGINT) AS n_pos,
           CAST(COUNT(*) AS BIGINT) AS n,
           SUM(CASE WHEN NOT transacao_aprovada THEN r ELSE 0 END) AS s_pos
    FROM (
        SELECT transacao_aprovada,
               ROW_NUMBER() OVER (ORDER BY score_medio ASC,
                                  id_transacao ASC) AS r
        FROM approved
    )
)"""
)


#: top-K cutoffs for the precision@K table. Every K has a <= 3-digit
#: decimal reciprocal, so ROUND(n/K, 6) is exact and unambiguous in both
#: engines (never the .5-at-digit-7 exact-rational hazard).
PR_AT_KS = (10, 25, 50, 100, 250)


def precision_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision@K table for the risk score as a denial detector — the
    ops-facing companion of `risk_score_auc` (AUC summarizes the whole
    ranking; a fraud-review queue only reads the TOP of it): for each
    review budget K, how many of the K highest-scoring transactions were
    actually denied. One distributed-rank pass (value_desc — no
    single-task sort) + ONE aggregate emitting every K via conditional
    sums, exploded to one row per K.

    Cross-engine contract: precision_at_k = ROUND(n/K, 6) is safe
    because every K's reciprocal terminates well before digit 7 (see
    PR_AT_KS); recall is NOT emitted as a rounded ratio — its
    denominator n_pos_total is data-dependent and could land on the
    exact-rational rounding boundary (the round-5-advice hazard class) —
    readers divide the two exact integer columns themselves."""
    # session-shared DESC rank (roc_curve_deciles reads the same pass)
    ranked = _cal_rank_desc(spark, sf_dir)
    pos = (~F.col("transacao_aprovada")).cast("int")
    aggs = [F.sum(pos).cast("bigint").alias("n_pos_total")]
    for k in PR_AT_KS:
        aggs.append(
            F.sum(F.when(F.col("r") <= k, pos).otherwise(0))
            .cast("bigint")
            .alias(f"p_{k}")
        )
    agg = ranked.agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(k).cast("int").alias("k"),
                F.col(f"p_{k}").alias("n_pos_topk"),
            )
            for k in PR_AT_KS
        ]
    )
    return agg.select(
        F.explode(entries).alias("e"), "n_pos_total"
    ).select(
        F.col("e.k").alias("k"),
        F.col("e.n_pos_topk").alias("n_pos_topk"),
        "n_pos_total",
        F.round(
            F.col("e.n_pos_topk").cast("double") / F.col("e.k").cast("double"),
            6,
        ).alias("precision_at_k"),
    )


PRECISION_AT_K_SQL = _oracle(
    f"""
SELECT k, n_pos_topk, n_pos_total,
       ROUND(CAST(n_pos_topk AS DOUBLE) / CAST(k AS DOUBLE), 6)
           AS precision_at_k
FROM (
    SELECT u.k,
           CAST(SUM(CASE WHEN r <= u.k AND NOT transacao_aprovada
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pos_topk,
           CAST(SUM(CASE WHEN NOT transacao_aprovada THEN 1 ELSE 0 END)
                AS BIGINT) AS n_pos_total
    FROM (
        SELECT transacao_aprovada,
               ROW_NUMBER() OVER (ORDER BY score_medio DESC,
                                  id_transacao ASC) AS r
        FROM approved
    ), (SELECT unnest([{", ".join(str(k) for k in PR_AT_KS)}]) AS k) u
    GROUP BY u.k
)"""
)


def mi_modality_approval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-information contingency screen between payment modality
    and the approval outcome: per-cell joint count plus its contribution
    (n_ij/N) * ln(n_ij*N / (n_i*n_j)) to I(modality; approval) in nats —
    the feature-relevance statistic a model-audit reads (sums of the
    6-rounded contributions give the total MI, on-grid by composition).

    Cross-engine contract: the contribution is TRANSCENDENTAL (ln of a
    non-unit rational) so ROUND(.,6) is unambiguous (BM25 precedent);
    the ln argument is exactly 1 only when the cell is exactly
    independent, where the contribution is exactly 0 in both engines.
    GROUP keys are the raw categorical columns — no derived-key hazard.
    Scale shape: a projection of the shared pinned (modality, approval)
    contingency kernel — cells and margins from one corpus aggregate per
    session, model-sized at any corpus size."""
    nij = F.col("n_celula").cast("double")
    ni = F.col("n_modalidade").cast("double")
    nj = F.col("n_resultado").cast("double")
    nn = F.col("n_total").cast("double")
    contrib = (nij / nn) * F.log(nij * nn / (ni * nj))
    return _modality_approval_cells(spark, sf_dir).select(
        "modalidade_pagamento",
        "transacao_aprovada",
        "n_celula",
        "n_modalidade",
        "n_resultado",
        F.round(contrib, 6).alias("mi_contrib_nats"),
    )


MI_MODALITY_SQL = datamodel.with_ctes(
    """
SELECT modalidade_pagamento, transacao_aprovada, n_celula,
       n_modalidade, n_resultado,
       ROUND((CAST(n_celula AS DOUBLE) / CAST(n_total AS DOUBLE))
             * LN(CAST(n_celula AS DOUBLE) * CAST(n_total AS DOUBLE)
                  / (CAST(n_modalidade AS DOUBLE)
                     * CAST(n_resultado AS DOUBLE))), 6)
           AS mi_contrib_nats
FROM ma_cells""",
    extra_ctes=scores.SCORED_CTE + MODALITY_APPROVAL_CELLS_CTE,
)


#: conformal miscoverage levels, in permille (integer keys — never a
#: float-literal group key).
CONF_ALPHAS_PERMILLE = (100, 50, 10)
#: deterministic calibration split: ids with id % CONF_SPLIT_MOD == 0
#: play the calibration set (the dedup_incremental convention — a
#: data-derived rule keeps the operator oracle-checkable).
CONF_SPLIT_MOD = 5


def _conf_scored_mod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Like `_conf_scored` but carrying the modality column — the shared
    split base of the Mondrian conformal pair (`conformal_by_modality`
    + its diagnostic twin)."""
    return _approved(spark, sf_dir).select(
        "id_transacao", "modalidade_pagamento", "score_medio"
    )


def _conf_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared (id_transacao, score_medio) base of the marginal conformal
    pair — a projection of the scored-fact pin, so the calibration split
    (rank pass) and the evaluation split (coverage count) read ONE
    materialized frame instead of re-deriving the enrich+score graph per
    split (guide §2.4 — one derivation, two filters)."""
    return _cal_scored(spark, sf_dir).select("id_transacao", "score_medio")


def conformal_thresholds_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The frozen conformal threshold table (alpha_permille, n_cal,
    limiar): exact order statistics of the calibration split, one rank
    pass — shared by the batch coverage audit
    (`conformal_risk_thresholds`) and the live one
    (streaming/windows.streaming_conformal_coverage), so the two can
    never drift."""
    from banking_streaming_etl_spark.operators import ranking

    ap = _conf_scored(spark, sf_dir)
    is_cal = F.col("id_transacao") % CONF_SPLIT_MOD == 0
    # the rank pipeline truncates its own input lineage (round-14
    # ranking-internal checkpoint), and `ap` is the shared checkpointed
    # split base — no extra barrier needed here
    ranked = ranking.with_global_row_number(
        ap.filter(is_cal), "score_medio", "id_transacao", out="r"
    )
    alphas = F.explode(
        F.array(*[F.lit(a).cast("int") for a in CONF_ALPHAS_PERMILLE])
    ).alias("alpha_permille")
    tgt_rank = F.greatest(
        F.lit(1).cast("bigint"),
        F.least(
            F.col("_rank_n_total"),
            F.expr(
                "((1000 - alpha_permille) * (_rank_n_total + 1) + 999) "
                "DIV 1000"
            ),
        ),
    )
    return (
        ranked.select("r", "_rank_n_total", "score_medio")
        .crossJoin(F.broadcast(ranked.sparkSession.range(1).select(alphas)))
        .filter(F.col("r") == tgt_rank)
        .select(
            "alpha_permille",
            F.col("_rank_n_total").alias("n_cal"),
            F.col("score_medio").alias("limiar"),
        )
    )


def conformal_risk_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal calibration of the risk score (Vovk et al.; the
    distribution-free coverage guarantee): on a deterministic
    calibration split, take the ceil((1-alpha)(n_cal+1))-th smallest
    score as the threshold for each miscoverage level alpha, then count
    how many evaluation-split transactions fall at or under it — the
    observed-coverage audit of the guarantee. The threshold rank is the
    textbook finite-sample-corrected order statistic.

    Exactness: the threshold is a SELECTED value (the distributed rank
    operator picks the exact order statistic — no quantile
    interpolation, no single-task sort) and every other output is an
    integer; the target rank is pure bigint arithmetic
    ((1000 - alpha) * (n+1) + 999) DIV 1000 clamped to [1, n] — no
    float in any key or count. Scale shape: one rank pass over the
    calibration split; the <= |alphas| threshold rows broadcast onto
    one conditional-count aggregate of the evaluation split."""
    ap = _conf_scored(spark, sf_dir)
    thresholds = conformal_thresholds_frame(spark, sf_dir)
    ev = ap.filter(~(F.col("id_transacao") % CONF_SPLIT_MOD == 0))
    return (
        ev.crossJoin(F.broadcast(thresholds))
        .groupBy("alpha_permille", "n_cal", "limiar")
        .agg(
            F.count("*").cast("bigint").alias("n_aval"),
            # when/otherwise(0), not a nullable cast: with a NULL
            # limiar/score (degenerate tiny corpus) the SQL twin's CASE
            # ... ELSE 0 yields 0 while SUM of all-NULL ints yields NULL
            F.sum(
                F.when(
                    F.col("score_medio") <= F.col("limiar"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_coberto"),
        )
    )


def conformal_by_modality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mondrian (group-conditional) split-conformal calibration: the
    coverage guarantee of `conformal_risk_thresholds` holds only
    MARGINALLY over the whole population — a score that under-covers PIX
    and over-covers boleto still passes the marginal audit. The Mondrian
    variant (Vovk's taxonomy-conditional conformal) calibrates one
    threshold PER PAYMENT MODALITY at each miscoverage level, restoring
    the guarantee within every group a policy would act on.

    Exactness: same all-integer rank arithmetic as the marginal twin,
    but the order statistic is selected per group by the GROUPED
    distributed-ranking form (operators/ranking.py group_cols — per-group
    sampled boundaries, (group, bucket)-partitioned local windows,
    per-group exact offsets; the broadcast-sized group-cardinality
    precondition is ENFORCED by the plan-level max_groups assert_true
    guard, which this query makes driver-visible). Scale shape: one
    grouped rank pass over the calibration split; the <= G x |alphas|
    threshold rows broadcast onto one equi-join + conditional-count
    aggregate of the evaluation split."""
    from banking_streaming_etl_spark.operators import ranking

    ap = _conf_scored_mod(spark, sf_dir)
    is_cal = F.col("id_transacao") % CONF_SPLIT_MOD == 0
    # `ap` is the session-shared lazily-checkpointed split base (one
    # derivation serves calibration AND evaluation splits), and the
    # grouped rank pass truncates its own input lineage internally
    # (round-14) — the old eager per-query barrier is gone.
    ranked = ranking.with_global_row_number(
        ap.filter(is_cal),
        "score_medio", "id_transacao",
        out="r", group_cols=["modalidade_pagamento"],
    )
    alphas = F.explode(
        F.array(*[F.lit(a).cast("int") for a in CONF_ALPHAS_PERMILLE])
    ).alias("alpha_permille")
    tgt_rank = F.greatest(
        F.lit(1).cast("bigint"),
        F.least(
            F.col("_rank_n_total"),
            F.expr(
                "((1000 - alpha_permille) * (_rank_n_total + 1) + 999) "
                "DIV 1000"
            ),
        ),
    )
    thresholds = (
        ranked.select(
            "modalidade_pagamento", "r", "_rank_n_total", "score_medio"
        )
        .crossJoin(F.broadcast(ranked.sparkSession.range(1).select(alphas)))
        .filter(F.col("r") == tgt_rank)
        .select(
            "modalidade_pagamento",
            "alpha_permille",
            F.col("_rank_n_total").alias("n_cal"),
            F.col("score_medio").alias("limiar"),
        )
    )
    ev = ap.filter(~is_cal)
    return (
        ev.join(F.broadcast(thresholds), "modalidade_pagamento")
        .groupBy("modalidade_pagamento", "alpha_permille", "n_cal", "limiar")
        .agg(
            F.count("*").cast("bigint").alias("n_aval"),
            # when/otherwise(0), not a nullable cast: with a NULL
            # limiar/score (degenerate tiny corpus) the SQL twin's CASE
            # ... ELSE 0 yields 0 while SUM of all-NULL ints yields NULL
            F.sum(
                F.when(
                    F.col("score_medio") <= F.col("limiar"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_coberto"),
        )
    )


def conformal_modality_diagnostic(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Diagnostic twin of `conformal_by_modality` (round-8 verdict #2):
    emits the per-modality calibration inputs BEHIND the threshold
    selection — calibration count, the integer target rank, the selected
    order statistic, and the count of calibration scores EXACTLY EQUAL
    to it (tie width at the cut). If a driver run ever disagrees with
    the full query again, this row set localizes whether the divergence
    is in the rank arithmetic (r_alvo), the order statistic itself
    (limiar), or tie handling at the cut (n_empate)."""
    from banking_streaming_etl_spark.operators import ranking

    ap = _conf_scored_mod(spark, sf_dir)
    cal = ap.filter(F.col("id_transacao") % CONF_SPLIT_MOD == 0)
    ranked = ranking.with_global_row_number(
        cal, "score_medio", "id_transacao",
        out="r", group_cols=["modalidade_pagamento"],
    )
    alphas = F.explode(
        F.array(*[F.lit(a).cast("int") for a in CONF_ALPHAS_PERMILLE])
    ).alias("alpha_permille")
    tgt_rank = F.greatest(
        F.lit(1).cast("bigint"),
        F.least(
            F.col("_rank_n_total"),
            F.expr(
                "((1000 - alpha_permille) * (_rank_n_total + 1) + 999) "
                "DIV 1000"
            ),
        ),
    )
    thr = (
        ranked.select(
            "modalidade_pagamento", "r", "_rank_n_total", "score_medio"
        )
        .crossJoin(F.broadcast(ranked.sparkSession.range(1).select(alphas)))
        .filter(F.col("r") == tgt_rank)
        .select(
            "modalidade_pagamento",
            "alpha_permille",
            F.col("_rank_n_total").alias("n_cal"),
            F.col("r").alias("r_alvo"),
            F.col("score_medio").alias("limiar"),
        )
    )
    return (
        cal.join(F.broadcast(thr), "modalidade_pagamento")
        .groupBy(
            "modalidade_pagamento", "alpha_permille", "n_cal",
            "r_alvo", "limiar",
        )
        .agg(
            F.sum(
                F.when(F.col("score_medio") == F.col("limiar"), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("n_empate"),
        )
    )


CONFORMAL_MODALITY_DIAG_SQL = _oracle(
    f"""
SELECT c.modalidade_pagamento, t.alpha_permille, t.n_cal, t.r_alvo,
       t.limiar,
       CAST(SUM(CASE WHEN c.score_medio = t.limiar THEN 1 ELSE 0 END)
            AS BIGINT) AS n_empate
FROM (SELECT modalidade_pagamento, score_medio
      FROM approved WHERE id_transacao % {CONF_SPLIT_MOD} = 0) c
JOIN (
    SELECT modalidade_pagamento, alpha_permille, n_cal, r AS r_alvo,
           score_medio AS limiar
    FROM (
        SELECT modalidade_pagamento, score_medio,
               ROW_NUMBER() OVER (PARTITION BY modalidade_pagamento
                                  ORDER BY score_medio ASC,
                                  id_transacao ASC) AS r,
               COUNT(*) OVER (PARTITION BY modalidade_pagamento) AS n_cal
        FROM approved WHERE id_transacao % {CONF_SPLIT_MOD} = 0
    ), (SELECT unnest([{", ".join(str(a) for a in CONF_ALPHAS_PERMILLE)}])
            AS alpha_permille)
    WHERE r = GREATEST(1, LEAST(n_cal,
              ((1000 - alpha_permille) * (n_cal + 1) + 999) // 1000))
) t ON c.modalidade_pagamento = t.modalidade_pagamento
GROUP BY c.modalidade_pagamento, t.alpha_permille, t.n_cal, t.r_alvo,
         t.limiar"""
)


CONFORMAL_BY_MODALITY_SQL = _oracle(
    f"""
SELECT e.modalidade_pagamento, t.alpha_permille, t.n_cal, t.limiar,
       CAST(COUNT(*) AS BIGINT) AS n_aval,
       CAST(SUM(CASE WHEN e.score_medio <= t.limiar THEN 1 ELSE 0 END)
            AS BIGINT) AS n_coberto
FROM (SELECT modalidade_pagamento, score_medio
      FROM approved WHERE id_transacao % {CONF_SPLIT_MOD} <> 0) e
JOIN (
    SELECT modalidade_pagamento, alpha_permille, n_cal,
           score_medio AS limiar
    FROM (
        SELECT modalidade_pagamento, score_medio,
               ROW_NUMBER() OVER (PARTITION BY modalidade_pagamento
                                  ORDER BY score_medio ASC,
                                  id_transacao ASC) AS r,
               COUNT(*) OVER (PARTITION BY modalidade_pagamento) AS n_cal
        FROM approved WHERE id_transacao % {CONF_SPLIT_MOD} = 0
    ), (SELECT unnest([{", ".join(str(a) for a in CONF_ALPHAS_PERMILLE)}])
            AS alpha_permille)
    WHERE r = GREATEST(1, LEAST(n_cal,
              ((1000 - alpha_permille) * (n_cal + 1) + 999) // 1000))
) t ON e.modalidade_pagamento = t.modalidade_pagamento
GROUP BY e.modalidade_pagamento, t.alpha_permille, t.n_cal, t.limiar"""
)


CONFORMAL_SQL = _oracle(
    f"""
SELECT t.alpha_permille, t.n_cal, t.limiar,
       CAST(COUNT(*) AS BIGINT) AS n_aval,
       CAST(SUM(CASE WHEN e.score_medio <= t.limiar THEN 1 ELSE 0 END)
            AS BIGINT) AS n_coberto
FROM (SELECT score_medio
      FROM approved WHERE id_transacao % {CONF_SPLIT_MOD} <> 0) e
CROSS JOIN (
    SELECT alpha_permille, n_cal, score_medio AS limiar
    FROM (
        SELECT score_medio,
               ROW_NUMBER() OVER (ORDER BY score_medio ASC,
                                  id_transacao ASC) AS r,
               COUNT(*) OVER () AS n_cal
        FROM approved WHERE id_transacao % {CONF_SPLIT_MOD} = 0
    ), (SELECT unnest([{", ".join(str(a) for a in CONF_ALPHAS_PERMILLE)}])
            AS alpha_permille)
    WHERE r = GREATEST(1, LEAST(n_cal,
              ((1000 - alpha_permille) * (n_cal + 1) + 999) // 1000))
) t
GROUP BY t.alpha_permille, t.n_cal, t.limiar"""
)


def score_calibration_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram of the risk score: exact global score deciles
    (the distributed NTILE — no single-task sort) x observed denial rate
    per decile — AUC's companion evaluation (AUC says the score RANKS
    denials higher; calibration says WHERE the risk mass actually sits).
    A well-behaved score shows denial rate rising monotonically across
    deciles.

    All value columns are exact-integer ratios / decimal-accumulated
    means rounded once — the usual cross-engine contract."""
    from banking_streaming_etl_spark.functions import exact

    # session-shared scored + ASC-NTILE frame (the calibration trio all
    # read the identical decile assignment — materialized once)
    binned = _cal_ntile_asc(spark, sf_dir)
    return (
        binned.groupBy("decil")
        .agg(
            F.count("*").alias("n"),
            exact.exact_avg("score_medio", "score_medio_decil"),
            F.sum((~F.col("transacao_aprovada")).cast("int"))
            .cast("bigint")
            .alias("n_negadas"),
        )
        .select(
            "decil",
            "n",
            "score_medio_decil",
            "n_negadas",
            # exact integer ratio stays UNROUNDED (the l_diversity/chi2
            # convention — no .5-at-digit-7 cross-engine hazard)
            (
                F.col("n_negadas").cast("double")
                / F.col("n").cast("double")
            ).alias("taxa_negacao"),
        )
    )


def _score_calibration_sql() -> str:
    from banking_streaming_etl_spark.functions import exact

    return _oracle(
        f"""
SELECT decil, CAST(COUNT(*) AS BIGINT) AS n,
       {exact.sql_avg('score_medio', 'score_medio_decil')},
       CAST(SUM(CASE WHEN NOT transacao_aprovada THEN 1 ELSE 0 END)
            AS BIGINT) AS n_negadas,
       CAST(SUM(CASE WHEN NOT transacao_aprovada THEN 1 ELSE 0 END)
            AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
           AS taxa_negacao
FROM (
    SELECT transacao_aprovada, score_medio,
           NTILE(10) OVER (ORDER BY score_medio ASC, id_transacao ASC)
               AS decil
    FROM approved
)
GROUP BY decil"""
    )


# --- Poisson-bootstrap confidence interval -----------------------------------

#: bootstrap resamples (means collected into one bounded array; CI = the
#: 2.5% / 97.5% order statistics -> indices 2 and 63 of the sorted 64).
BOOT_B = 64
#: truncated Poisson(1) CDF as INTEGER thresholds on the portable-hash
#: range [0, 2^31): w = #{k: h >= t_k} reproduces P(w=k) = e^-1/k! for
#: k <= 5 (tail mass 6e-4 folded into w=6). Integer literals — both
#: engines compare the identical bigints, so the draws are bit-portable
#: with NO float literal in either dialect (the DuckDB
#: literal-through-DECIMAL hazard never arises).
_POISSON_CUM = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
)
BOOT_THRESHOLDS = tuple(int(c * portable.M31) for c in _POISSON_CUM)


def _boot_consts(b: int) -> tuple[int, int]:
    """Per-resample independent LCG constants: odd multiplier (bijection
    mod 2^31) + additive offset, derived from Knuth/Murmur mixing primes."""
    a = (((2 * b + 1) * 2654435761) % portable.M31) | 1
    bb = (b * 2246822519) % portable.M31
    return a, bb


def bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% confidence interval for the mean transaction
    value — THE distributed bootstrap (each row joins resample b with a
    Poisson(1) weight, so a resample is one weighted aggregate and all
    B resamples run in ONE pass; no per-resample shuffling or sampling
    jobs — the classic trick for bootstrap at terabyte scale).

    Engine-portable determinism: resample weights come from the portable
    LCG ladder compared against INTEGER-scaled Poisson CDF thresholds
    (no transcendental, no float literal anywhere in the draw); weighted
    sums accumulate in DECIMAL; the CI bounds are exact order statistics
    of the B=64 bootstrap means (sorted-array element selection, no
    interpolation). Every stage is bit-identical across engines.

    Scale shape: one aggregate pass producing 2B+2 columns; the means
    array is B elements; output is one row."""
    from banking_streaming_etl_spark.functions import exact

    t = datamodel.transactions(spark, sf_dir)
    x = exact._d(F.col("valor_transacao"))
    # Stage the resample weights through two narrow projections (hash
    # once per resample, weight once) instead of inlining the LCG
    # ladder ~12x per resample inside one 2B+2-column aggregate: the
    # values are term-identical (same arithmetic, same order), but the
    # analyzed/optimized tree shrinks ~6x. The old single-Aggregate
    # form spent ~5 s of driver time in Catalyst analysis+codegen on a
    # ~12k-node expression tree before the (0.1 s) execution even
    # started (guide §1.2: fix the plan, not the config). CollapseProject
    # keeps the stages separate because h_b / w_b are non-cheap and
    # referenced more than once.
    hashed = t.select(
        x.alias("x"),
        *[
            portable.lcg_hash(
                F.col("id_transacao"), *_boot_consts(b)
            ).alias(f"h_{b}")
            for b in range(BOOT_B)
        ],
    )
    weighted = hashed.select(
        "x",
        *[
            sum(
                (F.col(f"h_{b}") >= F.lit(tk)).cast("int")
                for tk in BOOT_THRESHOLDS
            )
            .cast("bigint")
            .alias(f"w_{b}")
            for b in range(BOOT_B)
        ],
    )
    aggs = [
        F.count("*").alias("n"),
        F.sum("x").alias("s_all"),
    ]
    for b in range(BOOT_B):
        w = F.col(f"w_{b}")
        aggs.append(F.sum(w * F.col("x")).alias(f"bs_{b}"))
        aggs.append(F.sum(w).alias(f"bc_{b}"))
    agg = weighted.agg(*aggs)
    # a tiny corpus can hand a resample ZERO Poisson weight — its mean
    # is undefined and the engines disagree on NULL placement inside a
    # sorted list, so the CI is emitted only when EVERY resample drew
    # mass (ci_ok; the SQL twin mirrors the LEAST(...) > 0 guard)
    ci_ok = F.least(*[F.col(f"bc_{b}") for b in range(BOOT_B)]) > 0
    means = F.array_sort(
        F.array(
            *[
                F.when(
                    F.col(f"bc_{b}") > 0,
                    F.col(f"bs_{b}").cast("double")
                    / F.col(f"bc_{b}").cast("double"),
                )
                for b in range(BOOT_B)
            ]
        )
    )
    # ceil for the LOWER order statistic (round-5 advice fix): with
    # B=64, ceil(0.025*64)=2 and int(0.975*64)+1=63 — the documented
    # symmetric (2, 63) 95% CI convention; int() alone floored the lower
    # index to 1 (a ~1.5th-percentile, asymmetrically wide lower tail)
    lo_i = max(1, math.ceil(0.025 * BOOT_B))
    hi_i = min(BOOT_B, int(0.975 * BOOT_B) + 1)
    return agg.select(
        F.col("n").cast("bigint").alias("n"),
        F.round(
            F.col("s_all").cast("double") / F.col("n").cast("double"), 6
        ).alias("media"),
        F.when(
            ci_ok, F.round(F.element_at(means, lo_i), 6)
        ).alias("ic_inferior"),
        F.when(
            ci_ok, F.round(F.element_at(means, hi_i), 6)
        ).alias("ic_superior"),
    )


def _bootstrap_sql() -> str:
    terms = []
    for b in range(BOOT_B):
        a_c, b_c = _boot_consts(b)
        h = portable.lcg_hash_sql("id_transacao", a_c, b_c)
        w = " + ".join(
            f"CASE WHEN ({h}) >= {tk} THEN 1 ELSE 0 END"
            for tk in BOOT_THRESHOLDS
        )
        terms.append(
            f"SUM(({w}) * CAST(ROUND(valor_transacao, 6) AS DECIMAL(28,6)))"
            f" AS bs_{b}, SUM({w}) AS bc_{b}"
        )
    means = ", ".join(
        f"CASE WHEN bc_{b} > 0 "
        f"THEN CAST(bs_{b} AS DOUBLE) / CAST(bc_{b} AS DOUBLE) END"
        for b in range(BOOT_B)
    )
    ci_ok = "LEAST(" + ", ".join(f"bc_{b}" for b in range(BOOT_B)) + ") > 0"
    lo_i = max(1, math.ceil(0.025 * BOOT_B))  # same (2, 63) convention
    hi_i = min(BOOT_B, int(0.975 * BOOT_B) + 1)
    inner = ",\n       ".join(terms)
    return datamodel.with_ctes(
        f"""
SELECT CAST(n AS BIGINT) AS n,
       ROUND(CAST(s_all AS DOUBLE) / CAST(n AS DOUBLE), 6) AS media,
       CASE WHEN {ci_ok}
            THEN ROUND(list_sort([{means}])[{lo_i}], 6)
            END AS ic_inferior,
       CASE WHEN {ci_ok}
            THEN ROUND(list_sort([{means}])[{hi_i}], 6)
            END AS ic_superior
FROM (
    SELECT COUNT(*) AS n,
           SUM(CAST(ROUND(valor_transacao, 6) AS DECIMAL(28,6))) AS s_all,
           {inner}
    FROM transactions
)"""
    )


#: percentile points of the exact-distributed-rank percentile query.
EXACT_PCTS = (0.5, 0.9, 0.99)


def exact_percentiles_valor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global percentiles of the transaction value at 100 TB
    scale: percentile p = the value at rank ceil(p * N) under the
    (valor, id) total order, with the rank computed by the distributed
    ranking operator — no single-partition sort anywhere, unlike
    Spark's own `percentile` aggregate (which collects each group's
    values into one buffer) or a global ROW_NUMBER window. The p
    literal, the double multiply and the CEIL are IEEE-identical in
    both dialects, so the selected ranks — and therefore the output
    rows — are bit-exact against DuckDB's window form.

    Scale shape: one rank pass (sampled boundaries + bucket windows +
    exact offsets, see operators/ranking.py) + a narrow 3x explode and
    an equality filter; the heavy lifting is shared with any other
    rank-consumer of the same frame."""
    from banking_streaming_etl_spark.operators import ranking

    t = datamodel.transactions(spark, sf_dir).select(
        F.col("valor_transacao").alias("v"),
        F.col("id_transacao").alias("i"),
    )
    ranked = ranking.with_global_row_number(t, "v", "i", out="r")
    return (
        ranked.withColumn(
            "pct", F.explode(F.array(*[F.lit(p) for p in EXACT_PCTS]))
        )
        .filter(
            F.col("r")
            == F.ceil(F.col("pct") * F.col("_rank_n_total")).cast("bigint")
        )
        .select("pct", F.col("v").alias("valor_percentil"))
    )


def roc_curve_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC operating points of the risk score at its ten decile
    thresholds — the curve behind `risk_score_auc`'s scalar: for each
    score decile (1 = highest risk), the CUMULATIVE true positives
    (denials caught at-or-above the threshold) and false positives
    (approvals swept in). Completes the evaluation triptych: AUC
    (ranking quality), calibration deciles (probability quality), ROC
    points (threshold choice).

    Exactness: integer counts only — TPR/FPR divisions are left to the
    consumer (the exact-rational ROUND(.,6) boundary hazard). Scale
    shape: ONE distributed-NTILE pass (no single-task sort), a 10-row
    per-decile aggregate, and the cumulative roll-up as a broadcast
    triangular self-join of that 10-row table — never a second corpus
    scan, never an unpartitioned window."""
    from banking_streaming_etl_spark.operators import ranking

    # session-shared DESC rank (precision@K reads the same pass); the
    # decile is its closed form. NTILE boundaries under DESC are not
    # derivable from the ASC assignment when N % 10 != 0, hence the
    # second shared rank rather than a reuse of _cal_ntile_asc.
    binned = (
        _cal_rank_desc(spark, sf_dir)
        .withColumn(
            "decil",
            ranking.ntile_from_rank(
                F.col("r"), F.col("_rank_n_total"), 10
            ),
        )
        .drop("r", "_rank_n_total")
    )
    per = binned.groupBy("decil").agg(
        F.count("*").cast("bigint").alias("n_decil"),
        F.sum((~F.col("transacao_aprovada")).cast("int"))
        .cast("bigint")
        .alias("pos_decil"),
    # the 10-row table feeds BOTH sides of the triangular join — without
    # a barrier the broadcast side re-derives the whole NTILE pass. The
    # barrier must be persist(), NOT localCheckpoint(eager=False): under
    # AQE the checkpoint's .rdd forces every adaptive stage at BUILD
    # time (the cache()-as-barrier pattern, plans/text.py winnowing)
    ).persist()
    upto = per.select(
        F.col("decil").alias("d2"),
        F.col("n_decil").alias("n2"),
        F.col("pos_decil").alias("p2"),
    )
    return (
        per.join(F.broadcast(upto), F.col("d2") <= F.col("decil"))
        .groupBy("decil", "n_decil", "pos_decil")
        .agg(
            F.sum("p2").cast("bigint").alias("vp_acum"),
            F.sum(F.col("n2") - F.col("p2")).cast("bigint").alias("fp_acum"),
        )
    )


ROC_CURVE_SQL = _oracle(
    """
SELECT a.decil, a.n_decil, a.pos_decil,
       CAST(SUM(b.pos_decil) AS BIGINT) AS vp_acum,
       CAST(SUM(b.n_decil - b.pos_decil) AS BIGINT) AS fp_acum
FROM (
    SELECT decil, CAST(COUNT(*) AS BIGINT) AS n_decil,
           CAST(SUM(CASE WHEN NOT transacao_aprovada THEN 1 ELSE 0 END)
                AS BIGINT) AS pos_decil
    FROM (
        SELECT transacao_aprovada,
               NTILE(10) OVER (ORDER BY score_medio DESC,
                               id_transacao ASC) AS decil
        FROM approved
    )
    GROUP BY decil
) a
JOIN (
    SELECT decil, CAST(COUNT(*) AS BIGINT) AS n_decil,
           CAST(SUM(CASE WHEN NOT transacao_aprovada THEN 1 ELSE 0 END)
                AS BIGINT) AS pos_decil
    FROM (
        SELECT transacao_aprovada,
               NTILE(10) OVER (ORDER BY score_medio DESC,
                               id_transacao ASC) AS decil
        FROM approved
    )
    GROUP BY decil
) b ON b.decil <= a.decil
GROUP BY a.decil, a.n_decil, a.pos_decil
"""
)


#: volume quantiles audited by volume_weighted_percentiles
VOLUME_PCTS = (0.5, 0.9, 0.99)


def volume_weighted_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VOLUME-weighted percentiles of the transaction value: the value
    level below which p of all MONEY (not p of all transactions) sits —
    the risk-exposure quantile (`exact_percentiles_valor` answers "what
    does a typical transaction look like"; this answers "where does the
    actual volume concentrate"). For each p, the crossing row of the
    cumulative-value curve: the unique row where the running total
    first reaches p * grand_total.

    Exactness: the cumulative totals are exact decimals from the
    distributed prefix-sum; the crossing test (cum >= p*T AND
    cum - w < p*T) is a pair of IEEE double compares on term-identical
    operands in both dialects — a selection, never an interpolation.
    Scale shape: one prefix-sum pass + a narrow |p|-explode filter."""
    from banking_streaming_etl_spark.functions import exact
    from banking_streaming_etl_spark.operators import ranking

    t = datamodel.transactions(spark, sf_dir).select(
        F.col("id_transacao").alias("i"),
        exact._d(F.col("valor_transacao")).alias("w"),
    )
    cum = ranking.with_global_cumsum(t, "w", "i", "w", out="cum",
                                     nulls="reject")
    pct = F.explode(
        F.array(*[F.lit(p) for p in VOLUME_PCTS])
    ).alias("pct")
    target = F.col("pct") * F.col("_cumsum_total").cast("double")
    return (
        cum.crossJoin(F.broadcast(cum.sparkSession.range(1).select(pct)))
        .filter(
            (F.col("cum").cast("double") >= target)
            & ((F.col("cum") - F.col("w")).cast("double") < target)
        )
        .select(
            "pct",
            F.col("w").cast("double").alias("valor_percentil_volume"),
            F.col("cum").cast("double").alias("volume_acumulado"),
        )
    )


VOLUME_PCT_SQL = datamodel.with_ctes(
    f"""
SELECT pct, CAST(w AS DOUBLE) AS valor_percentil_volume,
       CAST(cum AS DOUBLE) AS volume_acumulado
FROM (
    SELECT CAST(ROUND(valor_transacao, 6) AS DECIMAL(28,6)) AS w,
           SUM(CAST(CAST(ROUND(valor_transacao, 6) AS DECIMAL(28,6))
                    AS DECIMAL(38,9))) OVER (
               ORDER BY CAST(ROUND(valor_transacao, 6) AS DECIMAL(28,6)) ASC,
                        id_transacao ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS cum,
           SUM(CAST(CAST(ROUND(valor_transacao, 6) AS DECIMAL(28,6))
                    AS DECIMAL(38,9))) OVER () AS t
    FROM transactions
),
(SELECT unnest([{", ".join(str(p) for p in VOLUME_PCTS)}]) AS pct)
WHERE CAST(cum AS DOUBLE) >= pct * CAST(t AS DOUBLE)
  AND CAST(cum - w AS DOUBLE) < pct * CAST(t AS DOUBLE)
"""
)


#: symmetric trim fraction for the robust-mean pair (5% per tail)
TRIM_PCT = 0.05


def trimmed_mean_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT trimmed and winsorized means of the transaction value —
    the robust-statistics pair (outlier-resistant central tendency;
    the winsorized form keeps the tails' mass at the clamp values
    instead of discarding it). Trim rule: drop ranks <= lo and
    > n - lo with lo = CEIL(TRIM_PCT * n); winsorize clamps those
    tails to the values at ranks lo+1 and n-lo.

    Scale shape: ONE distributed-rank pass (no single-task sort — a
    sort-based trimmed mean simply doesn't exist at 10^12 rows), then
    ONE conditional aggregate: kept-range decimal sum/count plus the
    two clamp values selected by rank equality — no second scan, no
    join. All accumulation decimal; the double division and the CEIL
    ladder are term-identical in the DuckDB twin."""
    from banking_streaming_etl_spark.functions import exact
    from banking_streaming_etl_spark.operators import ranking

    t = datamodel.transactions(spark, sf_dir).select(
        F.col("valor_transacao").alias("v"),
        F.col("id_transacao").alias("i"),
    )
    ranked = ranking.with_global_row_number(t, "v", "i", out="r")
    lo = F.ceil(
        F.lit(TRIM_PCT) * F.col("_rank_n_total").cast("double")
    ).cast("bigint")
    hi = F.col("_rank_n_total") - lo
    kept = (F.col("r") > lo) & (F.col("r") <= hi)
    agg = ranked.agg(
        F.max("_rank_n_total").alias("n"),
        F.sum(kept.cast("bigint")).alias("n_kept"),
        F.sum(F.when(kept, exact._d(F.col("v")))).alias("s_kept"),
        F.max(F.when(F.col("r") == lo + 1, F.col("v"))).alias("v_lo"),
        F.max(F.when(F.col("r") == hi, F.col("v"))).alias("v_hi"),
    )
    lo_n = F.ceil(
        F.lit(TRIM_PCT) * F.col("n").cast("double")
    ).cast("bigint")
    wsum = (
        F.col("s_kept")
        + lo_n * exact._d(F.col("v_lo"))
        + lo_n * exact._d(F.col("v_hi"))
    )
    return agg.select(
        F.col("n").cast("bigint").alias("n_total"),
        F.col("n_kept").cast("bigint").alias("n_aparado"),
        (
            F.col("s_kept").cast("double") / F.col("n_kept").cast("double")
        ).alias("media_aparada"),
        (wsum.cast("double") / F.col("n").cast("double")).alias(
            "media_winsorizada"
        ),
    )


TRIMMED_MEAN_SQL = datamodel.with_ctes(
    f"""
SELECT CAST(n AS BIGINT) AS n_total,
       CAST(n_kept AS BIGINT) AS n_aparado,
       CAST(s_kept AS DOUBLE) / CAST(n_kept AS DOUBLE) AS media_aparada,
       CAST(s_kept
            + CAST(CEIL({TRIM_PCT} * CAST(n AS DOUBLE)) AS BIGINT)
              * CAST(ROUND(v_lo, 6) AS DECIMAL(28,6))
            + CAST(CEIL({TRIM_PCT} * CAST(n AS DOUBLE)) AS BIGINT)
              * CAST(ROUND(v_hi, 6) AS DECIMAL(28,6)) AS DOUBLE)
       / CAST(n AS DOUBLE) AS media_winsorizada
FROM (
    SELECT MAX(n) AS n,
           SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS n_kept,
           SUM(CASE WHEN kept
               THEN CAST(ROUND(v, 6) AS DECIMAL(28,6)) END) AS s_kept,
           MAX(CASE WHEN r = lo + 1 THEN v END) AS v_lo,
           MAX(CASE WHEN r = n - lo THEN v END) AS v_hi
    FROM (
        SELECT v, r, n,
               CAST(CEIL({TRIM_PCT} * CAST(n AS DOUBLE)) AS BIGINT) AS lo,
               r > CAST(CEIL({TRIM_PCT} * CAST(n AS DOUBLE)) AS BIGINT)
               AND r <= n - CAST(CEIL({TRIM_PCT} * CAST(n AS DOUBLE))
                               AS BIGINT) AS kept
        FROM (
            SELECT valor_transacao AS v,
                   ROW_NUMBER() OVER (ORDER BY valor_transacao ASC,
                                      id_transacao ASC) AS r,
                   COUNT(*) OVER () AS n
            FROM transactions
        )
    )
)
"""
)


EXACT_PERCENTILES_SQL = datamodel.with_ctes(
    f"""
SELECT CAST(p.pct AS DOUBLE) AS pct, r.v AS valor_percentil
FROM (
    SELECT valor_transacao AS v,
           ROW_NUMBER() OVER (ORDER BY valor_transacao ASC,
                              id_transacao ASC) AS r,
           COUNT(*) OVER () AS n
    FROM transactions
) r, (VALUES {', '.join(f'({p})' for p in EXACT_PCTS)}) p(pct)
WHERE r.r = CAST(CEIL(CAST(p.pct AS DOUBLE) * r.n) AS BIGINT)
"""
)


def exact_percentiles_by_modality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-modality percentiles at 100 TB scale — the scale twin of
    perf_stats_by_modality's A2 percentile columns. Spark's exact
    `percentile` aggregate buffers EVERY value of a group in one task
    (fine for small groups, fatal when 5 modalities each hold 10^10
    rows); here each group's rank comes from the grouped distributed
    ranking operator (per-group sampled boundaries, (group, bucket)
    windows, exact offsets), and percentile p is the value at per-group
    rank ceil(p * N_g) — a narrow explode + equality filter.

    The oracle keeps the plain partitioned ROW_NUMBER window form —
    identical selected ranks, bit-identical rows."""
    # session-shared grouped ranking (Brown-Forsythe's exact medians
    # read the same order statistics — materialized once)
    ranked = _modality_value_ranked(spark, sf_dir)
    return (
        ranked.withColumn(
            "pct", F.explode(F.array(*[F.lit(p) for p in EXACT_PCTS]))
        )
        .filter(
            F.col("r")
            == F.ceil(F.col("pct") * F.col("_rank_n_total")).cast("bigint")
        )
        .select("modalidade", "pct", F.col("v").alias("valor_percentil"))
    )


EXACT_PCTS_BY_MODALITY_SQL = datamodel.with_ctes(
    f"""
SELECT r.modalidade, CAST(p.pct AS DOUBLE) AS pct, r.v AS valor_percentil
FROM (
    SELECT modalidade_pagamento AS modalidade, valor_transacao AS v,
           ROW_NUMBER() OVER (PARTITION BY modalidade_pagamento
                              ORDER BY valor_transacao ASC,
                              id_transacao ASC) AS r,
           COUNT(*) OVER (PARTITION BY modalidade_pagamento) AS n
    FROM transactions
) r, (VALUES {', '.join(f'({p})' for p in EXACT_PCTS)}) p(pct)
WHERE r.r = CAST(CEIL(CAST(p.pct AS DOUBLE) * r.n) AS BIGINT)
"""
)


PARETO_SHARE_SQL = datamodel.with_ctes(
    """
SELECT decil, CAST(COUNT(*) AS BIGINT) AS n_pagadores,
       CAST(SUM(total_dec) AS DOUBLE) AS valor_total,
       ROUND(CAST(SUM(total_dec) AS DOUBLE) / CAST(grand_dec AS DOUBLE), 6)
           AS parcela
FROM (
    SELECT *, NTILE(10) OVER (
        ORDER BY total_dec DESC, id_usuario_pagador ASC
    ) AS decil
    FROM (
        SELECT id_usuario_pagador,
               SUM(CAST(ROUND(valor_transacao, 6) AS DECIMAL(28,6)))
                   AS total_dec
        FROM transactions GROUP BY 1
    )
), (SELECT SUM(CAST(ROUND(valor_transacao, 6) AS DECIMAL(28,6)))
        AS grand_dec FROM transactions)
GROUP BY decil, grand_dec
"""
)


def gini_value_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of payer spend concentration — the scalar
    inequality companion of `pareto_share_by_decile`'s decile table,
    via the discrete Lorenz identity G = 1 - (2*S - T) / (n*T) where
    S = sum of the ascending cumulative totals (the area under the
    Lorenz curve, up to scale) and T the grand total.

    Scale shape: the cumulative totals come from the exact distributed
    prefix-sum (operators/ranking.with_global_cumsum — sampled
    boundaries, bucket-partitioned running windows, exact per-bucket
    weight offsets; NO unpartitioned window), so the classic
    sort-then-scan Gini recipe survives any input size. All
    accumulation is DECIMAL; the single double expression is
    term-identical in the DuckDB twin (pareto's convention)."""
    from banking_streaming_etl_spark.functions import exact
    from banking_streaming_etl_spark.operators import ranking

    t = datamodel.transactions(spark, sf_dir)
    totals = t.groupBy("id_usuario_pagador").agg(
        F.sum(exact._d(F.col("valor_transacao"))).alias("total_dec")
    )
    cum = ranking.with_global_cumsum(
        totals, "total_dec", "id_usuario_pagador", "total_dec",
        out="cum", nulls="reject",
    )
    agg = cum.agg(
        F.count("*").cast("bigint").alias("n_pagadores"),
        F.sum("cum").cast(ranking.DEC38).alias("s_dec"),
        F.max("_cumsum_total").alias("t_dec"),
    )
    n_d = F.col("n_pagadores").cast("double")
    s_d = F.col("s_dec").cast("double")
    t_d = F.col("t_dec").cast("double")
    return agg.select(
        "n_pagadores",
        t_d.alias("valor_total"),
        F.round(
            F.lit(1.0) - (F.lit(2.0) * s_d - t_d) / (n_d * t_d), 6
        ).alias("gini"),
    )


GINI_SQL = datamodel.with_ctes(
    """
SELECT CAST(n AS BIGINT) AS n_pagadores,
       CAST(t AS DOUBLE) AS valor_total,
       ROUND(1.0 - (2.0 * CAST(s AS DOUBLE) - CAST(t AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(t AS DOUBLE)), 6) AS gini
FROM (
    SELECT COUNT(*) AS n,
           SUM(cum) AS s,
           MAX(t_dec) AS t
    FROM (
        SELECT SUM(CAST(total_dec AS DECIMAL(38,9))) OVER (
                   ORDER BY total_dec ASC, id_usuario_pagador ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum,
               SUM(CAST(total_dec AS DECIMAL(38,9))) OVER () AS t_dec
        FROM (
            SELECT id_usuario_pagador,
                   SUM(CAST(ROUND(valor_transacao, 6) AS DECIMAL(28,6)))
                       AS total_dec
            FROM transactions GROUP BY 1
        )
    )
)
"""
)


# --- Herfindahl-Hirschman concentration per region ----------------------------


def hhi_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market concentration per region: the Herfindahl-Hirschman index
    HHI = sum_p (v_p / V)^2 over payer volume shares, plus the
    normalized variant (HHI - 1/n)/(1 - 1/n) — the antitrust-style
    exposure readout next to the Pareto/Gini concentration family.

    Exactness: per-payer totals are scaled to exact integer MICROS
    (DECIMAL(28,6) * 10^6 has a zero fraction — no rounding at the
    cast), held in DECIMAL(18,0) (up to ~$10^12 per payer-region, ANSI
    errors loudly beyond), and the share-square sum becomes the exact
    integer identity sum m_p^2 / M^2 — the final doubles are fixed
    ladders over exact integers, bit-identical cross-engine with no
    per-term rounding loss (rounding share^2 at 1e-6 would erase every
    payer below ~0.1% share; the integer identity keeps them all).

    Scale: two hash aggregates — (region, payer), then region. No
    window, no fold, no collect."""
    from banking_streaming_etl_spark.functions import exact

    t = datamodel.transactions(spark, sf_dir)
    mic = (exact._d(F.col("valor_transacao")) * F.lit(1000000)).cast(
        "decimal(18,0)"
    )
    per = t.groupBy("id_regiao", "id_usuario_pagador").agg(
        F.sum(mic).cast("decimal(18,0)").alias("_m")
    )
    reg = per.groupBy("id_regiao").agg(
        F.count("*").cast("bigint").alias("n_pagadores"),
        F.sum("_m").cast("decimal(38,0)").alias("_mt"),
        F.sum((F.col("_m") * F.col("_m")).cast("decimal(38,0)")).alias(
            "_s2"
        ),
    )
    # decimal -> double goes THROUGH A STRING: above 2^53 the engines'
    # native decimal->double conversions round a sum like s2 (~1e21 at
    # sf0.1) differently by 1 ulp, while decimal->string is exact
    # digits and string->double is correctly rounded in BOTH engines
    m = F.col("_mt").cast("string").cast("double")
    n = F.col("n_pagadores").cast("double")
    hhi = F.col("_s2").cast("string").cast("double") / (m * m)
    return reg.select(
        "id_regiao",
        "n_pagadores",
        (m / F.lit(1000000.0)).alias("valor_total"),
        hhi.alias("hhi"),
        F.when(
            F.col("n_pagadores") > 1,
            (hhi - F.lit(1.0) / n) / (F.lit(1.0) - F.lit(1.0) / n),
        ).alias("hhi_normalizado"),
    )


HHI_SQL = datamodel.with_ctes(
    """
SELECT id_regiao, n_pagadores,
       CAST(CAST(mt AS VARCHAR) AS DOUBLE) / 1000000.0 AS valor_total,
       CAST(CAST(s2 AS VARCHAR) AS DOUBLE)
           / (CAST(CAST(mt AS VARCHAR) AS DOUBLE)
              * CAST(CAST(mt AS VARCHAR) AS DOUBLE))
           AS hhi,
       CASE WHEN n_pagadores > 1
            THEN (CAST(CAST(s2 AS VARCHAR) AS DOUBLE)
                  / (CAST(CAST(mt AS VARCHAR) AS DOUBLE)
                     * CAST(CAST(mt AS VARCHAR) AS DOUBLE))
                  - 1.0 / CAST(n_pagadores AS DOUBLE))
                 / (1.0 - 1.0 / CAST(n_pagadores AS DOUBLE))
            END AS hhi_normalizado
FROM (
    SELECT id_regiao,
           CAST(COUNT(*) AS BIGINT) AS n_pagadores,
           CAST(SUM(m) AS DECIMAL(38,0)) AS mt,
           -- widen each factor BEFORE multiplying: DuckDB evaluates
           -- m * m in the factors' DECIMAL(18) type first and
           -- overflows at sf0.1 payer totals (~1e9 micros squared);
           -- DECIMAL(19) x DECIMAL(19) -> DECIMAL(38), exact
           CAST(SUM(CAST(m AS DECIMAL(19,0)) * CAST(m AS DECIMAL(19,0)))
                AS DECIMAL(38,0)) AS s2
    FROM (
        SELECT id_regiao, id_usuario_pagador,
               CAST(SUM(CAST(CAST(ROUND(valor_transacao, 6)
                                  AS DECIMAL(28,6)) * 1000000
                             AS DECIMAL(18,0))) AS DECIMAL(18,0)) AS m
        FROM transactions GROUP BY 1, 2
    )
    GROUP BY 1
)"""
)


# --- inter-arrival time percentiles per modality -------------------------------


def interarrival_percentiles_by_modality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT p50/p90/p99 of the inter-arrival time (seconds) of each
    modality's transaction stream — the arrival-process shape behind
    trigger sizing, next to `fano_dispersion_by_modality`'s count-level
    burstiness.

    Scale shape — the naive LAG over a modality partition is a
    single-task sort of 10^10 rows per group, so instead: (1) the
    grouped distributed LAG operator (ranking.with_global_lag,
    round-15) recovers each arrival's predecessor timestamp directly —
    a bucket-local window lag plus a broadcast-sized bucket-boundary
    patch, replacing the round-14 shape's rank pass + (modality,
    rank-1) SELF-JOIN (two corpus-sized composite-key shuffles just to
    look one row back); (2) the deltas feed a grouped ranking pass and
    percentile p is the delta at per-group rank ceil(p * N_g). Deltas
    are exact integer micros; the emitted seconds are one exact
    division. The oracle keeps the plain LAG + partitioned ROW_NUMBER
    form — identical selected rows."""
    from banking_streaming_etl_spark.operators import memo, ranking

    # EAGER barrier (graph.py convention) via the session memo: the
    # grouped-ranking pass internally runs count/sample/bucket/offset
    # stages, so a lazy persist materializes mid-pipeline and the early
    # stages re-derive the whole upstream DAG — the eager checkpoint
    # truncates it once (and the memo makes repeat builds job-free).
    def _deltas() -> DataFrame:
        t = datamodel.transactions(spark, sf_dir).select(
            F.col("modalidade_pagamento").alias("modalidade"),
            F.expr("unix_micros(data_horario)").alias("ts_us"),
            F.col("id_transacao").alias("i"),
        )
        lagged = ranking.with_global_lag(
            t, "ts_us", "i", out="_ts_prev", group_cols=["modalidade"]
        )
        return lagged.filter(F.col("_ts_prev").isNotNull()).select(
            "modalidade",
            "i",
            (F.col("ts_us") - F.col("_ts_prev")).alias("d_us"),
        )

    deltas = memo.shared_frame(
        spark, sf_dir, "interarrival_deltas", _deltas
    )
    ranked = ranking.with_global_row_number(
        deltas, "d_us", "i", out="rr", group_cols=["modalidade"]
    )
    return (
        ranked.withColumn(
            "pct", F.explode(F.array(*[F.lit(p) for p in EXACT_PCTS]))
        )
        .filter(
            F.col("rr")
            == F.ceil(F.col("pct") * F.col("_rank_n_total")).cast("bigint")
        )
        .select(
            "modalidade",
            F.col("pct").cast("double").alias("pct"),
            (F.col("d_us").cast("double") / F.lit(1000000.0)).alias(
                "intervalo_s"
            ),
        )
    )


INTERARRIVAL_PCTS_SQL = datamodel.with_ctes(
    f"""
SELECT r.modalidade, CAST(p.pct AS DOUBLE) AS pct,
       CAST(r.d_us AS DOUBLE) / 1000000.0 AS intervalo_s
FROM (
    SELECT modalidade, d_us, i,
           ROW_NUMBER() OVER (PARTITION BY modalidade
                              ORDER BY d_us ASC, i ASC) AS rr,
           COUNT(*) OVER (PARTITION BY modalidade) AS n
    FROM (
        SELECT modalidade_pagamento AS modalidade, id_transacao AS i,
               epoch_us(data_horario)
                   - LAG(epoch_us(data_horario)) OVER (
                         PARTITION BY modalidade_pagamento
                         ORDER BY epoch_us(data_horario) ASC,
                                  id_transacao ASC) AS d_us
        FROM transactions
    )
    WHERE d_us IS NOT NULL
) r, (VALUES {', '.join(f'({p})' for p in EXACT_PCTS)}) p(pct)
WHERE r.rr = CAST(CEIL(CAST(p.pct AS DOUBLE) * r.n) AS BIGINT)
"""
)

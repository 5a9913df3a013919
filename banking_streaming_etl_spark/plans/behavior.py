"""Behavioral analytics over the transaction stream: funnels + cohorts.

The reference dashboard slices transactions by hour/modality/region
(SURVEY.md §2.5 A-family); a product team running the same pipeline asks
the next two questions — "how many users progress through the modality
funnel?" and "do new users come back?". Both are pure aggregate shapes
(no per-user sequences materialized), so they scale like any other
hash aggregate: one shuffle keyed by user, one tiny re-aggregate.

- `funnel_conversion`: per-user first-touch timestamps of the funnel
  stages (view -> click -> purchase), counted per region. The
  "ordered progression" is expressed as MIN(ts) comparisons — no
  collect_list, no sequence scan, order-insensitive and exact.
- `cohort_retention`: users grouped by first-activity day (cohort);
  retention = distinct users active again N days after their cohort
  day. The classic triangle table, as two hash aggregates and a
  self-join on the user key that rides the first aggregate's shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from banking_streaming_etl_spark import datamodel
from banking_streaming_etl_spark.functions import exact

#: funnel stage order (modalities play the event-type role; the driver's
#: vocabulary is view/click/purchase/signup/error).
FUNNEL_STAGES = ("view", "click", "purchase")

#: retention horizons (days after the cohort day).
RETENTION_DAYS = (1, 3, 7)


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-region funnel: users who viewed; of those, users whose first
    click came after their first view; of those, users whose first
    purchase came after that click. Ordered progression via MIN(ts)
    per stage — one shuffle on (user), then a tiny region aggregate.
    The region is the USER's home region from the canonical users
    dimension (datamodel.users, LEFT join — unknown payers group under
    NULL), never a re-derived key."""
    t = datamodel.transactions(spark, sf_dir)
    u = datamodel.users(spark, sf_dir).select(
        F.col("id_usuario").alias("id_usuario_pagador"), "id_regiao_u"
    )
    per_user = (
        t.filter(F.col("modalidade_pagamento").isin(*FUNNEL_STAGES))
        .groupBy("id_usuario_pagador")
        .agg(
            *[
                F.min(
                    F.when(
                        F.col("modalidade_pagamento") == s, F.col("data_horario")
                    )
                ).alias(f"t_{s}")
                for s in FUNNEL_STAGES
            ],
        )
        .join(F.broadcast(u), "id_usuario_pagador", "left")
    )
    viewed = F.col("t_view").isNotNull()
    clicked = viewed & F.col("t_click").isNotNull() & (
        F.col("t_click") > F.col("t_view")
    )
    purchased = clicked & F.col("t_purchase").isNotNull() & (
        F.col("t_purchase") > F.col("t_click")
    )
    return per_user.groupBy("id_regiao_u").agg(
        F.sum(F.when(viewed, 1).otherwise(0)).alias("usuarios_view"),
        F.sum(F.when(clicked, 1).otherwise(0)).alias("usuarios_click"),
        F.sum(F.when(purchased, 1).otherwise(0)).alias("usuarios_purchase"),
    )


FUNNEL_SQL = datamodel.with_ctes(
    f"""
SELECT id_regiao_u,
       CAST(SUM(CASE WHEN viewed THEN 1 ELSE 0 END) AS BIGINT) AS usuarios_view,
       CAST(SUM(CASE WHEN clicked THEN 1 ELSE 0 END) AS BIGINT) AS usuarios_click,
       CAST(SUM(CASE WHEN purchased THEN 1 ELSE 0 END) AS BIGINT) AS usuarios_purchase
FROM (
    SELECT u.id_regiao_u,
           t_view IS NOT NULL AS viewed,
           t_view IS NOT NULL AND t_click IS NOT NULL
               AND t_click > t_view AS clicked,
           t_view IS NOT NULL AND t_click IS NOT NULL
               AND t_click > t_view AND t_purchase IS NOT NULL
               AND t_purchase > t_click AS purchased
    FROM (
        SELECT id_usuario_pagador,
               MIN(CASE WHEN modalidade_pagamento = 'view'
                        THEN data_horario END) AS t_view,
               MIN(CASE WHEN modalidade_pagamento = 'click'
                        THEN data_horario END) AS t_click,
               MIN(CASE WHEN modalidade_pagamento = 'purchase'
                        THEN data_horario END) AS t_purchase
        FROM transactions
        WHERE modalidade_pagamento IN {FUNNEL_STAGES}
        GROUP BY id_usuario_pagador
    ) f
    LEFT JOIN users u ON f.id_usuario_pagador = u.id_usuario
)
GROUP BY id_regiao_u
"""
)


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort = first-activity day per user; retention(N) = distinct
    cohort users with any activity on cohort_day + N. Two aggregates:
    per-user first day (one shuffle), then (cohort_day, horizon) counts
    off a semi-style join of activity days back to cohorts on the user
    key — the join reuses the user-keyed partitioning."""
    t = datamodel.transactions(spark, sf_dir).select(
        "id_usuario_pagador", F.to_date("data_horario").alias("dia")
    )
    days = t.distinct()
    cohorts = days.groupBy("id_usuario_pagador").agg(
        F.min("dia").alias("dia_cohort")
    )
    base = cohorts.groupBy("dia_cohort").agg(
        F.count("*").alias("usuarios_cohort")
    )
    rows = (
        days.join(cohorts, "id_usuario_pagador")
        .withColumn(
            "dias_depois", F.datediff(F.col("dia"), F.col("dia_cohort"))
        )
        .filter(F.col("dias_depois").isin(*RETENTION_DAYS))
        .groupBy("dia_cohort", "dias_depois")
        .agg(F.count("*").alias("usuarios_retidos"))
    )
    return (
        rows.join(base, "dia_cohort")
        .select(
            F.col("dia_cohort").cast("timestamp").alias("dia_cohort"),
            "dias_depois",
            "usuarios_retidos",
            "usuarios_cohort",
            F.round(
                F.col("usuarios_retidos").cast("double")
                / F.col("usuarios_cohort").cast("double"),
                6,
            ).alias("taxa_retencao"),
        )
    )


COHORT_SQL = datamodel.with_ctes(
    f"""
SELECT CAST(dia_cohort AS TIMESTAMP) AS dia_cohort, dias_depois,
       usuarios_retidos, usuarios_cohort,
       ROUND(CAST(usuarios_retidos AS DOUBLE)
             / CAST(usuarios_cohort AS DOUBLE), 6) AS taxa_retencao
FROM (
    SELECT c.dia_cohort, h.n AS dias_depois,
           CAST(COUNT(*) AS BIGINT) AS usuarios_retidos
    FROM (
        SELECT DISTINCT id_usuario_pagador, CAST(data_horario AS DATE) AS dia
        FROM transactions
    ) d
    JOIN (
        SELECT id_usuario_pagador, MIN(dia) AS dia_cohort
        FROM (
            SELECT DISTINCT id_usuario_pagador,
                   CAST(data_horario AS DATE) AS dia
            FROM transactions
        )
        GROUP BY id_usuario_pagador
    ) c USING (id_usuario_pagador)
    JOIN (SELECT unnest({list(RETENTION_DAYS)}) AS n) h
      ON d.dia = c.dia_cohort + CAST(h.n AS INTEGER)
    GROUP BY c.dia_cohort, h.n
)
JOIN (
    SELECT dia_cohort, CAST(COUNT(*) AS BIGINT) AS usuarios_cohort
    FROM (
        SELECT id_usuario_pagador, MIN(dia) AS dia_cohort
        FROM (
            SELECT DISTINCT id_usuario_pagador,
                   CAST(data_horario AS DATE) AS dia
            FROM transactions
        )
        GROUP BY id_usuario_pagador
    )
    GROUP BY dia_cohort
) USING (dia_cohort)
"""
)


# --- truncated EWMA smoothing per payer --------------------------------------

#: decay factor and window depth of the truncated EWMA. A true (unbounded)
#: EWMA is a sequential recurrence; truncating at K lags makes it a fixed
#: linear combination of the last K values — expressible as a window of
#: lag() terms, numerically stable, and identical term-for-term in both
#: dialects. At alpha=0.5, the dropped tail mass is (1-alpha)^K < 0.4%.
EWMA_ALPHA = 0.5
EWMA_LAGS = 8


def ewma_value_per_payer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-payer truncated-EWMA of the transaction value — the smoothing
    feature a fraud model reads next to the raw amount. One window
    partition per payer ordered by (ts, id); the K lag() terms share a
    single Window sort, so the whole feature is one shuffle."""
    from pyspark.sql import Window as W

    w = W.partitionBy("id_usuario_pagador").orderBy(
        "data_horario", "id_transacao"
    )
    weights = [EWMA_ALPHA * (1 - EWMA_ALPHA) ** i for i in range(EWMA_LAGS)]
    t = datamodel.transactions(spark, sf_dir)
    num = None
    den = None
    for i, wt in enumerate(weights):
        x = F.lag("valor_transacao", i).over(w)
        term = F.when(x.isNotNull(), F.lit(wt)).otherwise(F.lit(0.0))
        contrib = F.coalesce(x * F.lit(wt), F.lit(0.0))
        num = contrib if num is None else num + contrib
        den = term if den is None else den + term
    # den == 0 (current value AND all lags NULL): Spark doubles would give
    # 0/0 = NaN while DuckDB gives NULL — emit NULL in both engines.
    return t.select(
        "id_transacao",
        "id_usuario_pagador",
        "valor_transacao",
        F.when(den > 0, F.round(num / den, 6)).alias("valor_ewma"),
    )


def _ewma_sql() -> str:
    weights = [EWMA_ALPHA * (1 - EWMA_ALPHA) ** i for i in range(EWMA_LAGS)]
    over = (
        "OVER (PARTITION BY id_usuario_pagador "
        "ORDER BY data_horario, id_transacao)"
    )
    num = " + ".join(
        f"COALESCE(LAG(valor_transacao, {i}) {over} * {wt!r}, 0.0)"
        for i, wt in enumerate(weights)
    )
    den = " + ".join(
        f"(CASE WHEN LAG(valor_transacao, {i}) {over} IS NOT NULL"
        f" THEN {wt!r} ELSE 0.0 END)"
        for i, wt in enumerate(weights)
    )
    return datamodel.with_ctes(
        f"""
SELECT id_transacao, id_usuario_pagador, valor_transacao,
       CASE WHEN ({den}) > 0
            THEN ROUND(({num}) / ({den}), 6) END AS valor_ewma
FROM transactions
"""
    )


EWMA_SQL = _ewma_sql()


def _transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared (anterior, atual, n) transition counts over each payer's
    ordered modality sequence — ONE derivation feeding the transition
    matrix and the entropy-rate readout (CLAUDE.md shared-derivation
    rule). One per-payer LAG window + a (modality x modality)-sized
    hash aggregate."""
    from pyspark.sql import Window as W

    t = datamodel.transactions(spark, sf_dir)
    w = W.partitionBy("id_usuario_pagador").orderBy(
        "data_horario", "id_transacao"
    )
    seq = (
        t.select(
            "id_usuario_pagador",
            "modalidade_pagamento",
            "data_horario",
            "id_transacao",
        )
        .withColumn("anterior", F.lag("modalidade_pagamento").over(w))
        .filter(F.col("anterior").isNotNull())
    )
    return seq.groupBy(
        "anterior", F.col("modalidade_pagamento").alias("atual")
    ).agg(F.count("*").alias("n"))


#: shared SQL text of the transition-count derivation (the twin of
#: `_transition_counts`).
_TRANSITIONS_SQL = """
    SELECT anterior, atual, COUNT(*) AS n
    FROM (
        SELECT LAG(modalidade_pagamento) OVER (
                   PARTITION BY id_usuario_pagador
                   ORDER BY data_horario, id_transacao
               ) AS anterior,
               modalidade_pagamento AS atual
        FROM transactions
    )
    WHERE anterior IS NOT NULL
    GROUP BY 1, 2"""


def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each payer's ordered
    modality sequence: for every (previous, current) modality pair, the
    transition count and the row-conditional probability — the
    behavioral model a next-event predictor or anomaly screen consumes
    (a purchase following an error is rare; its probability IS the
    screen's threshold).

    Scale shape: one lag window PARTITIONED BY payer with the
    (timestamp, id) total-order tiebreak (per-user work, same shuffle
    class as sessionize_events), then a hash aggregate onto the tiny
    (modality x modality) key space; the row-normalizer joins on the
    5-key prev side — broadcast-sized forever."""
    counts = _transition_counts(spark, sf_dir)
    totals = counts.groupBy("anterior").agg(F.sum("n").alias("n_total"))
    return counts.join(F.broadcast(totals), "anterior").select(
        "anterior",
        "atual",
        "n",
        F.round(
            F.col("n").cast("double") / F.col("n_total").cast("double"), 6
        ).alias("probabilidade"),
    )


EVENT_TRANSITION_SQL = datamodel.with_ctes(
    f"""
SELECT anterior, atual, CAST(n AS BIGINT) AS n,
       ROUND(CAST(n AS DOUBLE)
             / CAST(SUM(n) OVER (PARTITION BY anterior) AS DOUBLE), 6)
           AS probabilidade
FROM (
    -- one LAG pass; the per-anterior normalizer is a window SUM over
    -- the counts aggregate instead of a second full LAG derivation
    {_TRANSITIONS_SQL}
)"""
)


# --- entropy rate of the modality Markov chain -------------------------------


def markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the first-order modality Markov chain: per-state
    conditional entropy H_i = -sum_j p_ij ln p_ij and the chain rate
    H = sum_i pi_i H_i with pi the observed outgoing-transition share —
    the predictability ceiling of the next-event model
    (`event_transition_matrix`): a state near 0 nats is deterministic
    routing, near ln|modalities| is noise.

    Each p ln p term is transcendental -> ROUND(.,6); the per-state sum
    folds the <= |modalities| terms in sorted-key order inside the
    aggregate (bounded collect_list, the _fold_terms shape grouped),
    and the cross-state rate rides the deterministic sorted fold.
    Shares and the rate's weights are exact integer ratios. Rides the
    SHARED transition-count derivation — one per-payer LAG window, then
    everything is (modality x modality)-sized."""
    from banking_streaming_etl_spark.plans.stats import _fold_terms

    counts = _transition_counts(spark, sf_dir)
    totals = counts.groupBy("anterior").agg(
        F.sum("n").cast("bigint").alias("n_saidas")
    )
    p = F.col("n").cast("double") / F.col("n_saidas").cast("double")
    term = F.round(p * F.log(p), 6)
    rows = (
        counts.join(F.broadcast(totals), "anterior")
        .withColumn("_t", term)
        .groupBy("anterior", "n_saidas")
        .agg(
            F.aggregate(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("atual").alias("k"),
                            F.col("_t").alias("t"),
                        )
                    )
                ),
                F.lit(0.0),
                lambda a, s: a + s["t"],
            ).alias("_hs")
        )
        .withColumn("entropia_estado", -F.col("_hs"))
        .persist()
    )
    tot = rows.agg(F.sum("n_saidas").cast("bigint").alias("_nn"))
    pr = (
        rows.crossJoin(F.broadcast(tot))
        .withColumn(
            "pi",
            F.col("n_saidas").cast("double") / F.col("_nn").cast("double"),
        )
        .withColumn("_c", F.col("pi") * F.col("entropia_estado"))
    )
    rate = _fold_terms(pr, "anterior", F.col("_c")).withColumnRenamed(
        "_fold", "taxa_entropia"
    )
    return pr.crossJoin(F.broadcast(rate)).select(
        "anterior",
        "n_saidas",
        "pi",
        "entropia_estado",
        "taxa_entropia",
    )


MARKOV_ENTROPY_SQL = datamodel.with_ctes(
    f"""
SELECT p.anterior, p.n_saidas, p.pi, p.entropia_estado, r.taxa_entropia
FROM (
    SELECT w.*,
           CAST(w.n_saidas AS DOUBLE) / CAST(t.nn AS DOUBLE) AS pi
    FROM (
        SELECT c.anterior, s.n_saidas,
               -(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list(ROUND((CAST(c.n AS DOUBLE)
                               / CAST(s.n_saidas AS DOUBLE))
                              * LN(CAST(c.n AS DOUBLE)
                                   / CAST(s.n_saidas AS DOUBLE)), 6)
                        ORDER BY c.atual ASC)),
                   (a, b) -> a + b)) AS entropia_estado
        FROM me_cnt c JOIN me_tot s USING (anterior)
        GROUP BY c.anterior, s.n_saidas
    ) w, (SELECT CAST(SUM(n_saidas) AS BIGINT) AS nn FROM me_tot) t
) p, (
    SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(pi2 * ent ORDER BY anterior ASC)), (a, b) -> a + b)
               AS taxa_entropia
    FROM (
        SELECT w2.anterior, w2.ent,
               CAST(w2.n_saidas AS DOUBLE) / CAST(t2.nn AS DOUBLE) AS pi2
        FROM (
            SELECT c.anterior, s.n_saidas,
                   -(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                       list(ROUND((CAST(c.n AS DOUBLE)
                                   / CAST(s.n_saidas AS DOUBLE))
                                  * LN(CAST(c.n AS DOUBLE)
                                       / CAST(s.n_saidas AS DOUBLE)), 6)
                            ORDER BY c.atual ASC)),
                       (a, b) -> a + b)) AS ent
            FROM me_cnt c JOIN me_tot s USING (anterior)
            GROUP BY c.anterior, s.n_saidas
        ) w2, (SELECT CAST(SUM(n_saidas) AS BIGINT) AS nn FROM me_tot) t2
    )
) r""",
    extra_ctes=f"""
me_cnt AS ({_TRANSITIONS_SQL}
),
me_tot AS (
    SELECT anterior, CAST(SUM(n) AS BIGINT) AS n_saidas
    FROM me_cnt GROUP BY 1
)""",
)


# --- classical seasonal decomposition of the hourly series -------------------

#: centered moving-average half-width for the trend (24-hour season ->
#: a 24-point window: 11 back, 12 forward).
SEASONAL_TREND_BACK = 11
SEASONAL_TREND_FWD = 12


def seasonal_decompose_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the hourly
    transaction-count series: trend = 24-point centered moving average,
    seasonal = per-hour-of-day mean deviation from trend, residual =
    observed - trend - seasonal — the anomaly-detection preprocessor
    (alert on residuals, not raw counts, so daily rhythm stops paging).

    Determinism: counts are integers; the trend is an integer-sum /
    count division (exact); seasonal means accumulate the trend
    deviations in DECIMAL (functions/exact.py); the residual is the same
    three-term subtraction in both dialects. Boundary hours with a
    truncated trend window keep their (shorter-window) average — same
    ROWS frame semantics in Spark and DuckDB.

    Scale shape: the fact table collapses to the hours-sized series in
    one aggregate; every window after that is over ~720 rows."""
    from pyspark.sql import Window as W

    from banking_streaming_etl_spark.functions import exact

    t = datamodel.transactions(spark, sf_dir)
    hourly = t.groupBy(
        F.date_trunc("hour", "data_horario").alias("hora")
    ).agg(F.count("*").alias("total"))
    wtrend = (
        W.orderBy("hora").rowsBetween(-SEASONAL_TREND_BACK, SEASONAL_TREND_FWD)
    )
    trended = hourly.withColumn(
        "tendencia",
        F.sum("total").over(wtrend).cast("double")
        / F.count("total").over(wtrend).cast("double"),
    ).withColumn("hora_do_dia", F.hour("hora"))
    seasonal = trended.groupBy("hora_do_dia").agg(
        exact.exact_avg(
            F.col("total").cast("double") - F.col("tendencia"), "sazonal"
        )
    )
    # the residual subtracts the ROUNDED trend/seasonal (not the full-
    # precision ones): the full-precision difference is an exact rational
    # that frequently lands on the .5 round boundary at digit 7, where
    # the engines' double-rounding algorithms disagree; subtracting
    # on-grid values keeps the result ~1e-10 from a 6-decimal value, so
    # its round is unambiguous in both dialects.
    return (
        trended.join(F.broadcast(seasonal), "hora_do_dia")
        .select(
            "hora",
            "total",
            F.round("tendencia", 6).alias("tendencia"),
            F.round("sazonal", 6).alias("sazonal"),
        )
        .withColumn(
            "residuo",
            F.round(
                F.col("total").cast("double")
                - F.col("tendencia")
                - F.col("sazonal"),
                6,
            ),
        )
    )


def _seasonal_sql() -> str:
    from banking_streaming_etl_spark.functions import exact

    return datamodel.with_ctes(
        f"""
SELECT hora, total, tendencia, sazonal,
       ROUND(CAST(total AS DOUBLE) - tendencia - sazonal, 6) AS residuo
FROM (
    SELECT t.hora, t.total,
           ROUND(t.tendencia, 6) AS tendencia,
           ROUND(s.sazonal, 6) AS sazonal
    FROM trended t
    JOIN seasonal s ON t.hora_do_dia = s.hora_do_dia
)""",
        extra_ctes=f"""
hourly AS (
    SELECT date_trunc('hour', CAST(data_horario AS TIMESTAMP)) AS hora,
           CAST(COUNT(*) AS BIGINT) AS total
    FROM transactions GROUP BY 1
),
trended AS (
    SELECT hora, total,
           CAST(SUM(total) OVER w AS DOUBLE)
               / CAST(COUNT(total) OVER w AS DOUBLE) AS tendencia,
           EXTRACT(hour FROM hora) AS hora_do_dia
    FROM hourly
    WINDOW w AS (ORDER BY hora
                 ROWS BETWEEN {SEASONAL_TREND_BACK} PRECEDING
                          AND {SEASONAL_TREND_FWD} FOLLOWING)
),
seasonal AS (
    SELECT hora_do_dia,
           {exact.sql_avg("CAST(total AS DOUBLE) - tendencia", "sazonal")}
    FROM trended GROUP BY 1
)""",
    )


SEASONAL_DECOMPOSE_SQL = _seasonal_sql()


#: autocorrelation lags audited by hourly_acf (hours)
ACF_LAGS = (1, 2, 3, 6, 12, 24)


def hourly_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the hourly transaction-count series
    at the standard diagnostic lags — seasonal_decompose_hourly's
    companion (a spike at lag 24 CONFIRMS the daily rhythm the
    decomposition assumes; a flat ACF says don't bother deseasonalizing).

    Determinism: counts are integers keyed by the integer epoch-hour
    (unix_micros div — floor in both dialects, per the epoch-seconds
    invariant); each lag's Pearson r uses the exact decimal-moment
    correlation (functions/exact.py), rounded once.

    Scale shape: the fact table collapses to the hours-sized series in
    one aggregate; lagged pairs come from an equi-join on hour+lag (a
    keyed shuffle join, NO window of any kind), then one tiny per-lag
    aggregate — survives a series of any length, unlike the
    shift-and-buffer pandas acf."""
    from banking_streaming_etl_spark.functions import exact

    t = datamodel.transactions(spark, sf_dir)
    hourly = t.groupBy(
        F.expr(
            "unix_micros(date_trunc('hour', data_horario))"
            " div 3600000000"
        ).alias("hk")
    ).agg(F.count("*").alias("total"))
    lag = F.explode(
        F.array(*[F.lit(l).cast("bigint") for l in ACF_LAGS])
    ).alias("lag")
    left = hourly.select("hk", F.col("total").alias("x")).crossJoin(
        F.broadcast(hourly.sparkSession.range(1).select(lag))
    )
    right = hourly.select(
        F.col("hk").alias("hk_r"), F.col("total").alias("y")
    )
    pairs = left.join(right, left.hk + F.col("lag") == right.hk_r)
    return pairs.groupBy("lag").agg(
        F.count("*").cast("bigint").alias("n_pares"),
        F.round(exact.exact_corr("x", "y", "raw"), 6).alias("acf"),
    )


def _hourly_acf_sql() -> str:
    from banking_streaming_etl_spark.functions import exact

    return datamodel.with_ctes(
        f"""
SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_pares,
       ROUND(({exact.sql_corr('x', 'y', 'raw').rsplit(' AS ', 1)[0]}), 6) AS acf
FROM (
    SELECT al.lag, al.x, b.total AS y
    FROM (
        SELECT a.hk, a.total AS x, l.lag
        FROM hourly a,
             (SELECT unnest([{', '.join(str(l) for l in ACF_LAGS)}])
                  AS lag) l
    ) al
    JOIN hourly b ON al.hk + al.lag = b.hk
)
GROUP BY lag""",
        extra_ctes="""
hourly AS (
    SELECT epoch_us(CAST(date_trunc('hour', data_horario) AS TIMESTAMP))
               // 3600000000 AS hk,
           CAST(COUNT(*) AS BIGINT) AS total
    FROM transactions GROUP BY 1
)""",
    )


HOURLY_ACF_SQL = _hourly_acf_sql()


def changepoint_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single least-squares changepoint of the hourly count series
    (binary-segmentation step 1 / CUSUM's offline companion): the split
    k that minimizes two-segment SSE, found in closed form from prefix
    sums — SSE(k) = SS - S1^2/n1 - S2^2/n2, so argmin SSE = argmax
    gain(k) = S1^2/k + S2^2/(H-k). One row: the cut hour, both segment
    sizes/means, the pre/post-split SSE, and the variance-explained
    fraction of the best split (the step-change analogue of R^2).

    Engine parity: counts, prefix sums and totals are all BIGINT; the
    gain is a term-identical IEEE multiply/divide ladder over exact
    integers, so both engines score every k with bit-identical doubles
    and the (gain DESC, hk ASC) argmax cannot tie-flip; the reduction
    ratio is guarded to NULL for a constant series (sse_total == 0) in
    both dialects. Scale: the fact table collapses to the hours-sized
    series in one aggregate; the prefix-sum window runs over that
    bounded series (seasonal_decompose class, whitelisted) and the
    argmax is a TakeOrdered top-1 — nothing row-scale after the first
    aggregate."""
    from pyspark.sql import Window

    h = _hourly_counts(spark, sf_dir)
    tot = h.agg(
        F.sum("total").cast("bigint").alias("t_sum"),
        F.count("*").cast("bigint").alias("h_n"),
        F.sum(F.col("total") * F.col("total")).cast("bigint").alias("ss"),
    )
    w = Window.orderBy("hk").rowsBetween(Window.unboundedPreceding, 0)
    pre = h.select(
        "hk",
        F.sum("total").over(w).cast("bigint").alias("s1"),
        F.row_number().over(Window.orderBy("hk")).cast("bigint").alias("k"),
    )
    cand = pre.crossJoin(F.broadcast(tot)).filter(F.col("k") < F.col("h_n"))
    s1d = F.col("s1").cast("double")
    s2d = (F.col("t_sum") - F.col("s1")).cast("double")
    kd = F.col("k").cast("double")
    n2d = (F.col("h_n") - F.col("k")).cast("double")
    best = (
        cand.select(
            "hk", "k", "s1", "t_sum", "h_n", "ss",
            (s1d * s1d / kd + s2d * s2d / n2d).alias("ganho"),
        )
        .orderBy(F.desc("ganho"), F.asc("hk"))
        .limit(1)
    )
    grand = (
        F.col("t_sum").cast("double")
        * F.col("t_sum").cast("double")
        / F.col("h_n").cast("double")
    )
    sse_total = F.col("ss").cast("double") - grand
    return best.select(
        F.col("hk").alias("hora_corte"),
        F.col("k").alias("n1"),
        (F.col("h_n") - F.col("k")).alias("n2"),
        (s1d / kd).alias("media_seg1"),
        (s2d / n2d).alias("media_seg2"),
        sse_total.alias("sse_total"),
        (F.col("ss").cast("double") - F.col("ganho")).alias("sse_apos"),
        F.when(
            sse_total > 0.0, (F.col("ganho") - grand) / sse_total
        ).alias("fracao_explicada"),
    )


_CHANGEPOINT_BODY = """
SELECT hk AS hora_corte,
       k AS n1,
       h_n - k AS n2,
       CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE) AS media_seg1,
       CAST(t_sum - s1 AS DOUBLE) / CAST(h_n - k AS DOUBLE) AS media_seg2,
       CAST(ss AS DOUBLE)
           - CAST(t_sum AS DOUBLE) * CAST(t_sum AS DOUBLE)
             / CAST(h_n AS DOUBLE) AS sse_total,
       CAST(ss AS DOUBLE) - ganho AS sse_apos,
       CASE WHEN CAST(ss AS DOUBLE)
                 - CAST(t_sum AS DOUBLE) * CAST(t_sum AS DOUBLE)
                   / CAST(h_n AS DOUBLE) > 0.0
            THEN (ganho
                  - CAST(t_sum AS DOUBLE) * CAST(t_sum AS DOUBLE)
                    / CAST(h_n AS DOUBLE))
                 / (CAST(ss AS DOUBLE)
                    - CAST(t_sum AS DOUBLE) * CAST(t_sum AS DOUBLE)
                      / CAST(h_n AS DOUBLE))
       END AS fracao_explicada
FROM (
    SELECT hk, k, s1, t_sum, h_n, ss,
           CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE)
           + CAST(t_sum - s1 AS DOUBLE) * CAST(t_sum - s1 AS DOUBLE)
             / CAST(h_n - k AS DOUBLE) AS ganho
    FROM (
        SELECT hk,
               CAST(SUM(total) OVER (ORDER BY hk ROWS BETWEEN UNBOUNDED
                    PRECEDING AND CURRENT ROW) AS BIGINT) AS s1,
               CAST(ROW_NUMBER() OVER (ORDER BY hk) AS BIGINT) AS k
        FROM hourly
    )
    CROSS JOIN (
        SELECT CAST(SUM(total) AS BIGINT) AS t_sum,
               CAST(COUNT(*) AS BIGINT) AS h_n,
               CAST(SUM(total * total) AS BIGINT) AS ss
        FROM hourly
    )
    WHERE k < h_n
)
ORDER BY ganho DESC, hk ASC
LIMIT 1"""


#: hourly-series CTE shared by the trend/forecast diagnostics (the same
#: derivation hourly_acf inlines — integer counts keyed by the integer
#: epoch-hour, floor in both dialects per the epoch-seconds invariant)
_HOURLY_CTE = """
hourly AS (
    SELECT epoch_us(CAST(date_trunc('hour', data_horario) AS TIMESTAMP))
               // 3600000000 AS hk,
           CAST(COUNT(*) AS BIGINT) AS total
    FROM transactions GROUP BY 1
)"""


def _hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _HOURLY_CTE: (hk bigint epoch-hour, total bigint),
    pinned once per session (operators/memo.shared_frame) — the
    changepoint, Theil-Sen, EWMA and seasonal-naive queries read it."""
    from banking_streaming_etl_spark.operators import memo

    return memo.shared_frame(
        spark,
        sf_dir,
        "hourly_counts",
        lambda: datamodel.transactions(spark, sf_dir)
        .groupBy(
            F.expr(
                "unix_micros(date_trunc('hour', data_horario))"
                " div 3600000000"
            ).alias("hk")
        )
        .agg(F.count("*").cast("bigint").alias("total")),
    )


CHANGEPOINT_SQL = datamodel.with_ctes(
    _CHANGEPOINT_BODY, extra_ctes=_HOURLY_CTE
)


def theil_sen_hourly_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of the hourly transaction-count series +
    the Mann-Kendall trend test — the outlier-proof companion to
    `ols_hourly_trend_by_modality` (one flash-crowd hour drags an OLS
    slope arbitrarily; the median of pairwise slopes has a 29%
    breakdown point, and Mann-Kendall gives the distribution-free
    significance the OLS t-stat assumes normality for).

    Exactness: every pairwise slope (c2-c1)/(h2-h1) is an IEEE-exact
    division of integers, identical in both dialects; the median is the
    EXACT order statistic (avg of the two middles for even counts) under
    (slope ASC, pair-id ASC) from the distributed ranking operator —
    never an interpolating QUANTILE_CONT. Mann-Kendall S and the
    tie-corrected variance numerator are pure integer arithmetic; the
    z denominator's sqrt is correctly rounded in both engines, with the
    var > 0 domain guard (constant series) NULLing z identically.

    Scale shape: the fact table collapses to the hours-sized series in
    one aggregate; the pair frame is hours^2 — bounded by the TIME RANGE
    of the data, not its volume (a year is ~38M pairs) — built as a
    broadcast non-equi join of the hour frame against itself, then one
    rank pass + bounded aggregates. No window over the fact table. The
    rank pass runs once per session: the median is pinned with
    memo.shared_frame (each rank pass pins its own input)."""
    from banking_streaming_etl_spark.operators import memo, ranking

    hourly = _hourly_counts(spark, sf_dir)
    a = hourly.select(F.col("hk").alias("h1"), F.col("total").alias("c1"))
    b = hourly.select(F.col("hk").alias("h2"), F.col("total").alias("c2"))
    pairs = a.join(F.broadcast(b), F.col("h2") > F.col("h1"))
    slopes = pairs.select(
        # greatest(.., 1) is the identity on every real pair (the join
        # guarantees h2 - h1 >= 1) but keeps the division TOTAL: Catalyst
        # merges the downstream nulls='reject' filter and its inferred
        # isnotnull(v) constraint INTO the nested-loop join condition,
        # evaluating v on h2 <= h1 pairs too — where a bare h2 - h1
        # denominator throws DIVIDE_BY_ZERO under ANSI (observed in
        # bnlj_doConsume) and a when()-guard trips the reject assert
        (
            (F.col("c2") - F.col("c1")).cast("double")
            / F.greatest(
                F.col("h2") - F.col("h1"), F.lit(1).cast("bigint")
            ).cast("double")
        ).alias("v"),
        # unique pair id for the total-order tiebreak: epoch-hours fit
        # 32 bits until year ~491k, so h1*2^32+h2 never collides and the
        # product stays below 2^63 (h1 < 2^31); same expression in the
        # oracle CTE, same (h1, h2)-lexicographic order either way
        (F.col("h1") * F.lit(4294967296).cast("bigint") + F.col("h2"))
        .alias("pid"),
    )

    def _median() -> DataFrame:
        ranked = ranking.with_global_row_number(
            slopes, "v", "pid", out="r", nulls="reject"
        )
        # exact median: avg of ranks {(n+1) div 2, n div 2 + 1} — one
        # row selected twice for odd n collapses to the single middle
        return ranked.filter(
            (F.col("r") == F.expr("(_rank_n_total + 1) DIV 2"))
            | (F.col("r") == F.expr("_rank_n_total DIV 2 + 1"))
        ).agg(
            # count > 0 guard: an empty pair set (degenerate <2-hour
            # series) would make this a double x/0 — Spark ANSI throws
            # where DuckDB emits NULL
            F.when(
                F.count("*") > 0,
                F.sum("v") / F.count("*").cast("double"),
            ).alias("inclinacao_sen")
        )

    med = memo.shared_frame(spark, sf_dir, "theil_sen_median", _median)
    mk = pairs.agg(
        F.count("*").cast("bigint").alias("n_pares"),
        F.sum(
            F.when(F.col("c2") > F.col("c1"), 1)
            .when(F.col("c2") < F.col("c1"), -1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("s_mk"),
    )
    nh = hourly.agg(F.count("*").cast("bigint").alias("n_horas"))
    ties = (
        hourly.groupBy("total")
        .agg(F.count("*").cast("bigint").alias("tg"))
        .agg(
            F.sum(
                F.col("tg") * (F.col("tg") - 1) * (2 * F.col("tg") + 5)
            )
            .cast("bigint")
            .alias("t_corr")
        )
    )
    n = F.col("n_horas")
    var_num = (
        n * (n - 1) * (2 * n + 5) - F.col("t_corr")
    ).cast("double") / F.lit(18.0)
    z = F.when(
        var_num > 0.0,
        (
            F.col("s_mk").cast("double")
            - F.signum(F.col("s_mk").cast("double"))
        )
        / F.sqrt(var_num),
    )
    return (
        nh.crossJoin(F.broadcast(mk))
        .crossJoin(F.broadcast(ties))
        .crossJoin(F.broadcast(med))
        .select(
            "n_horas",
            "n_pares",
            "inclinacao_sen",
            "s_mk",
            z.alias("z_mk"),
        )
    )


THEIL_SEN_SQL = datamodel.with_ctes(
    """
SELECT nh.n_horas, mk.n_pares, med.inclinacao_sen, mk.s_mk,
       CASE WHEN CAST(nh.n_horas * (nh.n_horas - 1) * (2 * nh.n_horas + 5)
                      - tc.t_corr AS DOUBLE) / 18.0 > 0.0
            THEN (CAST(mk.s_mk AS DOUBLE) - SIGN(CAST(mk.s_mk AS DOUBLE)))
                 / SQRT(CAST(nh.n_horas * (nh.n_horas - 1)
                             * (2 * nh.n_horas + 5)
                             - tc.t_corr AS DOUBLE) / 18.0)
       END AS z_mk
FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n_horas FROM hourly) nh,
     (SELECT CAST(COUNT(*) AS BIGINT) AS n_pares,
             CAST(SUM(CASE WHEN c2 > c1 THEN 1
                           WHEN c2 < c1 THEN -1 ELSE 0 END) AS BIGINT)
                 AS s_mk
      FROM pares) mk,
     (SELECT CAST(SUM(tg * (tg - 1) * (2 * tg + 5)) AS BIGINT) AS t_corr
      FROM (SELECT COUNT(*) AS tg FROM hourly GROUP BY total)) tc,
     (SELECT CASE WHEN COUNT(*) > 0
                  THEN SUM(v) / CAST(COUNT(*) AS DOUBLE) END
                 AS inclinacao_sen
      FROM rk
      WHERE r = (n + 1) // 2 OR r = n // 2 + 1) med""",
    extra_ctes=_HOURLY_CTE
    + """,
pares AS (
    SELECT a.hk AS h1, a.total AS c1, b.hk AS h2, b.total AS c2
    FROM hourly a JOIN hourly b ON b.hk > a.hk
),
rk AS (
    SELECT v, ROW_NUMBER() OVER (ORDER BY v ASC, pid ASC) AS r,
           COUNT(*) OVER () AS n
    FROM (
        SELECT CAST(c2 - c1 AS DOUBLE)
                   / CAST(GREATEST(h2 - h1, 1) AS DOUBLE) AS v,
               h1 * 4294967296 + h2 AS pid
        FROM pares
    )
)""",
)


#: EWMA chart constants (Montgomery's defaults): smoothing weight and
#: control-limit width in process sigmas
EWMA_LAMBDA = 0.2
EWMA_L = 3.0

#: the +-half-width of the EWMA limits, term-identical to the Spark
#: `half` expression. Every scalar is a SHORT literal cast to DOUBLE
#: in-engine: DuckDB parses bare float literals as DECIMAL, and e.g.
#: DECIMAL 1.0 - 0.2 = exact 0.8 is a DIFFERENT double from the IEEE
#: subtraction 1.0 - 0.2 Spark computes — the casts make both engines
#: run the identical double op sequence.
_EWMA_HALF_SQL = (
    f"(CAST({EWMA_L} AS DOUBLE) * s.sigma"
    f" * SQRT((CAST({EWMA_LAMBDA} AS DOUBLE)"
    f" / (CAST(2.0 AS DOUBLE) - CAST({EWMA_LAMBDA} AS DOUBLE)))"
    f" * (CAST(1.0 AS DOUBLE)"
    f" - POWER(CAST(1.0 AS DOUBLE) - CAST({EWMA_LAMBDA} AS DOUBLE),"
    f" CAST(2 * a.t AS DOUBLE)))))"
)


def ewma_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart of the hourly transaction-count series
    (Roberts 1959 / Montgomery's SPC form) — the small-shift monitor
    complementing the CUSUM changepoint screen: per hour, the
    exponentially weighted moving average of counts plus the
    time-varying +-L*sigma*sqrt(lam/(2-lam)*(1-(1-lam)^2t)) control
    limits and the out-of-control alarm flag.

    Exactness recipe (three different value classes, each per policy):
    - the EWMA is the pandas ewm(adjust=True) closed form
      sum_j (1-lam)^(t-j) x_j / sum_j (1-lam)^(t-j); each WEIGHT is
      rounded to the 6-grid FIRST (pow's 1-ulp libm divergence on a
      <=1.0 value is ~1e-17 — never moves a 6th decimal) and then
      multiplied by the INTEGER count in DECIMAL, so both weighted sums
      are exact and order-independent; the final quotient is emitted as
      the raw IEEE division of string-cast decimals (exact-rational
      outputs are never ROUND()ed — the .5-at-digit-7 rule).
    - the limits carry genuine transcendentals (pow, sqrt), so they get
      ROUND(.,6) AFTER the final expression (BM25 precedent), with every
      scalar built from short literals in-engine (never a Python-folded
      17-digit literal — the DuckDB decimal-parse rule).
    - the alarm compares the bit-identical raw EWMA against the
      bit-identical rounded limits; sigma NULL (single-hour series)
      NULLs the limits and the flag in both dialects.

    Scale shape: same as theil_sen_hourly_trend — the fact table
    collapses to the hours-sized series once; the weighted prefix pairs
    are a broadcast non-equi self-join of the checkpointed hour frame
    (bounded by time range); ranks ride the distributed ranking
    operator, no unpartitioned window. The chart is pinned once per
    session (memo.shared_frame), because its rank pass pins its own
    input: per call, each pin would stay behind."""
    from banking_streaming_etl_spark.operators import memo

    return memo.shared_frame(
        spark,
        sf_dir,
        "ewma_chart",
        lambda: _ewma_chart(_hourly_counts(spark, sf_dir)),
    )


def ewma_from_hourly(hourly_in: DataFrame) -> DataFrame:
    """The EWMA-chart closed form over an (hk bigint, total bigint)
    frame — shared by the batch query above and the streaming monitor
    (`streaming/windows.streaming_hourly_approvals` maintains the same
    bounded hourly state; evaluating this on read makes the stream's
    chart bit-identical to the batch query by construction, the
    cusum_from_hourly convention). The state is pinned first: every
    stage below reads it."""
    return _ewma_chart(
        hourly_in.select("hk", "total").localCheckpoint(eager=True)
    )


def _ewma_chart(hourly: DataFrame) -> DataFrame:
    """The EWMA chart over a pinned (hk, total) frame."""
    from banking_streaming_etl_spark.operators import ranking

    idx = ranking.with_global_row_number(
        hourly, "hk", "hk", out="t"
    ).select("hk", "total", "t")
    cur = idx
    past = idx.select(F.col("t").alias("j"), F.col("total").alias("xj"))
    pairs = cur.join(F.broadcast(past), F.col("j") <= F.col("t"))
    w = F.round(
        F.pow(
            F.lit(1.0) - F.lit(EWMA_LAMBDA),
            (F.col("t") - F.col("j")).cast("double"),
        ),
        6,
    ).cast("decimal(18,6)")
    agg = pairs.groupBy("hk", "total", "t").agg(
        F.sum(w * F.col("xj").cast("decimal(19,0)")).alias("_num"),
        F.sum(w).alias("_den"),
    )
    stats = hourly.agg(
        exact.exact_avg("total", "centro"),
        exact.exact_std("total", "sigma"),
    )
    lamr = F.lit(EWMA_LAMBDA) / (F.lit(2.0) - F.lit(EWMA_LAMBDA))
    half = (
        F.lit(EWMA_L)
        * F.col("sigma")
        * F.sqrt(
            lamr
            * (
                F.lit(1.0)
                - F.pow(
                    F.lit(1.0) - F.lit(EWMA_LAMBDA),
                    (F.lit(2) * F.col("t")).cast("double"),
                )
            )
        )
    )
    ewma = F.col("_num").cast("string").cast("double") / F.col(
        "_den"
    ).cast("string").cast("double")
    lcl = F.round(F.col("centro") - half, 6)
    ucl = F.round(F.col("centro") + half, 6)
    out = agg.crossJoin(F.broadcast(stats)).select(
        "hk",
        "total",
        ewma.alias("ewma"),
        lcl.alias("lcl"),
        ucl.alias("ucl"),
        F.when(
            F.col("sigma").isNotNull(),
            (ewma > ucl) | (ewma < lcl),
        ).alias("alarme"),
    )
    return out


EWMA_CHART_SQL = datamodel.with_ctes(
    f"""
SELECT hk, total, ewma, lcl, ucl,
       CASE WHEN sigma IS NOT NULL
            THEN (ewma > ucl OR ewma < lcl) END AS alarme
FROM (
    SELECT a.hk, a.total,
           CAST(CAST(a.num AS VARCHAR) AS DOUBLE)
               / CAST(CAST(a.den AS VARCHAR) AS DOUBLE) AS ewma,
           ROUND(s.centro - {_EWMA_HALF_SQL}, 6) AS lcl,
           ROUND(s.centro + {_EWMA_HALF_SQL}, 6) AS ucl,
           s.sigma
    FROM ewma_agg a, ewma_stats s
)""",
    extra_ctes=_HOURLY_CTE
    + f""",
ewma_idx AS (
    SELECT hk, total, ROW_NUMBER() OVER (ORDER BY hk ASC) AS t
    FROM hourly
),
ewma_agg AS (
    SELECT c.hk, c.total, c.t,
           SUM(CAST(ROUND(POWER(CAST(1.0 AS DOUBLE)
                                    - CAST({EWMA_LAMBDA} AS DOUBLE),
                                CAST(c.t - p.t AS DOUBLE)), 6)
                    AS DECIMAL(18,6))
               * CAST(p.total AS DECIMAL(19,0))) AS num,
           SUM(CAST(ROUND(POWER(CAST(1.0 AS DOUBLE)
                                    - CAST({EWMA_LAMBDA} AS DOUBLE),
                                CAST(c.t - p.t AS DOUBLE)), 6)
                    AS DECIMAL(18,6))) AS den
    FROM ewma_idx c JOIN ewma_idx p ON p.t <= c.t
    GROUP BY 1, 2, 3
),
ewma_stats AS (
    SELECT {exact.sql_avg('total', 'centro')},
           {exact.sql_std('total', 'sigma')}
    FROM hourly
)""",
)


def seasonal_naive_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-evaluation metrics of the lag-24 seasonal-naive
    predictor on the hourly transaction-count series — the standard
    baseline every hourly-volume forecast must beat, and the metric
    vocabulary (MAE / RMSE / WAPE / MASE) of the forecasting
    literature. MASE (Hyndman-Koehler 2006) scales the seasonal-naive
    MAE by the in-sample lag-1 naive MAE, so values < 1 mean the daily
    rhythm genuinely helps.

    Exactness: errors are integer differences; MAE/WAPE/MASE reduce to
    divisions of exact integer sums, RMSE to one correctly-rounded sqrt
    of such a division — every sum accumulates in DECIMAL(38,0) and
    converts to double THROUGH A STRING (the 2^53 decimal->double
    invariant: squared hourly errors at cluster scale exceed the range
    where native decimal->double rounding agrees between engines).
    Domain guards: zero evaluable/naive rows or a zero denominator NULL
    the affected metric in BOTH dialects.

    Scale shape: one hours-sized aggregate, two self-equi-joins on the
    hour key, three scalar aggregates — no window, no fact-table
    re-scan."""
    hourly = _hourly_counts(spark, sf_dir)

    def _sums(lag: int, pfx: str) -> DataFrame:
        h = hourly.select("hk", F.col("total").alias("y"))
        f = hourly.select(
            (F.col("hk") + F.lit(lag).cast("bigint")).alias("hk"),
            F.col("total").alias("yhat"),
        )
        e = F.col("y") - F.col("yhat")
        # widen each squared factor to DECIMAL(19,0) BEFORE multiplying
        # (the hhi_by_region lesson: DuckDB multiplies narrow decimals in
        # their own width first and overflows before any outer cast)
        ed = e.cast("decimal(19,0)")
        return h.join(f, "hk").agg(
            F.count("*").cast("bigint").alias(f"{pfx}n"),
            F.sum(F.abs(e).cast("decimal(38,0)")).alias(f"{pfx}sa"),
            F.sum(ed * ed).alias(f"{pfx}sq"),
            F.sum(F.col("y").cast("decimal(38,0)")).alias(f"{pfx}sy"),
        )

    s24 = _sums(24, "a_")
    s1 = _sums(1, "b_")

    def _dbl(c: str):
        return F.col(c).cast("string").cast("double")

    n24 = F.col("a_n").cast("double")
    n1 = F.col("b_n").cast("double")
    mae = F.when(F.col("a_n") > 0, _dbl("a_sa") / n24)
    rmse = F.when(F.col("a_n") > 0, F.sqrt(_dbl("a_sq") / n24))
    wape = F.when(
        (F.col("a_n") > 0) & (_dbl("a_sy") > 0.0), _dbl("a_sa") / _dbl("a_sy")
    )
    mase = F.when(
        (F.col("a_n") > 0) & (F.col("b_n") > 0) & (_dbl("b_sa") > 0.0),
        (_dbl("a_sa") / n24) / (_dbl("b_sa") / n1),
    )
    return s24.crossJoin(F.broadcast(s1)).select(
        F.col("a_n").alias("n_aval"),
        mae.alias("mae"),
        rmse.alias("rmse"),
        wape.alias("wape"),
        mase.alias("mase"),
    )


SEASONAL_NAIVE_EVAL_SQL = datamodel.with_ctes(
    """
SELECT a.n AS n_aval,
       CASE WHEN a.n > 0
            THEN CAST(CAST(a.sa AS VARCHAR) AS DOUBLE)
                 / CAST(a.n AS DOUBLE) END AS mae,
       CASE WHEN a.n > 0
            THEN SQRT(CAST(CAST(a.sq AS VARCHAR) AS DOUBLE)
                      / CAST(a.n AS DOUBLE)) END AS rmse,
       CASE WHEN a.n > 0 AND CAST(CAST(a.sy AS VARCHAR) AS DOUBLE) > 0.0
            THEN CAST(CAST(a.sa AS VARCHAR) AS DOUBLE)
                 / CAST(CAST(a.sy AS VARCHAR) AS DOUBLE) END AS wape,
       CASE WHEN a.n > 0 AND b.n > 0
                 AND CAST(CAST(b.sa AS VARCHAR) AS DOUBLE) > 0.0
            THEN (CAST(CAST(a.sa AS VARCHAR) AS DOUBLE)
                  / CAST(a.n AS DOUBLE))
                 / (CAST(CAST(b.sa AS VARCHAR) AS DOUBLE)
                    / CAST(b.n AS DOUBLE)) END AS mase
FROM err24 a, err1 b""",
    extra_ctes=_HOURLY_CTE
    + """,
err24 AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           SUM(CAST(ABS(h.total - f.total) AS DECIMAL(38,0))) AS sa,
           SUM(CAST(h.total - f.total AS DECIMAL(19,0))
               * CAST(h.total - f.total AS DECIMAL(19,0))) AS sq,
           SUM(CAST(h.total AS DECIMAL(38,0))) AS sy
    FROM hourly h JOIN hourly f ON f.hk = h.hk - 24
),
err1 AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           SUM(CAST(ABS(h.total - f.total) AS DECIMAL(38,0))) AS sa,
           SUM(CAST(h.total - f.total AS DECIMAL(19,0))
               * CAST(h.total - f.total AS DECIMAL(19,0))) AS sq,
           SUM(CAST(h.total AS DECIMAL(38,0))) AS sy
    FROM hourly h JOIN hourly f ON f.hk = h.hk - 1
)""",
)


def payer_modality_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each payer's payment-modality mix — the
    behavioral-diversity feature (a mule account cycling every rail
    scores high; a salary account scores ~0). Uses the aggregation
    identity H = ln(n) - (sum c*ln c)/n so the per-modality terms are
    summable: each c*ln(c) is 6-rounded then DECIMAL-summed
    (order-independent), and the outer expression is term-identical in
    the DuckDB twin — the same transcendental-value recipe as BM25.

    Scale shape: one (payer, modality) aggregate, one payer-keyed
    re-aggregate — no window, no second scan."""
    from banking_streaming_etl_spark.functions import exact

    t = datamodel.transactions(spark, sf_dir)
    cells = t.groupBy("id_usuario_pagador", "modalidade_pagamento").agg(
        F.count("*").alias("c")
    )
    per = cells.groupBy("id_usuario_pagador").agg(
        F.sum("c").cast("bigint").alias("n_tx"),
        F.count("*").cast("bigint").alias("n_modalidades"),
        F.sum(
            exact._d(F.col("c").cast("double") * F.log(F.col("c").cast("double")))
        ).alias("s_dec"),
    )
    ent = F.log(F.col("n_tx").cast("double")) - F.col("s_dec").cast(
        "double"
    ) / F.col("n_tx").cast("double")
    return per.select(
        "id_usuario_pagador",
        "n_tx",
        "n_modalidades",
        F.round(ent, 6).alias("entropia"),
    )


PAYER_ENTROPY_SQL = datamodel.with_ctes(
    """
SELECT id_usuario_pagador, n_tx, n_modalidades,
       ROUND(LN(CAST(n_tx AS DOUBLE))
             - CAST(s_dec AS DOUBLE) / CAST(n_tx AS DOUBLE), 6) AS entropia
FROM (
    SELECT id_usuario_pagador,
           CAST(SUM(c) AS BIGINT) AS n_tx,
           CAST(COUNT(*) AS BIGINT) AS n_modalidades,
           SUM(CAST(ROUND(CAST(c AS DOUBLE) * LN(CAST(c AS DOUBLE)), 6)
                    AS DECIMAL(28,6))) AS s_dec
    FROM (
        SELECT id_usuario_pagador, modalidade_pagamento, COUNT(*) AS c
        FROM transactions GROUP BY 1, 2
    )
    GROUP BY id_usuario_pagador
)
"""
)


# --- multi-touch channel attribution (first/last/linear/position/Shapley) ---

#: conversion event; every other modality is an attributable channel.
CONVERSION_CHANNEL = "purchase"
#: credit scale: LCM-friendly 12600 = 2^3*3^2*5^2*7 keeps BOTH the
#: linear credit 1/k (k <= 8) AND the U-shaped positional credits
#: (0.4 ends, 0.2 split over k-2 middles, so denominators 5*(k-2) with
#: k-2 <= 6) exact INTEGERS — per-channel credits accumulate in bigint
#: and divide back out once, so the doubles are exact integer ratios.
ATTRIB_SCALE = 12600
#: hard cap on the channel universe: the subset lattice is 2^M rows and
#: the credit integrality above needs k <= 8.
ATTRIB_MAX_CHANNELS = 8
#: a conversion is a HIGH-VALUE purchase (plain purchases are routine
#: in this stream — nearly every payer has one, which degenerates every
#: subset conversion rate to 1.0 and zeroes all Shapley marginals).
ATTRIB_CONVERSION_MIN_VALUE = 150.0


def channel_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution of conversions ('purchase') across the
    non-purchase modalities, at the distinct-channel level: for each
    channel, conversions credited by FIRST-touch, LAST-touch, LINEAR
    (1/k to each of the journey's k distinct channels), U-shaped
    POSITIONAL (40% first, 40% last, 20% split over middles, ordered by
    first occurrence), and the exact SHAPLEY value of the coalition
    game v(S) = conversions of journeys whose touched-channel set is
    contained in S (Zhao et al. 2018's characteristic function — v is
    monotone and the Shapley credits sum to v(all channels) - v(empty),
    i.e. attribution distributes exactly the conversions that had at
    least one prior touch; pinned by the efficiency test).

    A journey = one payer: conversion instant is the FIRST purchase
    under the (timestamp, id) total order; touches are strictly-earlier
    non-purchase events. Journey channel sets ride BITMASKS (bit_or of
    1<<channel_index), so the whole model layer — the 2^M subset
    lattice, subset-containment sums, Shapley marginals — is integer
    arithmetic on a broadcast-sized table (M <= 8 ENFORCED by a
    plan-level assert_true; the testdata universe is 4).

    Determinism: all credits are exact integers (ATTRIB_SCALE) or exact
    integer ratios; the only double reduction — the factorial-weighted
    Shapley sum of 2^(M-1) marginals per channel — folds in ascending
    subset-mask order in BOTH engines (the stats-family deterministic
    fold), so every output double is bit-identical cross-engine.

    Scale: one shuffle keyed by payer (journey build), one tiny mask
    aggregate; everything downstream is O(4^M) rows of broadcast
    arithmetic, independent of corpus size."""
    t = datamodel.transactions(spark, sf_dir).select(
        "id_usuario_pagador",
        "modalidade_pagamento",
        "data_horario",
        "id_transacao",
        "valor_transacao",
    )
    # round-14: pin conv (2 consumers: the touches join and the full
    # journey join) and touches (3 consumers: universe, the journey
    # bitmask aggregate, the per-(payer, channel) position aggregate)
    # with one lazy localCheckpoint each — unpinned, each branch
    # re-derived the scan+filter+join subtree (the before-plan's 53
    # parquet scans / 73 Exchange; guide §2.4). touches is the same
    # corpus-sized MEMORY_AND_DISK pin class as the ranking inputs.
    conv = (
        t.filter(
            (F.col("modalidade_pagamento") == CONVERSION_CHANNEL)
            & (F.col("valor_transacao") > ATTRIB_CONVERSION_MIN_VALUE)
        )
        .groupBy("id_usuario_pagador")
        .agg(
            F.min(F.struct("data_horario", "id_transacao")).alias("_conv")
        )
        .localCheckpoint(eager=False)
    )
    touches = (
        t.filter(F.col("modalidade_pagamento") != CONVERSION_CHANNEL)
        .join(conv, "id_usuario_pagador", "left")
        .filter(
            F.col("_conv").isNull()
            | (F.struct("data_horario", "id_transacao") < F.col("_conv"))
        )
        .localCheckpoint(eager=False)
    )
    universe = touches.agg(
        F.array_sort(F.collect_set("modalidade_pagamento")).alias("chs")
    ).filter(
        F.assert_true(
            F.size("chs") <= F.lit(ATTRIB_MAX_CHANNELS),
            F.lit(
                f"channel_attribution: channel universe exceeds "
                f"{ATTRIB_MAX_CHANNELS}; the 2^M subset lattice and the "
                f"ATTRIB_SCALE credit integrality both need M <= 8"
            ),
        ).isNull()
    )
    channels = universe.select(
        F.posexplode("chs").alias("idx", "canal"), F.size("chs").alias("m")
    ).persist()

    tch = touches.crossJoin(F.broadcast(universe)).withColumn(
        "idx",
        (F.array_position(F.col("chs"), F.col("modalidade_pagamento")) - 1)
        .cast("int"),
    )
    jour_touch = tch.groupBy("id_usuario_pagador").agg(
        F.bit_or(F.expr("shiftleft(1L, idx)")).alias("mask"),
        F.min_by(
            "modalidade_pagamento", F.struct("data_horario", "id_transacao")
        ).alias("primeiro_canal"),
        F.max_by(
            "modalidade_pagamento", F.struct("data_horario", "id_transacao")
        ).alias("ultimo_canal"),
        F.max(F.col("_conv").isNotNull()).alias("_has_conv"),
    )
    # journeys = users with >= 1 touch, plus touchless converters (mask 0
    # — they anchor v(empty), which every Shapley marginal cancels)
    jour = (
        jour_touch.join(
            conv.select("id_usuario_pagador", F.lit(True).alias("_c2")),
            "id_usuario_pagador",
            "full",
        )
        .select(
            F.coalesce(F.col("mask"), F.lit(0).cast("bigint")).alias("mask"),
            "primeiro_canal",
            "ultimo_canal",
            F.coalesce(F.col("_c2"), F.lit(False)).alias("convertida"),
            "id_usuario_pagador",
        )
        .persist()
    )
    set_tbl = jour.groupBy("mask").agg(
        F.count("*").cast("bigint").alias("n_jour"),
        F.sum(F.col("convertida").cast("int")).cast("bigint").alias("n_conv"),
    )

    # -- subset lattice + monotone characteristic v(S) = sum of exact-set
    #    conversions over contained sets (bit containment on masks)
    subsets = channels.agg(F.max("m").alias("m")).select(
        F.explode(
            F.sequence(
                F.lit(0).cast("bigint"),
                F.expr("shiftleft(1L, m)") - 1,
            )
        ).alias("smask")
    )
    # v(S) = conversion RATE among journeys confined to S (touched-set
    # contained in S). The count-valued alternative v(S) = contained
    # CONVERSIONS decomposes into unanimity games, whose Shapley value
    # IS the linear rule — redundant; the rate game is non-additive, so
    # its Shapley credit genuinely differs from linear (it rewards
    # channels whose presence lifts the conversion rate, not just
    # channels present in many conversions).
    v_tbl = (
        subsets.join(
            F.broadcast(set_tbl),
            F.col("mask").bitwiseAND(F.col("smask")) == F.col("mask"),
            "left",
        )
        .groupBy("smask")
        .agg(
            F.coalesce(F.sum("n_conv"), F.lit(0)).cast("bigint").alias("_c"),
            F.coalesce(F.sum("n_jour"), F.lit(0)).cast("bigint").alias("_j"),
        )
        .select(
            "smask",
            F.when(
                F.col("_j") > 0,
                F.col("_c").cast("double") / F.col("_j").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("v"),
        )
        .persist()
    )

    # -- exact Shapley: for each channel c, fold the factorial-weighted
    #    marginals over subsets NOT containing c, ascending mask order
    pairs = (
        channels.join(
            F.broadcast(v_tbl.withColumnRenamed("v", "v0")),
            F.expr("(smask & shiftleft(1L, idx)) = 0"),
        )
        .join(
            F.broadcast(
                v_tbl.select(
                    F.col("smask").alias("smask1"), F.col("v").alias("v1")
                )
            ),
            F.expr("(smask | shiftleft(1L, idx)) = smask1"),
        )
        .withColumn(
            "_term",
            (
                F.factorial(F.bit_count("smask")).cast("double")
                * F.factorial(
                    F.col("m") - 1 - F.bit_count("smask")
                ).cast("double")
                / F.factorial(F.col("m")).cast("double")
            )
            * (F.col("v1") - F.col("v0")),
        )
    )
    shapley = pairs.groupBy("canal").agg(
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct(F.col("smask"), F.col("_term")))
            ),
            F.lit(0.0),
            lambda a, s: a + s["_term"],
        ).alias("credito_shapley")
    )

    # -- heuristic credits: exact bigint accumulation at ATTRIB_SCALE
    per_uc = (
        tch.groupBy("id_usuario_pagador", "modalidade_pagamento")
        .agg(
            F.min(F.struct("data_horario", "id_transacao")).alias("_occ")
        )
        .join(
            jour.filter("convertida").select(
                "id_usuario_pagador", F.bit_count("mask").alias("k")
            ),
            "id_usuario_pagador",
        )
    )
    from pyspark.sql import Window as W

    pos = per_uc.withColumn(
        "p",
        F.row_number().over(
            W.partitionBy("id_usuario_pagador").orderBy("_occ")
        ),
    )
    s = F.lit(ATTRIB_SCALE).cast("bigint")
    k = F.col("k").cast("bigint")
    # every branch is an exact bigint (integer DIV, divisors proven to
    # divide ATTRIB_SCALE's factors for k <= 8); k == 2 has no middle,
    # so the U-shape degenerates to an exact 50/50 split
    pos_credit = (
        F.when(k == 1, s)
        .when(k == 2, F.lit(ATTRIB_SCALE // 2).cast("bigint"))
        .when(
            (F.col("p") == 1) | (F.col("p") == k),
            F.lit(ATTRIB_SCALE * 2 // 5).cast("bigint"),
        )
        .otherwise(
            F.expr(f"CAST({ATTRIB_SCALE // 5} AS BIGINT) DIV (k - 2)")
        )
    )
    heur = pos.groupBy(F.col("modalidade_pagamento").alias("canal")).agg(
        F.sum(F.expr(f"CAST({ATTRIB_SCALE} AS BIGINT) DIV k")).alias("_lin"),
        F.sum(pos_credit).alias("_pos"),
    )
    firsts = (
        jour.filter(F.col("convertida") & (F.col("mask") > 0))
        .groupBy(F.col("primeiro_canal").alias("canal"))
        .agg(F.count("*").cast("bigint").alias("conv_primeiro_toque"))
    )
    lasts = (
        jour.filter(F.col("convertida") & (F.col("mask") > 0))
        .groupBy(F.col("ultimo_canal").alias("canal"))
        .agg(F.count("*").cast("bigint").alias("conv_ultimo_toque"))
    )
    n_per_ch = channels.join(
        F.broadcast(set_tbl),
        F.expr("(mask & shiftleft(1L, idx)) <> 0"),
        "left",
    ).groupBy("canal").agg(
        F.coalesce(F.sum("n_jour"), F.lit(0)).cast("bigint").alias("n_jornadas"),
        F.coalesce(F.sum("n_conv"), F.lit(0)).cast("bigint")
        .alias("n_conversoes"),
    )

    sd = F.lit(float(ATTRIB_SCALE))
    return (
        n_per_ch.join(F.broadcast(firsts), "canal", "left")
        .join(F.broadcast(lasts), "canal", "left")
        .join(F.broadcast(heur), "canal", "left")
        .join(F.broadcast(shapley), "canal", "left")
        .select(
            "canal",
            "n_jornadas",
            "n_conversoes",
            F.coalesce("conv_primeiro_toque", F.lit(0)).cast("bigint")
            .alias("conv_primeiro_toque"),
            F.coalesce("conv_ultimo_toque", F.lit(0)).cast("bigint")
            .alias("conv_ultimo_toque"),
            (F.coalesce("_lin", F.lit(0)).cast("double") / sd)
            .alias("credito_linear"),
            (F.coalesce("_pos", F.lit(0)).cast("double") / sd)
            .alias("credito_posicional"),
            "credito_shapley",
        )
    )


_ATTRIB_CTES = f"""
conv AS (
    SELECT id_usuario_pagador,
           first(data_horario ORDER BY data_horario, id_transacao) AS cts,
           first(id_transacao ORDER BY data_horario, id_transacao) AS cid
    FROM transactions
    WHERE modalidade_pagamento = 'purchase'
      AND valor_transacao > {ATTRIB_CONVERSION_MIN_VALUE}
    GROUP BY 1
),
touches AS (
    SELECT t.id_usuario_pagador, t.modalidade_pagamento,
           t.data_horario, t.id_transacao
    FROM transactions t LEFT JOIN conv c USING (id_usuario_pagador)
    WHERE t.modalidade_pagamento <> 'purchase'
      AND (c.cts IS NULL
           OR t.data_horario < c.cts
           OR (t.data_horario = c.cts AND t.id_transacao < c.cid))
),
chans AS (
    SELECT modalidade_pagamento AS canal,
           CAST(ROW_NUMBER() OVER (ORDER BY modalidade_pagamento) - 1
                AS INTEGER) AS idx,
           CAST(COUNT(*) OVER () AS INTEGER) AS m
    FROM (SELECT DISTINCT modalidade_pagamento FROM touches)
),
jt AS (
    SELECT t.id_usuario_pagador,
           CAST(bit_or(1::BIGINT << ch.idx) AS BIGINT) AS mask,
           first(t.modalidade_pagamento
                 ORDER BY t.data_horario, t.id_transacao) AS primeiro_canal,
           last(t.modalidade_pagamento
                ORDER BY t.data_horario, t.id_transacao) AS ultimo_canal
    FROM touches t JOIN chans ch ON t.modalidade_pagamento = ch.canal
    GROUP BY 1
),
jour AS (
    SELECT COALESCE(jt.mask, 0) AS mask, jt.primeiro_canal,
           jt.ultimo_canal,
           (c.id_usuario_pagador IS NOT NULL) AS convertida,
           COALESCE(jt.id_usuario_pagador, c.id_usuario_pagador)
               AS id_usuario_pagador
    FROM jt FULL OUTER JOIN conv c USING (id_usuario_pagador)
),
set_tbl AS (
    SELECT mask, CAST(COUNT(*) AS BIGINT) AS n_jour,
           CAST(SUM(CASE WHEN convertida THEN 1 ELSE 0 END) AS BIGINT)
               AS n_conv
    FROM jour GROUP BY 1
),
subsets AS (
    -- list-returning generate_series + unnest: the table-function form
    -- can't take a lateral column argument in DuckDB
    SELECT CAST(unnest(generate_series(0, (1::BIGINT << mm.m) - 1))
                AS BIGINT) AS smask
    FROM (SELECT DISTINCT m FROM chans) mm
),
v_tbl AS (
    SELECT s.smask,
           CASE WHEN COALESCE(SUM(t.n_jour), 0) > 0
                THEN CAST(COALESCE(SUM(t.n_conv), 0) AS DOUBLE)
                     / CAST(COALESCE(SUM(t.n_jour), 0) AS DOUBLE)
                ELSE 0.0 END AS v
    FROM subsets s LEFT JOIN set_tbl t ON (t.mask & s.smask) = t.mask
    GROUP BY 1
),
shap AS (
    SELECT c.canal,
           list_reduce(
               list_prepend(
                   CAST(0.0 AS DOUBLE),
                   list((CAST(factorial(bit_count(v0.smask)) AS DOUBLE)
                         * CAST(factorial(c.m - 1 - bit_count(v0.smask))
                                AS DOUBLE)
                         / CAST(factorial(c.m) AS DOUBLE))
                        * (v1.v - v0.v)
                        ORDER BY v0.smask ASC)),
               (a, b) -> a + b) AS credito_shapley
    FROM chans c
    JOIN v_tbl v0 ON (v0.smask & (1::BIGINT << c.idx)) = 0
    JOIN v_tbl v1 ON (v0.smask | (1::BIGINT << c.idx)) = v1.smask
    GROUP BY 1
),
per_uc AS (
    SELECT t.id_usuario_pagador, t.modalidade_pagamento,
           min(t.data_horario) AS _occ_ts,
           first(t.id_transacao
                 ORDER BY t.data_horario, t.id_transacao) AS _occ_id
    FROM touches t
    GROUP BY 1, 2
),
pos AS (
    SELECT p.modalidade_pagamento AS canal,
           CAST(bit_count(j.mask) AS BIGINT) AS k,
           ROW_NUMBER() OVER (PARTITION BY p.id_usuario_pagador
                              ORDER BY p._occ_ts, p._occ_id) AS p
    FROM per_uc p
    JOIN jour j USING (id_usuario_pagador)
    WHERE j.convertida
),
heur AS (
    SELECT canal,
           CAST(SUM({ATTRIB_SCALE} // k) AS BIGINT) AS lin,
           CAST(SUM(CASE WHEN k = 1 THEN {ATTRIB_SCALE}
                         WHEN k = 2 THEN {ATTRIB_SCALE // 2}
                         WHEN p = 1 OR p = k THEN {ATTRIB_SCALE * 2 // 5}
                         ELSE {ATTRIB_SCALE // 5} // (k - 2) END) AS BIGINT)
               AS pos
    FROM pos GROUP BY 1
),
firsts AS (
    SELECT primeiro_canal AS canal, CAST(COUNT(*) AS BIGINT) AS n_first
    FROM jour WHERE convertida AND mask > 0 GROUP BY 1
),
lasts AS (
    SELECT ultimo_canal AS canal, CAST(COUNT(*) AS BIGINT) AS n_last
    FROM jour WHERE convertida AND mask > 0 GROUP BY 1
),
n_per_ch AS (
    SELECT c.canal,
           CAST(COALESCE(SUM(t.n_jour), 0) AS BIGINT) AS n_jornadas,
           CAST(COALESCE(SUM(t.n_conv), 0) AS BIGINT) AS n_conversoes
    FROM chans c
    LEFT JOIN set_tbl t ON (t.mask & (1::BIGINT << c.idx)) <> 0
    GROUP BY 1
)"""

ATTRIBUTION_SQL = datamodel.with_ctes(
    f"""
SELECT n.canal, n.n_jornadas, n.n_conversoes,
       CAST(COALESCE(f.n_first, 0) AS BIGINT) AS conv_primeiro_toque,
       CAST(COALESCE(l.n_last, 0) AS BIGINT) AS conv_ultimo_toque,
       CAST(COALESCE(h.lin, 0) AS DOUBLE) / {float(ATTRIB_SCALE)}
           AS credito_linear,
       CAST(COALESCE(h.pos, 0) AS DOUBLE) / {float(ATTRIB_SCALE)}
           AS credito_posicional,
       s.credito_shapley
FROM n_per_ch n
LEFT JOIN firsts f USING (canal)
LEFT JOIN lasts l USING (canal)
LEFT JOIN heur h USING (canal)
JOIN shap s USING (canal)""",
    extra_ctes=_ATTRIB_CTES,
)


# --- Kaplan-Meier survival: time to first high-value purchase ---------------


def kaplan_meier_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier product-limit estimator of the time from a payer's
    FIRST activity to their first high-value purchase (the
    channel_attribution conversion), right-CENSORED at the last observed
    activity for payers who never convert — the survival/churn curve a
    lifecycle team reads next to the cohort triangle.

    Exact-and-portable recipe: durations are integer epoch seconds
    (unix_micros div / epoch_us // — floor in both dialects); the risk
    table (n at risk, events d_t, censorings c_t per distinct duration)
    comes from ONE distributed prefix sum over the duration-grouped
    frame (n_risk = N - cum + (d+c), all exact bigints). The survival
    product rides log space — S(t) = exp(sum ln(1 - d/n)) — with each
    transcendental ln term ROUND(.,6)-pinned (the BM25 precedent), the
    running sum accumulated exactly in DECIMAL by a SECOND prefix-sum
    pass over the same risk table, and the final exp ROUND(.,6) again;
    a -1e6 sentinel when d = n_risk underflows exp to an exact 0.0 in
    both engines (the S=0 tail after the last at-risk subject). Two
    passes over a |distinct durations|-sized frame — bounded by the
    observation window in seconds, never by corpus size.

    Reference parity: the reference has no survival layer; this is the
    standard product-limit estimator (Kaplan & Meier 1958) over the
    stream the reference's dashboard already materializes."""
    base = _km_risk_table(spark, sf_dir)
    return _km_curve(base).select(
        "t_segundos", "n_risco", "n_eventos", "n_censuras", "s_km"
    )


def _km_risk_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared KM risk table (t_segundos, n_eventos, n_censuras,
    n_risco) — ONE derivation feeding the survival curve and the
    Greenwood-variance extension, memoized for the session
    (operators/memo: eager localCheckpoint, survives cache eviction)."""
    from banking_streaming_etl_spark.operators import memo

    return memo.shared_frame(
        spark, sf_dir, "km_risk_table", lambda: _km_build(spark, sf_dir)
    )


def _km_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from banking_streaming_etl_spark.operators import ranking

    t = datamodel.transactions(spark, sf_dir).select(
        "id_usuario_pagador",
        "modalidade_pagamento",
        "data_horario",
        "id_transacao",
        "valor_transacao",
    )
    conv_cond = (
        F.col("modalidade_pagamento") == CONVERSION_CHANNEL
    ) & (F.col("valor_transacao") > ATTRIB_CONVERSION_MIN_VALUE)
    per_user = t.groupBy("id_usuario_pagador").agg(
        F.min("data_horario").alias("_t0"),
        F.max("data_horario").alias("_tl"),
        F.min(
            F.when(conv_cond, F.struct("data_horario", "id_transacao"))
        ).alias("_conv"),
    )
    ep = lambda c: F.expr(f"unix_micros({c}) div 1000000")  # noqa: E731
    dur = per_user.select(
        F.when(
            F.col("_conv").isNotNull(),
            F.expr("unix_micros(_conv.data_horario) div 1000000")
            - ep("_t0"),
        )
        .otherwise(ep("_tl") - ep("_t0"))
        .cast("bigint")
        .alias("t_segundos"),
        F.col("_conv").isNotNull().alias("_evento"),
    )
    g = dur.groupBy("t_segundos").agg(
        F.sum(F.col("_evento").cast("int")).cast("bigint").alias("n_eventos"),
        F.sum((~F.col("_evento")).cast("int"))
        .cast("bigint")
        .alias("n_censuras"),
    )
    cum1 = ranking.with_global_cumsum(
        g.withColumn(
            "_w", (F.col("n_eventos") + F.col("n_censuras")).cast("bigint")
        ),
        "t_segundos",
        "t_segundos",
        "_w",
        out="_cumn",
        nulls="reject",
    )
    return cum1.select(
        "t_segundos",
        "n_eventos",
        "n_censuras",
        (
            F.col("_cumsum_total").cast("bigint")
            - F.col("_cumn").cast("bigint")
            + F.col("_w")
        ).alias("n_risco"),
    )


def _km_lnterm() -> Column:
    """The 6-rounded ln(1 - d/n) survival term, shared by the curve's
    prefix sum and the fused greenwood pass (term-identical in both)."""
    d = F.col("n_eventos").cast("double")
    n = F.col("n_risco").cast("double")
    return (
        F.when(F.col("n_eventos") == 0, F.lit(0.0))
        .when(
            F.col("n_eventos") < F.col("n_risco"),
            F.round(F.log(F.lit(1.0) - d / n), 6),
        )
        .otherwise(F.lit(-1000000.0))
    )


def _km_curve(base: DataFrame) -> DataFrame:
    """Survival curve from the shared risk table: log-space product via
    a second prefix sum of the 6-rounded ln(1 - d/n) terms."""
    from banking_streaming_etl_spark.operators import ranking

    cum2 = ranking.with_global_cumsum(
        base.withColumn("_lt", _km_lnterm()),
        "t_segundos",
        "t_segundos",
        "_lt",
        out="_cumln",
        nulls="reject",
    )
    return cum2.withColumn(
        "s_km", F.round(F.exp(F.col("_cumln").cast("double")), 6)
    )


_KM_CTES = f"""
km_user AS (
    SELECT id_usuario_pagador,
           min(data_horario) AS t0, max(data_horario) AS tl,
           first(data_horario ORDER BY data_horario, id_transacao)
               FILTER (WHERE modalidade_pagamento = 'purchase'
                         AND valor_transacao
                             > {ATTRIB_CONVERSION_MIN_VALUE}) AS cts
    FROM transactions GROUP BY 1
),
km_dur AS (
    SELECT CAST(CASE WHEN cts IS NOT NULL
                THEN epoch_us(CAST(cts AS TIMESTAMP)) // 1000000
                     - epoch_us(CAST(t0 AS TIMESTAMP)) // 1000000
                ELSE epoch_us(CAST(tl AS TIMESTAMP)) // 1000000
                     - epoch_us(CAST(t0 AS TIMESTAMP)) // 1000000 END
                AS BIGINT) AS t_segundos,
           (cts IS NOT NULL) AS evento
    FROM km_user
),
km_g AS (
    SELECT t_segundos,
           CAST(SUM(CASE WHEN evento THEN 1 ELSE 0 END) AS BIGINT)
               AS n_eventos,
           CAST(SUM(CASE WHEN evento THEN 0 ELSE 1 END) AS BIGINT)
               AS n_censuras
    FROM km_dur GROUP BY 1
),
km_cum AS (
    SELECT *,
           CAST(SUM(n_eventos + n_censuras) OVER () AS BIGINT)
             - CAST(SUM(n_eventos + n_censuras)
                    OVER (ORDER BY t_segundos ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT)
             + (n_eventos + n_censuras) AS n_risco
    FROM km_g
),
km_ln AS (
    SELECT *,
           CASE WHEN n_eventos = 0 THEN 0.0
                WHEN n_eventos < n_risco
                THEN ROUND(LN(1.0 - CAST(n_eventos AS DOUBLE)
                                    / CAST(n_risco AS DOUBLE)), 6)
                ELSE -1000000.0 END AS lt
    FROM km_cum
)"""

KAPLAN_MEIER_SQL = datamodel.with_ctes(
    """
SELECT t_segundos, n_risco, n_eventos, n_censuras,
       ROUND(EXP(CAST(SUM(CAST(lt AS DECIMAL(38,9)))
                      OVER (ORDER BY t_segundos ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS DOUBLE)), 6)
           AS s_km
FROM km_ln""",
    extra_ctes=_KM_CTES,
)


# --- RFM segmentation (recency / frequency / monetary quintiles) -----------


def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — the classical marketing-analytics
    cube: per payer, Recency (hours since last transaction, anchored on
    the corpus max so the query is deterministic), Frequency
    (transaction count) and Monetary (exact-decimal total), each cut
    into exact NTILE(5) quintiles, then the 125-cell segment table with
    per-segment means. Quintile semantics are bit-identical to SQL
    NTILE(5) under (metric ASC, payer ASC) — the oracle keeps the plain
    NTILE text while the Spark side rides the distributed ranking
    operator, so NO unpartitioned window exists in the plan.

    Exactness: recency is an integer floor-divided hour delta, the
    monetary totals accumulate in DECIMAL(28,6), and the per-segment
    means are unrounded exact-integer/decimal ratios (term-identical
    ladders in both dialects).

    Scale: one corpus hash aggregate onto |payers| rows (checkpointed),
    three INDEPENDENT distributed NTILE passes over that frame joined
    back on the payer key, one 125-row aggregate. The passes must not
    CHAIN (pass 2 ranking the output of pass 1): nesting one ranking
    DAG inside another explodes the analyzed-plan size multiplicatively
    — measured 47 s at sf0.001 for the chained form vs ~3 s for the
    joined form — the same lineage-depth class as the iterative-loop
    localCheckpoint rule, solved here with independent branches off one
    materialized barrier. Round-14: the three passes materialize
    CONCURRENTLY (ranking.overlap_checkpoint, guide §2.6) — each pass
    is a serial wave of blocking stages over a tiny frame, so running
    them back to back left the cluster idle ~2/3 of the time; the base
    frame is checkpointed EAGERLY first so the concurrent jobs share
    one computed copy instead of racing the lazy cache. The
    (base, r, f, m) quadruple is session-memoized
    so rebuilds are job-free."""
    from banking_streaming_etl_spark.functions import exact
    from banking_streaming_etl_spark.operators import memo, ranking

    def _build_rfm() -> list[DataFrame]:
        t = datamodel.transactions(spark, sf_dir)
        pay = t.groupBy("id_usuario_pagador").agg(
            F.max(F.expr("unix_micros(data_horario)")).alias("_last_us"),
            F.count("*").cast("bigint").alias("freq"),
            F.sum(exact._d(F.col("valor_transacao"))).alias("total_dec"),
        )
        now = pay.agg(F.max("_last_us").alias("_now_us"))
        base = (
            pay.crossJoin(F.broadcast(now))
            .withColumn(
                "recencia_h",
                F.expr("(_now_us - _last_us) div 3600000000").cast("bigint"),
            )
            .drop("_last_us", "_now_us")
            .localCheckpoint(eager=True)
        )

        def quintile(metric: str, out: str) -> DataFrame:
            return ranking.with_global_ntile(
                base.select("id_usuario_pagador", metric),
                metric, "id_usuario_pagador", 5, out=out, nulls="reject",
            ).select("id_usuario_pagador", out)

        return [base] + ranking.overlap_checkpoint(
            [
                quintile("recencia_h", "r_q"),
                quintile("freq", "f_q"),
                quintile("total_dec", "m_q"),
            ]
        )

    base, r_q, f_q, m_q = memo.shared(
        spark, sf_dir, "rfm_quintiles", _build_rfm
    )
    rfm = (
        base.join(r_q, "id_usuario_pagador")
        .join(f_q, "id_usuario_pagador")
        .join(m_q, "id_usuario_pagador")
    )
    return (
        rfm.groupBy("r_q", "f_q", "m_q")
        .agg(
            F.count("*").cast("bigint").alias("n_pagadores"),
            F.sum("recencia_h").cast("decimal(38,0)").alias("_sr"),
            F.sum("freq").cast("decimal(38,0)").alias("_sf"),
            F.sum("total_dec").alias("_sm"),
        )
        .select(
            "r_q",
            "f_q",
            "m_q",
            F.concat_ws("-", "r_q", "f_q", "m_q").alias("segmento"),
            "n_pagadores",
            (
                F.col("_sr").cast("double")
                / F.col("n_pagadores").cast("double")
            ).alias("recencia_media_h"),
            (
                F.col("_sf").cast("double")
                / F.col("n_pagadores").cast("double")
            ).alias("freq_media"),
            F.col("_sm").cast("double").alias("valor_total"),
        )
    )


_RFM_CTES = """
rfm_pay AS (
    SELECT id_usuario_pagador AS pagador,
           CAST(COUNT(*) AS BIGINT) AS freq,
           SUM(CAST(ROUND(valor_transacao, 6) AS DECIMAL(28,6)))
               AS total_dec,
           MAX(epoch_us(data_horario)) AS last_us
    FROM transactions GROUP BY 1
),
rfm_now AS (SELECT MAX(last_us) AS now_us FROM rfm_pay),
rfm_q AS (
    SELECT pagador, freq, total_dec,
           (now_us - last_us) // 3600000000 AS recencia_h,
           NTILE(5) OVER (ORDER BY (now_us - last_us) // 3600000000 ASC,
                          pagador ASC) AS r_q,
           NTILE(5) OVER (ORDER BY freq ASC, pagador ASC) AS f_q,
           NTILE(5) OVER (ORDER BY total_dec ASC, pagador ASC) AS m_q
    FROM rfm_pay, rfm_now
)"""

RFM_SQL = datamodel.with_ctes(
    """
SELECT r_q, f_q, m_q,
       r_q || '-' || f_q || '-' || m_q AS segmento,
       CAST(COUNT(*) AS BIGINT) AS n_pagadores,
       CAST(CAST(SUM(recencia_h) AS DECIMAL(38,0)) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS recencia_media_h,
       CAST(CAST(SUM(freq) AS DECIMAL(38,0)) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS freq_media,
       CAST(SUM(total_dec) AS DOUBLE) AS valor_total
FROM rfm_q GROUP BY 1, 2, 3""",
    extra_ctes=_RFM_CTES,
)


# --- association rules over per-payer modality baskets ----------------------


def association_rules_modality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Market-basket association rules at the 2-itemset level (the
    A-Priori second pass, Agrawal-Srikant 1994): each payer's basket is
    the SET of modalities they used; for every ordered pair (a -> c)
    report support = P(a,c), confidence = P(c|a) and lift =
    P(a,c)/(P(a)P(c)) — the cross-sell readout.

    Every statistic is an exact-integer ratio (pair counts, item
    counts, payer count) pushed through term-identical double ladders —
    bit-identical cross-engine, no rounding.

    Scale: the basket frame is the DISTINCT (payer, modality) projection
    (one shuffle); the pair join is payer-co-located (rides the same
    key) and per-payer output is bounded by |modalities|^2 — a
    domain-bounded constant, never a combinatorial blowup; item counts
    and the payer total are broadcast onto the pair table."""
    t = (
        datamodel.transactions(spark, sf_dir)
        .select(
            F.col("id_usuario_pagador").alias("pagador"),
            F.col("modalidade_pagamento").alias("m"),
        )
        .distinct()
        .persist()
    )
    tot = t.agg(
        F.count_distinct(F.col("pagador")).cast("bigint").alias("n_pagadores")
    )
    items = t.groupBy("m").agg(F.count("*").cast("bigint").alias("n_item"))
    pairs = (
        t.alias("a")
        .join(
            t.alias("b"),
            (F.col("a.pagador") == F.col("b.pagador"))
            & (F.col("a.m") != F.col("b.m")),
        )
        .groupBy(
            F.col("a.m").alias("antecedente"),
            F.col("b.m").alias("consequente"),
        )
        .agg(F.count("*").cast("bigint").alias("n_par"))
    )
    ia = F.broadcast(
        items.select(
            F.col("m").alias("antecedente"),
            F.col("n_item").alias("n_antecedente"),
        )
    )
    ic = F.broadcast(
        items.select(
            F.col("m").alias("consequente"),
            F.col("n_item").alias("n_consequente"),
        )
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return (
        pairs.join(ia, "antecedente")
        .join(ic, "consequente")
        .crossJoin(F.broadcast(tot))
        .select(
            "antecedente",
            "consequente",
            "n_par",
            "n_antecedente",
            "n_consequente",
            "n_pagadores",
            (d("n_par") / d("n_pagadores")).alias("suporte"),
            (d("n_par") / d("n_antecedente")).alias("confianca"),
            (
                d("n_par")
                * d("n_pagadores")
                / (d("n_antecedente") * d("n_consequente"))
            ).alias("lift"),
        )
    )


_AR_CTES = """
ar_b AS (
    SELECT DISTINCT id_usuario_pagador AS pagador,
                    modalidade_pagamento AS m
    FROM transactions
),
ar_tot AS (
    SELECT CAST(COUNT(DISTINCT pagador) AS BIGINT) AS n_pagadores FROM ar_b
),
ar_i AS (
    SELECT m, CAST(COUNT(*) AS BIGINT) AS n_item FROM ar_b GROUP BY 1
),
ar_p AS (
    SELECT a.m AS antecedente, b.m AS consequente,
           CAST(COUNT(*) AS BIGINT) AS n_par
    FROM ar_b a JOIN ar_b b
      ON a.pagador = b.pagador AND a.m <> b.m
    GROUP BY 1, 2
)"""

ASSOCIATION_RULES_SQL = datamodel.with_ctes(
    """
SELECT p.antecedente, p.consequente, p.n_par,
       ia.n_item AS n_antecedente, ic.n_item AS n_consequente,
       t.n_pagadores,
       CAST(p.n_par AS DOUBLE) / CAST(t.n_pagadores AS DOUBLE) AS suporte,
       CAST(p.n_par AS DOUBLE) / CAST(ia.n_item AS DOUBLE) AS confianca,
       CAST(p.n_par AS DOUBLE) * CAST(t.n_pagadores AS DOUBLE)
           / (CAST(ia.n_item AS DOUBLE) * CAST(ic.n_item AS DOUBLE))
           AS lift
FROM ar_p p
JOIN ar_i ia ON p.antecedente = ia.m
JOIN ar_i ic ON p.consequente = ic.m, ar_tot t""",
    extra_ctes=_AR_CTES,
)


# --- cohort LTV curve --------------------------------------------------------


def ltv_cohort_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative lifetime-value curve per acquisition cohort: cohort =
    first-activity day (the `cohort_retention` key), and for each cohort
    age in days the day's revenue plus the running cumulative revenue
    per cohort user — the LTV triangle finance reads next to the
    retention triangle.

    Exactness: revenue accumulates in DECIMAL(28,6) end to end (the
    running total is a window SUM of decimals — order-independent), and
    the per-user LTV is one unrounded exact-decimal/integer division.

    Scale: the cohort join reuses the user-keyed shuffle, the daily
    aggregate is (cohort x age)-sized, and the running total is a
    PARTITIONED window (per cohort day) — no unpartitioned window, no
    single-task sort."""
    from pyspark.sql import Window as W

    from banking_streaming_etl_spark.functions import exact

    t = datamodel.transactions(spark, sf_dir).select(
        "id_usuario_pagador",
        F.to_date("data_horario").alias("dia"),
        "valor_transacao",
    )
    cohorts = t.groupBy("id_usuario_pagador").agg(
        F.min("dia").alias("dia_cohort")
    )
    base = cohorts.groupBy("dia_cohort").agg(
        F.count("*").cast("bigint").alias("usuarios_cohort")
    )
    daily = (
        t.join(cohorts, "id_usuario_pagador")
        .groupBy(
            "dia_cohort",
            F.datediff(F.col("dia"), F.col("dia_cohort")).alias(
                "idade_dias"
            ),
        )
        .agg(F.sum(exact._d(F.col("valor_transacao"))).alias("_rev_dec"))
    )
    w = (
        W.partitionBy("dia_cohort")
        .orderBy("idade_dias")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        daily.withColumn("_cum_dec", F.sum("_rev_dec").over(w))
        .join(F.broadcast(base), "dia_cohort")
        .select(
            F.col("dia_cohort").cast("timestamp").alias("dia_cohort"),
            "idade_dias",
            F.col("_rev_dec").cast("double").alias("receita_dia"),
            F.col("_cum_dec").cast("double").alias("receita_acumulada"),
            "usuarios_cohort",
            (
                F.col("_cum_dec").cast("double")
                / F.col("usuarios_cohort").cast("double")
            ).alias("ltv_por_usuario"),
        )
    )


_LTV_CTES = """
ltv_t AS (
    SELECT id_usuario_pagador, CAST(data_horario AS DATE) AS dia,
           valor_transacao
    FROM transactions
),
ltv_c AS (
    SELECT id_usuario_pagador, MIN(dia) AS dia_cohort
    FROM ltv_t GROUP BY 1
),
ltv_b AS (
    SELECT dia_cohort, CAST(COUNT(*) AS BIGINT) AS usuarios_cohort
    FROM ltv_c GROUP BY 1
),
ltv_d AS (
    SELECT c.dia_cohort, datediff('day', c.dia_cohort, t.dia) AS idade_dias,
           SUM(CAST(ROUND(t.valor_transacao, 6) AS DECIMAL(28,6)))
               AS rev_dec
    FROM ltv_t t JOIN ltv_c c USING (id_usuario_pagador)
    GROUP BY 1, 2
),
ltv_w AS (
    SELECT *, SUM(rev_dec) OVER (PARTITION BY dia_cohort
                                 ORDER BY idade_dias ASC
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS cum_dec
    FROM ltv_d
)"""

LTV_COHORT_SQL = datamodel.with_ctes(
    """
SELECT CAST(w.dia_cohort AS TIMESTAMP) AS dia_cohort, w.idade_dias,
       CAST(w.rev_dec AS DOUBLE) AS receita_dia,
       CAST(w.cum_dec AS DOUBLE) AS receita_acumulada,
       b.usuarios_cohort,
       CAST(w.cum_dec AS DOUBLE) / CAST(b.usuarios_cohort AS DOUBLE)
           AS ltv_por_usuario
FROM ltv_w w JOIN ltv_b b USING (dia_cohort)""",
    extra_ctes=_LTV_CTES,
)


# --- Kaplan-Meier with Greenwood variance / 95% CI ---------------------------


def kaplan_meier_greenwood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The survival curve (`kaplan_meier_conversion`) with its Greenwood
    standard error and a clamped 95% confidence band:

        Var(S(t)) = S(t)^2 * sum_{u<=t} d_u / (n_u (n_u - d_u)).

    The Greenwood cumulative term rides the SAME multi-weight prefix
    sum pass as the curve's ln-term (ranking.with_global_cumsum's
    round-15 list form): one bucketize / local window / offsets fold
    computes both running totals over the shared persisted risk table —
    the old shape ran a SECOND full ranking pipeline for the greenwood
    term and joined it back on the duration key (62 Exchange -> half,
    and the join disappears; each cum is bit-identical to its
    single-weight pass by the operator's contract). Raw terms
    d/(n(n-d)) live at ~1/n^2 where a 6-decimal rounding would erase
    them, so each term is scaled by 10^6 before the
    ROUND(.,6)-then-DECIMAL accumulation (exactly 1e-12 absolute
    resolution on the raw scale, identical in both dialects) and
    divided back once at the end. Variance / SE / bounds are fixed
    ladders over the already-rounded S(t) and the exact decimal sum;
    degenerate rows (d = n, the S=0 tail) contribute a 0 term, and S=0
    collapses the band to [0, 0]."""
    from banking_streaming_etl_spark.operators import ranking
    from banking_streaming_etl_spark.plans.stats import WILSON_Z

    base = _km_risk_table(spark, sf_dir)
    d = F.col("n_eventos").cast("double")
    n = F.col("n_risco").cast("double")
    gw6 = (
        F.when(F.col("n_eventos") == 0, F.lit(0.0))
        .when(
            F.col("n_eventos") < F.col("n_risco"),
            F.round(d / (n * (n - d)) * F.lit(1000000.0), 6),
        )
        .otherwise(F.lit(0.0))
    )
    j = ranking.with_global_cumsum(
        base.withColumn("_lt", _km_lnterm()).withColumn("_gw", gw6),
        "t_segundos",
        "t_segundos",
        ["_lt", "_gw"],
        out=["_cumln", "_gwc"],
        nulls="reject",
    ).withColumn("s_km", F.round(F.exp(F.col("_cumln").cast("double")), 6))
    z = F.lit(WILSON_Z)
    var = (
        F.col("s_km")
        * F.col("s_km")
        * (F.col("_gwc").cast("double") / F.lit(1000000.0))
    )
    se = F.sqrt(var)
    return j.select(
        "t_segundos",
        "n_risco",
        "n_eventos",
        "n_censuras",
        "s_km",
        var.alias("var_greenwood"),
        se.alias("ep_greenwood"),
        F.greatest(F.lit(0.0), F.col("s_km") - z * se).alias("s_ic_inf"),
        F.least(F.lit(1.0), F.col("s_km") + z * se).alias("s_ic_sup"),
    )


def _km_greenwood_sql() -> str:
    from banking_streaming_etl_spark.plans.stats import WILSON_Z

    wz = f"CAST({WILSON_Z!r} AS DOUBLE)"
    return datamodel.with_ctes(
        f"""
SELECT t_segundos, n_risco, n_eventos, n_censuras, s_km,
       s_km * s_km * (CAST(gwc AS DOUBLE) / 1000000.0) AS var_greenwood,
       SQRT(s_km * s_km * (CAST(gwc AS DOUBLE) / 1000000.0))
           AS ep_greenwood,
       GREATEST(0.0, s_km - {wz}
                * SQRT(s_km * s_km * (CAST(gwc AS DOUBLE) / 1000000.0)))
           AS s_ic_inf,
       LEAST(1.0, s_km + {wz}
                * SQRT(s_km * s_km * (CAST(gwc AS DOUBLE) / 1000000.0)))
           AS s_ic_sup
FROM (
    SELECT t_segundos, n_risco, n_eventos, n_censuras,
           ROUND(EXP(CAST(SUM(CAST(lt AS DECIMAL(38,9)))
                          OVER (ORDER BY t_segundos ASC
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS DOUBLE)), 6)
               AS s_km,
           SUM(CAST(gw AS DECIMAL(38,9)))
               OVER (ORDER BY t_segundos ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS gwc
    FROM (
        SELECT *,
               CASE WHEN n_eventos = 0 THEN 0.0
                    WHEN n_eventos < n_risco
                    THEN ROUND(CAST(n_eventos AS DOUBLE)
                               / (CAST(n_risco AS DOUBLE)
                                  * (CAST(n_risco AS DOUBLE)
                                     - CAST(n_eventos AS DOUBLE)))
                               * 1000000.0, 6)
                    ELSE 0.0 END AS gw
        FROM km_ln
    )
)""",
        extra_ctes=_KM_CTES,
    )


KM_GREENWOOD_SQL = _km_greenwood_sql()

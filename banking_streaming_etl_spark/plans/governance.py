"""Data-governance / privacy queries: k-anonymity risk report and a
deterministic differentially-private count release.

A training-data pipeline that ingests transaction-like logs needs a
re-identification audit before the data leaves the trust boundary (the
reference ships raw ids straight to its dashboards; these are the
controls that would gate that at scale). Both queries are deterministic
end-to-end — the DP noise derives from the portable LCG hash (seeded,
reproducible, engine-identical), so even the "random" release is
oracle-checkable. A production release would swap the hash-uniform for a
cryptographic DRBG; the mechanism (inverse-CDF Laplace, per-key seed) is
unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from banking_streaming_etl_spark import datamodel
from banking_streaming_etl_spark.functions import portable
from banking_streaming_etl_spark.operators import memo

#: k-anonymity thresholds reported (class sizes below k are re-id risk).
K_THRESHOLDS = (2, 5, 10)

#: value-bucket width for the quasi-identifier ladder (floor(valor/50) —
#: IEEE divide+floor, deterministic in both engines, never a
#: transcendental in a group key).
QI_VALUE_BUCKET = 50.0

#: Laplace scale b = sensitivity/epsilon for the DP count release
#: (count queries have sensitivity 1).
DP_EPSILON = 1.0
_LCG_M = portable.M31


def k_anonymity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier tuple
    (region, modality, value bucket): for each threshold k, how many
    equivalence classes and rows sit in classes smaller than k, and the
    row-level risk fraction.

    Scale shape: ONE groupBy on the QI tuple builds the class-size
    table (map-side partial counts); the per-threshold report is a
    cross join of that classes-sized frame against the 3-row threshold
    list plus a tiny re-aggregate — the fact table is scanned once."""
    t = datamodel.transactions(spark, sf_dir)
    classes = t.groupBy(
        "id_regiao",
        "modalidade_pagamento",
        F.floor(F.col("valor_transacao") / F.lit(QI_VALUE_BUCKET))
        .cast("bigint")
        .alias("faixa_valor"),
    ).agg(F.count("*").alias("tam"))
    ks = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(k) for k in K_THRESHOLDS])
        ).alias("k")
    )
    return (
        classes.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.count("*").alias("n_classes"),
            F.sum(F.when(F.col("tam") < F.col("k"), 1).otherwise(0))
            .cast("bigint")
            .alias("classes_em_risco"),
            F.sum(
                F.when(F.col("tam") < F.col("k"), F.col("tam")).otherwise(0)
            )
            .cast("bigint")
            .alias("linhas_em_risco"),
            F.sum("tam").cast("bigint").alias("linhas_total"),
        )
        .select(
            "k",
            "n_classes",
            "classes_em_risco",
            "linhas_em_risco",
            (
                F.col("linhas_em_risco").cast("double")
                / F.col("linhas_total").cast("double")
            ).alias("fracao_em_risco"),
        )
    )


K_ANONYMITY_SQL = datamodel.with_ctes(
    f"""
SELECT k, CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(SUM(CASE WHEN tam < k THEN 1 ELSE 0 END) AS BIGINT)
           AS classes_em_risco,
       CAST(SUM(CASE WHEN tam < k THEN tam ELSE 0 END) AS BIGINT)
           AS linhas_em_risco,
       CAST(SUM(CASE WHEN tam < k THEN tam ELSE 0 END) AS DOUBLE)
           / CAST(SUM(tam) AS DOUBLE) AS fracao_em_risco
FROM qi_classes
CROSS JOIN (SELECT unnest([{", ".join(str(k) for k in K_THRESHOLDS)}]) AS k)
GROUP BY k""",
    extra_ctes=f"""
qi_classes AS (
    SELECT id_regiao, modalidade_pagamento,
           CAST(FLOOR(valor_transacao / {QI_VALUE_BUCKET!r}) AS BIGINT)
               AS faixa_valor,
           COUNT(*) AS tam
    FROM transactions
    GROUP BY 1, 2, 3
)""",
)


def dp_region_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private transaction counts per region: exact count
    plus inverse-CDF Laplace noise, scale 1/epsilon. The uniform draw is
    the per-region portable LCG hash mapped into (0, 1) — u = (h+0.5)/M
    is strictly inside the interval, so ln(1-2|u-1/2|) never hits
    ln(0). Noise lands in a ROUND(.,6) VALUE column (transcendentals
    never touch group keys, per the oracle invariants); the exact count
    rides along as the utility witness.

    Scale shape: one region-keyed count aggregate; the noise is a
    25-row narrow map after it."""
    t = datamodel.transactions(spark, sf_dir)
    counts = t.groupBy("id_regiao").agg(F.count("*").alias("tx_exato"))
    h = portable.lcg_hash(F.col("id_regiao"))
    u = (h.cast("double") + F.lit(0.5)) / F.lit(float(_LCG_M))
    v = u - F.lit(0.5)
    b = 1.0 / DP_EPSILON
    noise = (
        F.lit(-b)
        * F.when(v >= 0, F.lit(1.0)).otherwise(F.lit(-1.0))
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(v))
    )
    return counts.select(
        "id_regiao",
        "tx_exato",
        F.round(F.col("tx_exato").cast("double") + noise, 6).alias("tx_dp"),
    )


DP_REGION_COUNTS_SQL = datamodel.with_ctes(
    f"""
SELECT id_regiao, CAST(tx_exato AS BIGINT) AS tx_exato,
       ROUND(CAST(tx_exato AS DOUBLE)
             + (-{1.0 / DP_EPSILON!r})
               * (CASE WHEN (CAST(h AS DOUBLE) + 0.5) / {float(_LCG_M)!r}
                            - 0.5 >= 0 THEN 1.0 ELSE -1.0 END)
               * LN(1.0 - 2.0 * ABS((CAST(h AS DOUBLE) + 0.5)
                                    / {float(_LCG_M)!r} - 0.5)), 6) AS tx_dp
FROM (
    SELECT id_regiao, COUNT(*) AS tx_exato,
           {portable.lcg_hash_sql("id_regiao")} AS h
    FROM transactions
    GROUP BY 1
)"""
)


# --- population stability index (distribution drift screen) ------------------

#: reference/current split boundary: the first half of the 30-day window
#: trains the "expected" distribution, the rest is scored against it.
PSI_SPLIT = "2024-01-16 00:00:00"
#: additive smoothing mass per bucket (keeps ln() off empty cells while
#: staying deterministic — no epsilon-clamp branch divergence).
PSI_SMOOTH = 0.5


def psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index of the transaction-value distribution,
    reference window vs current window — the drift screen an ML pipeline
    runs before trusting a model trained on last month's data:
    PSI = sum over buckets of (p_cur - p_ref) * ln(p_cur / p_ref),
    with per-bucket contributions reported so the drifting buckets are
    visible (total = SUM(psi_contrib); < 0.1 stable, > 0.25 drifted by
    the usual rule of thumb).

    Shares the k-anonymity value-bucket ladder (floor(valor/50) — never
    a transcendental in a group key); shares are additive-smoothed
    ((n + 0.5) / (N + 0.5 K)) so ln never sees an empty cell, with K =
    the joint bucket count — every term is exact integer arithmetic
    until the final ln, which lands in a ROUND(.,6) value column.

    Scale shape: one (half, bucket) count aggregate over the fact, then
    buckets-sized joins; the two scalar totals broadcast."""
    t = datamodel.transactions(spark, sf_dir).withColumn(
        "faixa_valor",
        F.floor(F.col("valor_transacao") / F.lit(QI_VALUE_BUCKET)).cast(
            "bigint"
        ),
    )
    split = F.lit(PSI_SPLIT).cast("timestamp")
    halves = t.groupBy("faixa_valor").agg(
        F.sum(
            F.when(F.col("data_horario") < split, 1).otherwise(0)
        ).cast("bigint").alias("n_ref"),
        F.sum(
            F.when(F.col("data_horario") >= split, 1).otherwise(0)
        ).cast("bigint").alias("n_cur"),
    )
    # totals via an unpartitioned window over the BUCKETS-SIZED aggregate
    # output (~a dozen rows): a separate halves.agg() would re-derive
    # `halves` and scan the fact table twice (plan-pinned in tests)
    from pyspark.sql import Window as W

    wall = W.partitionBy().rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    sm = F.lit(PSI_SMOOTH)
    joined = (
        halves.withColumn("tot_ref", F.sum("n_ref").over(wall))
        .withColumn("tot_cur", F.sum("n_cur").over(wall))
        .withColumn("k_buckets", F.count("*").over(wall))
    )
    p_ref = (F.col("n_ref").cast("double") + sm) / (
        F.col("tot_ref").cast("double") + sm * F.col("k_buckets").cast("double")
    )
    p_cur = (F.col("n_cur").cast("double") + sm) / (
        F.col("tot_cur").cast("double") + sm * F.col("k_buckets").cast("double")
    )
    return joined.select(
        "faixa_valor",
        "n_ref",
        "n_cur",
        F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 6).alias(
            "psi_contrib"
        ),
    )


def psi_against_reference(
    ref_counts: DataFrame, cur_counts: DataFrame
) -> DataFrame:
    """PSI contributions from two independent bucket-count frames —
    (faixa_valor, n_ref) vs (faixa_valor, n_cur): full-outer join on the
    bucket, zero-fill, then the IDENTICAL smoothing/ln arithmetic as
    `psi_value_drift` (whose single-scan form is the batch oracle).
    This is the read-side fusion the STREAMING drift monitor shares with
    any scheduled job that keeps a frozen reference table: everything is
    buckets-sized, the reference never rescans.

    Exactness: the joint bucket set (full outer) equals the batch twin's
    "buckets with any row" set, counts are integers, and the share/ln
    expressions are term-identical — so given the same data the output
    rows are bit-equal to psi_value_drift's (pinned by the streaming
    differential test)."""
    from pyspark.sql import Window as W

    j = ref_counts.join(cur_counts, "faixa_valor", "full_outer").select(
        "faixa_valor",
        F.coalesce(F.col("n_ref"), F.lit(0)).cast("bigint").alias("n_ref"),
        F.coalesce(F.col("n_cur"), F.lit(0)).cast("bigint").alias("n_cur"),
    )
    wall = W.partitionBy().rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    sm = F.lit(PSI_SMOOTH)
    joined = (
        j.withColumn("tot_ref", F.sum("n_ref").over(wall))
        .withColumn("tot_cur", F.sum("n_cur").over(wall))
        .withColumn("k_buckets", F.count("*").over(wall))
    )
    p_ref = (F.col("n_ref").cast("double") + sm) / (
        F.col("tot_ref").cast("double")
        + sm * F.col("k_buckets").cast("double")
    )
    p_cur = (F.col("n_cur").cast("double") + sm) / (
        F.col("tot_cur").cast("double")
        + sm * F.col("k_buckets").cast("double")
    )
    return joined.select(
        "faixa_valor",
        "n_ref",
        "n_cur",
        F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 6).alias(
            "psi_contrib"
        ),
    )


def psi_reference_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The frozen reference side (rows before PSI_SPLIT) as a bucket-count
    table — what a monitoring deployment materializes once and broadcasts
    against the live stream."""
    t = datamodel.transactions(spark, sf_dir)
    return (
        t.filter(F.col("data_horario") < F.lit(PSI_SPLIT).cast("timestamp"))
        .withColumn(
            "faixa_valor",
            F.floor(F.col("valor_transacao") / F.lit(QI_VALUE_BUCKET)).cast(
                "bigint"
            ),
        )
        .groupBy("faixa_valor")
        .agg(F.count("*").alias("n_ref"))
    )


PSI_VALUE_DRIFT_SQL = datamodel.with_ctes(
    f"""
SELECT faixa_valor, n_ref, n_cur,
       ROUND(((CAST(n_cur AS DOUBLE) + {PSI_SMOOTH!r})
                  / (CAST(tot_cur AS DOUBLE)
                     + {PSI_SMOOTH!r} * CAST(k_buckets AS DOUBLE))
              - (CAST(n_ref AS DOUBLE) + {PSI_SMOOTH!r})
                  / (CAST(tot_ref AS DOUBLE)
                     + {PSI_SMOOTH!r} * CAST(k_buckets AS DOUBLE)))
             * LN(((CAST(n_cur AS DOUBLE) + {PSI_SMOOTH!r})
                       / (CAST(tot_cur AS DOUBLE)
                          + {PSI_SMOOTH!r} * CAST(k_buckets AS DOUBLE)))
                  / ((CAST(n_ref AS DOUBLE) + {PSI_SMOOTH!r})
                       / (CAST(tot_ref AS DOUBLE)
                          + {PSI_SMOOTH!r} * CAST(k_buckets AS DOUBLE)))),
             6) AS psi_contrib
FROM halves
CROSS JOIN (
    SELECT CAST(SUM(n_ref) AS BIGINT) AS tot_ref,
           CAST(SUM(n_cur) AS BIGINT) AS tot_cur,
           CAST(COUNT(*) AS BIGINT) AS k_buckets
    FROM halves
) t""",
    extra_ctes=f"""
halves AS (
    SELECT CAST(FLOOR(valor_transacao / {QI_VALUE_BUCKET!r}) AS BIGINT)
               AS faixa_valor,
           CAST(SUM(CASE WHEN CAST(data_horario AS TIMESTAMP)
                              < TIMESTAMP '{PSI_SPLIT}'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
           CAST(SUM(CASE WHEN CAST(data_horario AS TIMESTAMP)
                              >= TIMESTAMP '{PSI_SPLIT}'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
    FROM transactions
    GROUP BY 1
)""",
)


# --- l-diversity audit ------------------------------------------------------

#: l thresholds reported (classes whose sensitive attribute shows fewer
#: than l distinct values are homogeneity-attack risk).
L_THRESHOLDS = (2, 3)


def l_diversity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the homogeneity-attack companion of the
    k-anonymity report: within each quasi-identifier class (region x
    value bucket), how many DISTINCT values of the sensitive attribute
    (payment modality) appear? A class can be k-anonymous yet leak the
    sensitive value outright if all its rows share one modality. For
    each threshold l: classes and rows failing l-diversity, plus the
    minimum observed diversity.

    Scale: ONE groupBy on (QI, sensitive) then a re-aggregate to the QI
    class — both hash aggregates with map-side partials; the threshold
    report is a broadcast cross join over the tiny class table."""
    t = datamodel.transactions(spark, sf_dir)
    cells = t.groupBy(
        "id_regiao",
        F.floor(F.col("valor_transacao") / F.lit(QI_VALUE_BUCKET))
        .cast("bigint")
        .alias("faixa_valor"),
        "modalidade_pagamento",
    ).agg(F.count("*").cast("bigint").alias("_n"))
    classes = cells.groupBy("id_regiao", "faixa_valor").agg(
        F.count("*").cast("bigint").alias("l_observado"),
        F.sum("_n").cast("bigint").alias("tam"),
    )
    ls = spark.range(1).select(
        F.explode(F.array(*[F.lit(x) for x in L_THRESHOLDS])).alias("l")
    )
    return (
        classes.crossJoin(F.broadcast(ls))
        .groupBy("l")
        .agg(
            F.count("*").cast("bigint").alias("n_classes"),
            F.sum(F.when(F.col("l_observado") < F.col("l"), 1).otherwise(0))
            .cast("bigint")
            .alias("classes_em_risco"),
            F.sum(
                F.when(F.col("l_observado") < F.col("l"), F.col("tam"))
                .otherwise(0)
            )
            .cast("bigint")
            .alias("linhas_em_risco"),
            F.min("l_observado").cast("bigint").alias("l_minimo"),
            (
                F.sum(
                    F.when(F.col("l_observado") < F.col("l"), F.col("tam"))
                    .otherwise(0)
                ).cast("double")
                / F.sum("tam").cast("double")
            ).alias("fracao_em_risco"),
        )
    )


L_DIVERSITY_SQL = datamodel.with_ctes(
    f"""
SELECT l, CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(SUM(CASE WHEN l_observado < l THEN 1 ELSE 0 END) AS BIGINT)
           AS classes_em_risco,
       CAST(SUM(CASE WHEN l_observado < l THEN tam ELSE 0 END) AS BIGINT)
           AS linhas_em_risco,
       CAST(MIN(l_observado) AS BIGINT) AS l_minimo,
       CAST(SUM(CASE WHEN l_observado < l THEN tam ELSE 0 END)
            AS DOUBLE)
           / CAST(SUM(tam) AS DOUBLE) AS fracao_em_risco
FROM ld_classes
CROSS JOIN (SELECT unnest([{", ".join(str(x) for x in L_THRESHOLDS)}]) AS l)
GROUP BY l""",
    extra_ctes=f"""
ld_classes AS (
    SELECT id_regiao, faixa_valor,
           CAST(COUNT(*) AS BIGINT) AS l_observado,
           CAST(SUM(n) AS BIGINT) AS tam
    FROM (
        SELECT id_regiao,
               CAST(FLOOR(valor_transacao / {QI_VALUE_BUCKET!r}) AS BIGINT)
                   AS faixa_valor,
               modalidade_pagamento, COUNT(*) AS n
        FROM transactions
        GROUP BY 1, 2, 3
    )
    GROUP BY 1, 2
)""",
)


#: t-closeness thresholds reported (classes whose sensitive-attribute
#: distribution sits further than t from the global one, in total
#: variation distance, are skew-disclosure risk).
T_THRESHOLDS = (0.15, 0.25, 0.35)


def t_closeness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — the skew/similarity-attack capstone of the
    privacy triad (k-anonymity -> l-diversity -> t-closeness, Li et al.
    2007): a class can be k-anonymous AND l-diverse yet still leak
    because its sensitive-value MIX differs sharply from the corpus
    (e.g. a class that is 90% one modality against a 20% global rate).
    Per QI class (region x value bucket, the l-diversity classes), the
    distance between the class's modality distribution and the global
    one — total variation distance, the categorical-attribute EMD of
    the paper: TV = (1/2) sum_m |p_class(m) - p_global(m)|. For each
    threshold t: classes and rows further than t, plus the observed
    maximum distance.

    Engine parity: each |p - q| term has the integer numerator
    |n_cm * N - N_m * n_c| (class-cell count, corpus total, global
    modality count, class size — all BIGINT, products < 2^53 at any
    tested SF), summed exactly; TV is ONE division of that exact
    integer by 2*n_c*N built as a term-identical double ladder, so the
    threshold compare and the MAX see bit-identical doubles. Absent
    (class, modality) cells contribute |0 - q| via the M-row broadcast
    cross join + COALESCE 0 in both dialects. Scale: one (QI,
    sensitive) groupBy (map-side partials) -> class-sized frames; the
    modality margin and corpus total are broadcast scalars; nothing
    row-scale shuffles twice."""
    t = datamodel.transactions(spark, sf_dir)
    cells = t.groupBy(
        "id_regiao",
        F.floor(F.col("valor_transacao") / F.lit(QI_VALUE_BUCKET))
        .cast("bigint")
        .alias("faixa_valor"),
        "modalidade_pagamento",
    ).agg(F.count("*").cast("bigint").alias("n_cm"))
    classes = cells.groupBy("id_regiao", "faixa_valor").agg(
        F.sum("n_cm").cast("bigint").alias("n_c")
    )
    margins = cells.groupBy("modalidade_pagamento").agg(
        F.sum("n_cm").cast("bigint").alias("n_m")
    )
    total = margins.agg(F.sum("n_m").cast("bigint").alias("n_total"))
    pairs = (
        classes.crossJoin(F.broadcast(margins))
        .join(
            cells,
            ["id_regiao", "faixa_valor", "modalidade_pagamento"],
            "left",
        )
        .crossJoin(F.broadcast(total))
        .select(
            "id_regiao",
            "faixa_valor",
            "n_c",
            "n_total",
            F.abs(
                F.coalesce(F.col("n_cm"), F.lit(0).cast("bigint"))
                * F.col("n_total")
                - F.col("n_m") * F.col("n_c")
            ).alias("termo"),
        )
    )
    tv = pairs.groupBy("id_regiao", "faixa_valor").agg(
        (
            F.sum("termo").cast("double")
            / (
                F.lit(2.0)
                * F.max("n_c").cast("double")
                * F.max("n_total").cast("double")
            )
        ).alias("tv"),
        F.max("n_c").alias("tam"),
    )
    ts = spark.range(1).select(
        F.explode(F.array(*[F.lit(x) for x in T_THRESHOLDS])).alias("t")
    )
    return (
        tv.crossJoin(F.broadcast(ts))
        .groupBy("t")
        .agg(
            F.count("*").cast("bigint").alias("n_classes"),
            F.sum(F.when(F.col("tv") > F.col("t"), 1).otherwise(0))
            .cast("bigint")
            .alias("classes_em_risco"),
            F.sum(
                F.when(F.col("tv") > F.col("t"), F.col("tam")).otherwise(0)
            )
            .cast("bigint")
            .alias("linhas_em_risco"),
            (
                F.sum(
                    F.when(F.col("tv") > F.col("t"), F.col("tam"))
                    .otherwise(0)
                ).cast("double")
                / F.sum("tam").cast("double")
            ).alias("fracao_em_risco"),
            F.max("tv").alias("tv_maximo"),
        )
        .orderBy("t")
    )


T_CLOSENESS_SQL = datamodel.with_ctes(
    f"""
SELECT t, CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(SUM(CASE WHEN tv > t THEN 1 ELSE 0 END) AS BIGINT)
           AS classes_em_risco,
       CAST(SUM(CASE WHEN tv > t THEN tam ELSE 0 END) AS BIGINT)
           AS linhas_em_risco,
       CAST(SUM(CASE WHEN tv > t THEN tam ELSE 0 END) AS DOUBLE)
           / CAST(SUM(tam) AS DOUBLE) AS fracao_em_risco,
       MAX(tv) AS tv_maximo
FROM tc_tv
CROSS JOIN (SELECT CAST(unnest(
    [{", ".join(str(x) for x in T_THRESHOLDS)}]) AS DOUBLE) AS t)
GROUP BY t
ORDER BY t""",
    extra_ctes=f"""
tc_cells AS (
    SELECT id_regiao,
           CAST(FLOOR(valor_transacao / {QI_VALUE_BUCKET!r}) AS BIGINT)
               AS faixa_valor,
           modalidade_pagamento,
           CAST(COUNT(*) AS BIGINT) AS n_cm
    FROM transactions
    GROUP BY 1, 2, 3
),
tc_classes AS (
    SELECT id_regiao, faixa_valor, CAST(SUM(n_cm) AS BIGINT) AS n_c
    FROM tc_cells GROUP BY 1, 2
),
tc_margins AS (
    SELECT modalidade_pagamento, CAST(SUM(n_cm) AS BIGINT) AS n_m
    FROM tc_cells GROUP BY 1
),
tc_total AS (SELECT CAST(SUM(n_m) AS BIGINT) AS n_total FROM tc_margins),
tc_pairs AS (
    SELECT c.id_regiao, c.faixa_valor, c.n_c, tt.n_total,
           ABS(COALESCE(x.n_cm, 0) * tt.n_total - m.n_m * c.n_c) AS termo
    FROM tc_classes c
    CROSS JOIN tc_margins m
    LEFT JOIN tc_cells x
      ON x.id_regiao = c.id_regiao AND x.faixa_valor = c.faixa_valor
     AND x.modalidade_pagamento = m.modalidade_pagamento
    CROSS JOIN tc_total tt
),
tc_tv AS (
    SELECT id_regiao, faixa_valor,
           CAST(SUM(termo) AS DOUBLE)
               / (2.0 * CAST(MAX(n_c) AS DOUBLE)
                  * CAST(MAX(n_total) AS DOUBLE)) AS tv,
           MAX(n_c) AS tam
    FROM tc_pairs
    GROUP BY 1, 2
)""",
)


# --- data-contract audit -----------------------------------------------------


def data_contract_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation-suite audit over the core tables — the pre-ingest
    contract a pipeline run publishes before anything downstream trusts
    the batch: NOT-NULL checks, range checks, and referential-integrity
    checks (FK orphan counts via a left join + null probe), one row per
    (table, check) with the violation count and exact-ratio share.

    Scale: each table is scanned ONCE (all its conditional counts ride
    a single aggregate); the two FK checks ride one join each keyed on
    the FK (Catalyst picks broadcast vs shuffle by dim size). Nothing
    is collected; the output is a handful of rows. Each table's 1-row
    aggregate is pinned once per session (memo.shared_frame): every
    per-check union branch re-selects from it, so the table scan (and
    FK join) is planned once, not once per branch."""
    orders = datamodel.load_table(spark, sf_dir, "orders")
    lineitem = datamodel.load_table(spark, sf_dir, "lineitem")
    customer = datamodel.load_table(spark, sf_dir, "customer")
    events = datamodel.load_table(spark, sf_dir, "events")

    def checks(df, tabela, pairs):
        aggs = [F.count("*").cast("bigint").alias("_n")]
        for nome, cond in pairs:
            aggs.append(
                F.sum(F.when(cond, 1).otherwise(0))
                .cast("bigint")
                .alias(nome)
            )
        one = memo.shared_frame(
            spark,
            sf_dir,
            "contract:" + ",".join(nome for nome, _ in pairs),
            lambda: df.agg(*aggs),
        )
        outs = []
        for nome, _ in pairs:
            outs.append(
                one.select(
                    F.lit(tabela).alias("tabela"),
                    F.lit(nome).alias("verificacao"),
                    F.col("_n").alias("n_linhas"),
                    F.col(nome).alias("n_violacoes"),
                    (
                        F.col(nome).cast("double")
                        / F.col("_n").cast("double")
                    ).alias("fracao"),
                )
            )
        out = outs[0]
        for o in outs[1:]:
            out = out.unionAll(o)
        return out

    o_fk = orders.join(
        customer.select(F.col("c_custkey").alias("_ck")),
        orders["o_custkey"] == F.col("_ck"),
        "left",
    )
    l_fk = lineitem.join(
        orders.select(F.col("o_orderkey").alias("_ok")),
        lineitem["l_orderkey"] == F.col("_ok"),
        "left",
    )
    parts = [
        checks(
            orders,
            "orders",
            [
                ("o_custkey_nulo", F.col("o_custkey").isNull()),
                ("o_totalprice_nao_positivo", F.col("o_totalprice") <= 0),
            ],
        ),
        checks(
            o_fk,
            "orders",
            [("o_custkey_orfao", F.col("_ck").isNull())],
        ),
        checks(
            lineitem,
            "lineitem",
            [
                (
                    "l_quantity_fora_faixa",
                    (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50),
                ),
                (
                    "l_discount_fora_faixa",
                    (F.col("l_discount") < 0) | (F.col("l_discount") > 1),
                ),
            ],
        ),
        checks(
            l_fk,
            "lineitem",
            [("l_orderkey_orfao", F.col("_ok").isNull())],
        ),
        checks(
            events,
            "events",
            [
                ("user_id_nulo", F.col("user_id").isNull()),
                ("ts_nulo", F.col("ts").isNull()),
                ("value_negativo", F.col("value") < 0),
            ],
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def _dq_sql_block(label, from_clause, nome, cond):
    return f"""
SELECT '{label}' AS tabela, '{nome}' AS verificacao,
       CAST(COUNT(*) AS BIGINT) AS n_linhas,
       CAST(SUM(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_violacoes,
       CAST(SUM(CASE WHEN {cond} THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS fracao
FROM {from_clause}"""


DATA_CONTRACT_SQL = " UNION ALL ".join(
    [
        _dq_sql_block(
            "orders", "orders", "o_custkey_nulo", "o_custkey IS NULL"
        ),
        _dq_sql_block(
            "orders", "orders", "o_totalprice_nao_positivo",
            "o_totalprice <= 0",
        ),
        _dq_sql_block(
            "orders",
            "(SELECT c.c_custkey AS ck FROM orders o LEFT JOIN customer c"
            " ON o.o_custkey = c.c_custkey)",
            "o_custkey_orfao",
            "ck IS NULL",
        ),
        _dq_sql_block(
            "lineitem", "lineitem", "l_quantity_fora_faixa",
            "l_quantity < 1 OR l_quantity > 50",
        ),
        _dq_sql_block(
            "lineitem", "lineitem", "l_discount_fora_faixa",
            "l_discount < 0 OR l_discount > 1",
        ),
        _dq_sql_block(
            "lineitem",
            "(SELECT o.o_orderkey AS ok2 FROM lineitem l LEFT JOIN orders o"
            " ON l.l_orderkey = o.o_orderkey)",
            "l_orderkey_orfao",
            "ok2 IS NULL",
        ),
        _dq_sql_block("events", "events", "user_id_nulo", "user_id IS NULL"),
        _dq_sql_block("events", "events", "ts_nulo", "ts IS NULL"),
        _dq_sql_block("events", "events", "value_negativo", "value < 0"),
    ]
)

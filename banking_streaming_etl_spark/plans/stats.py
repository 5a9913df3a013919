"""Distribution-level statistical tests over the approval pipeline.

The reference dashboard stops at per-group means/histograms
(containers/dashboard/dashboard.py:329-631); a model-audit layer on the
same frame needs the classical two-sample / association statistics too.
Each query here is exact (no sampling, no sketch) and scale-shaped: the
only global-order work rides the distributed prefix-sum operator
(operators/ranking.with_global_cumsum — sampled boundaries + bucketed
running windows, never a single-task sort), everything else is one hash
aggregate plus broadcast scalars.

Cross-engine contract (see CLAUDE.md): every statistic that is an exact
RATIONAL (KS, kappa, Spearman rho, chi-squared cells) is emitted as an
UNROUNDED double computed from exact integer/decimal aggregates through
a term-for-term identical expression in both dialects — identical IEEE
ops on identical operands are bit-identical, while ROUND(.,6) on a
rational risks the .5-at-digit-7 boundary. Transcendental outputs (JS
divergence contributions) are ROUND(.,6) per the BM25/MI precedent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from banking_streaming_etl_spark import datamodel
from banking_streaming_etl_spark.functions import exact, portable, scores
from banking_streaming_etl_spark.operators import memo, ranking
from banking_streaming_etl_spark.plans.dashboard import (
    MODALITY_APPROVAL_CELLS_CTE,
    _approval_contingency,
    _approved,
    _modality_approval_cells,
)


def _oracle_with(extra_ctes: str, body: str) -> str:
    return datamodel.with_ctes(body, extra_ctes=scores.SCORED_CTE + extra_ctes)


# --- two-sample Kolmogorov-Smirnov: value | approved vs denied -------------


def ks_test_value_by_approval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov test between the transaction
    value distributions of approved vs denied traffic — the standard
    audit for "does the approval rule distort the value mix".

    D = max_v |F_ap(v) - F_den(v)| evaluated at every distinct value,
    computed entirely in integers: with the signed per-value weight
    w(v) = n_ap(v)*N_den - n_den(v)*N_ap, the prefix sum of w over the
    value order equals N_ap*N_den*(F_ap - F_den), so D's numerator is
    max|cumsum(w)| (an exact integer in DECIMAL) and the statistic is
    ONE integer division — bit-identical cross-engine, no rounding.
    `ks_em_valor` is the smallest value attaining the max (deterministic
    argmax under ties).

    Scale shape: groupBy distinct value (shuffle ~ |distinct|), one
    distributed prefix sum (operators/ranking.with_global_cumsum — no
    unpartitioned window), then two broadcast-scalar passes over the
    cached cum frame. The classic sort-then-scan KS recipe with no
    single-task sort anywhere."""
    # narrow + PIN the cum frame (round-14): the `mx` branch and the
    # final aggregate both reference it, and the old lazy persist still
    # re-analyzed (and on exchange-reuse misses re-executed) the whole
    # counts+prefix-sum DAG per branch — the checkpoint truncates both
    # to one LogicalRDD (guide §2.4/§3.3). Session-memoized: the
    # cumsum's build-time boundary jobs run once per (session, sf), not
    # per plan build.
    def _build_cum() -> DataFrame:
        t = _approved(spark, sf_dir).select(
            "id_transacao", "valor_transacao", "transacao_aprovada"
        )
        # cache the |distinct values|-sized grouped frame: the totals
        # scalar and the prefix-sum stages all re-scan it
        counts = (
            t.groupBy("valor_transacao")
            .agg(
                F.sum(F.when(F.col("transacao_aprovada"), 1).otherwise(0))
                .cast("bigint")
                .alias("n_ap"),
                F.sum(F.when(F.col("transacao_aprovada"), 0).otherwise(1))
                .cast("bigint")
                .alias("n_den"),
                F.min("id_transacao").alias("_vid"),
            )
            .persist()
        )
        tot = counts.agg(
            F.sum("n_ap").cast("bigint").alias("na"),
            F.sum("n_den").cast("bigint").alias("nd"),
        )
        w = counts.crossJoin(F.broadcast(tot)).withColumn(
            "w_dif",
            (F.col("n_ap") * F.col("nd") - F.col("n_den") * F.col("na")).cast(
                ranking.DEC38
            ),
        )
        return ranking.with_global_cumsum(
            w, "valor_transacao", "_vid", "w_dif", out="c", nulls="reject"
        ).select("valor_transacao", "na", "nd", "c")

    cum = memo.shared_frame(spark, sf_dir, "ks_cum", _build_cum)
    mx = cum.agg(F.max(F.abs(F.col("c"))).alias("m"))
    agg = (
        cum.crossJoin(F.broadcast(mx))
        .filter(F.abs(F.col("c")) == F.col("m"))
        .agg(
            F.max("na").alias("n_aprovadas"),
            F.max("nd").alias("n_negadas"),
            F.max("m").alias("_m_dec"),
            F.min("valor_transacao").alias("ks_em_valor"),
        )
    )
    return agg.select(
        "n_aprovadas",
        "n_negadas",
        F.col("_m_dec").cast("bigint").alias("ks_num"),
        # guard: one-class corpus -> NULL in BOTH dialects (Spark ANSI
        # throws on /0, DuckDB would emit NaN/inf)
        F.when(
            (F.col("n_aprovadas") > 0) & (F.col("n_negadas") > 0),
            F.col("_m_dec").cast("double")
            / (
                F.col("n_aprovadas").cast("double")
                * F.col("n_negadas").cast("double")
            ),
        ).alias("ks_stat"),
        "ks_em_valor",
    )


_KS_CTES = """,
ks_counts AS (
    SELECT valor_transacao,
           CAST(SUM(CASE WHEN transacao_aprovada THEN 1 ELSE 0 END)
                AS BIGINT) AS n_ap,
           CAST(SUM(CASE WHEN transacao_aprovada THEN 0 ELSE 1 END)
                AS BIGINT) AS n_den
    FROM approved GROUP BY valor_transacao
),
ks_tot AS (
    SELECT CAST(SUM(n_ap) AS BIGINT) AS na,
           CAST(SUM(n_den) AS BIGINT) AS nd
    FROM ks_counts
),
ks_cum AS (
    SELECT valor_transacao, na, nd,
           SUM(CAST(n_ap * nd - n_den * na AS DECIMAL(38,9)))
               OVER (ORDER BY valor_transacao ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS c
    FROM ks_counts, ks_tot
),
ks_mx AS (SELECT MAX(ABS(c)) AS m FROM ks_cum)"""

KS_TEST_SQL = _oracle_with(
    _KS_CTES,
    """
SELECT MAX(na) AS n_aprovadas, MAX(nd) AS n_negadas,
       CAST(MAX(m) AS BIGINT) AS ks_num,
       CASE WHEN MAX(na) > 0 AND MAX(nd) > 0
            THEN CAST(MAX(m) AS DOUBLE)
                 / (CAST(MAX(na) AS DOUBLE) * CAST(MAX(nd) AS DOUBLE))
            END AS ks_stat,
       MIN(valor_transacao) AS ks_em_valor
FROM ks_cum, ks_mx
WHERE ABS(c) = m""",
)


# --- global Spearman rank correlation: value vs risk score -----------------


def _avg2_rank_table(df: DataFrame, col: str, out: str) -> DataFrame:
    """(value -> 2x average rank) lookup for one column: group by the
    distinct value, distributed prefix sum of the tie-group counts, then
    avg-rank identity 2*r(v) = 2*cum(v) - cnt(v) + 1 (an exact integer —
    doubling keeps the .5-multiple average ranks in bigint)."""
    g = df.groupBy(col).agg(
        F.count("*").cast("bigint").alias("_cnt"),
        F.min("id_transacao").alias("_vid"),
    )
    cum = ranking.with_global_cumsum(
        g, col, "_vid", "_cnt", out="_cumc", nulls="reject"
    )
    return cum.select(
        F.col(col),
        (
            F.lit(2).cast(ranking.DEC38) * F.col("_cumc")
            - F.col("_cnt")
            + F.lit(1)
        )
        .cast("bigint")
        .alias(out),
    )


def spearman_value_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global Spearman rank correlation between transaction value and
    the risk score — the monotone-association companion of the Pearson
    `valor_score_correlation`: Pearson over AVERAGE ranks (proper tie
    handling, not row_number tie-breaking), with both rank tables built
    from the distributed prefix sum so no single-task sort exists.

    All moment sums accumulate doubled ranks (exact integers) in
    DECIMAL(38,0); rho is then a fixed 13-op double expression on the
    six exact aggregates, term-identical in the DuckDB twin — doubling
    both rank vectors leaves the correlation invariant. Scale: two
    value-keyed groupBys + prefix sums, two shuffle joins back to the
    fact, one final aggregate. Round-14: the two INDEPENDENT rank-table
    passes materialize concurrently (ranking.overlap_checkpoint, guide
    §2.6) off an eagerly checkpointed base, halving the serial
    stage-wave depth; the (base, rank, rank) triple is session-memoized
    so rebuilds are job-free. Values
    unchanged."""

    def _build() -> list[DataFrame]:
        ap = (
            _approved(spark, sf_dir)
            .select("id_transacao", "valor_transacao", "score_medio")
            .localCheckpoint(eager=True)
        )
        rx, ry = ranking.overlap_checkpoint(
            [
                _avg2_rank_table(ap, "valor_transacao", "ax"),
                _avg2_rank_table(ap, "score_medio", "ay"),
            ]
        )
        return [ap, rx, ry]

    ap, rx, ry = memo.shared(spark, sf_dir, "spearman_ranks", _build)
    j = ap.join(rx, "valor_transacao").join(ry, "score_medio")
    dec0 = "decimal(38,0)"
    agg = j.agg(
        F.count("*").cast("bigint").alias("n_linhas"),
        F.sum(F.col("ax").cast(dec0)).alias("_sx"),
        F.sum(F.col("ay").cast(dec0)).alias("_sy"),
        F.sum((F.col("ax").cast(dec0) * F.col("ay").cast(dec0))).alias("_sxy"),
        F.sum((F.col("ax").cast(dec0) * F.col("ax").cast(dec0))).alias("_sxx"),
        F.sum((F.col("ay").cast(dec0) * F.col("ay").cast(dec0))).alias("_syy"),
    )
    n_d = F.col("n_linhas").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    sxy = F.col("_sxy").cast("double")
    sxx = F.col("_sxx").cast("double")
    syy = F.col("_syy").cast("double")
    rho = (n_d * sxy - sx * sy) / (
        F.sqrt(n_d * sxx - sx * sx) * F.sqrt(n_d * syy - sy * sy)
    )
    return agg.select("n_linhas", rho.alias("rho_spearman"))


_SPEARMAN_CTES = """,
sp_vx AS (
    SELECT valor_transacao, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM approved GROUP BY valor_transacao
),
sp_rx AS (
    SELECT valor_transacao,
           2 * SUM(cnt) OVER (ORDER BY valor_transacao ASC
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) - cnt + 1 AS ax
    FROM sp_vx
),
sp_vy AS (
    SELECT score_medio, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM approved GROUP BY score_medio
),
sp_ry AS (
    SELECT score_medio,
           2 * SUM(cnt) OVER (ORDER BY score_medio ASC
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) - cnt + 1 AS ay
    FROM sp_vy
),
sp_moments AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_linhas,
           CAST(COUNT(*) AS DOUBLE) AS n_d,
           CAST(SUM(ax) AS DOUBLE) AS sx,
           CAST(SUM(ay) AS DOUBLE) AS sy,
           CAST(SUM(ax * ay) AS DOUBLE) AS sxy,
           CAST(SUM(ax * ax) AS DOUBLE) AS sxx,
           CAST(SUM(ay * ay) AS DOUBLE) AS syy
    FROM approved a
    JOIN sp_rx USING (valor_transacao)
    JOIN sp_ry USING (score_medio)
)"""

SPEARMAN_SQL = _oracle_with(
    _SPEARMAN_CTES,
    """
SELECT n_linhas,
       (n_d * sxy - sx * sy)
           / (SQRT(n_d * sxx - sx * sx) * SQRT(n_d * syy - sy * sy))
           AS rho_spearman
FROM sp_moments""",
)


# --- chi-squared contingency cells: modality x approval --------------------


def chi2_cells_modality_approval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared independence screen between payment modality and the
    approval outcome, per contingency cell: observed count, expected
    count under independence, the cell's chi2 contribution and its
    Pearson residual (the signed root-contribution a model-audit reads
    to see WHICH cells drive the dependence) — the frequentist companion
    of `mi_modality_approval`'s information-theoretic screen.

    Cells and margins are exact integers read from the shared pinned
    (modality, approval) contingency kernel — one corpus aggregate per
    session; expected / contribution / residual are unrounded doubles
    from term-identical expressions (exact rationals — ROUND would risk
    the .5 boundary). The contingency table is model-sized at any corpus
    size."""
    esperado = (
        F.col("n_modalidade").cast("double")
        * F.col("n_resultado").cast("double")
    ) / F.col("n_total").cast("double")
    desvio = F.col("n_celula").cast("double") - F.col("_esp")
    return (
        _modality_approval_cells(spark, sf_dir)
        .withColumn("_esp", esperado)
        .select(
            "modalidade_pagamento",
            "transacao_aprovada",
            "n_celula",
            F.col("_esp").alias("esperado"),
            (desvio * desvio / F.col("_esp")).alias("qui2_contrib"),
            (desvio / F.sqrt(F.col("_esp"))).alias("residuo_pearson"),
        )
    )


CHI2_CELLS_SQL = _oracle_with(
    MODALITY_APPROVAL_CELLS_CTE,
    """
SELECT modalidade_pagamento, transacao_aprovada, n_celula,
       esp AS esperado,
       (CAST(n_celula AS DOUBLE) - esp) * (CAST(n_celula AS DOUBLE) - esp)
           / esp AS qui2_contrib,
       (CAST(n_celula AS DOUBLE) - esp) / SQRT(esp) AS residuo_pearson
FROM (
    SELECT modalidade_pagamento, transacao_aprovada, n_celula,
           CAST(n_modalidade AS DOUBLE) * CAST(n_resultado AS DOUBLE)
               / CAST(n_total AS DOUBLE) AS esp
    FROM ma_cells
)""",
)


# --- Cohen's kappa: balance flag vs limit flag -----------------------------


def cohens_kappa_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa agreement between the two money-side approval
    sub-rules (balance check vs per-modality limit check) — the
    chance-corrected agreement a rules audit reads to see whether the
    two gates are redundant raters or independent controls.

    kappa = (N*agree - (a1*b1 + a0*b0)) / (N*N - (a1*b1 + a0*b0)) with
    every margin an exact bigint from ONE aggregate pass; the products
    ride the doubles-first ladder (the mcnemar convention — each margin
    cast to double BEFORE multiplying, so nothing overflows int64 under
    ANSI at any corpus size; both engines run the identical IEEE
    expression tree, and below 2^53 the doubles are the exact
    integers)."""
    ap = _approved(spark, sf_dir)
    agg = ap.agg(
        F.count("*").cast("bigint").alias("n_linhas"),
        F.sum(
            F.when(
                F.col("saldo_aprovado") == F.col("limite_aprovado"), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("concordancia"),
        F.sum(F.when(F.col("saldo_aprovado"), 1).otherwise(0))
        .cast("bigint")
        .alias("_a1"),
        F.sum(F.when(F.col("limite_aprovado"), 1).otherwise(0))
        .cast("bigint")
        .alias("_b1"),
    )
    nd = F.col("n_linhas").cast("double")
    agreed = F.col("concordancia").cast("double")
    a1d = F.col("_a1").cast("double")
    b1d = F.col("_b1").cast("double")
    pe_num = a1d * b1d + (nd - a1d) * (nd - b1d)
    # guard: degenerate single-class raters make the chance-corrected
    # denominator 0 (kappa undefined) -> NULL in BOTH dialects
    kappa = F.when(
        nd * nd - pe_num != 0.0,
        (nd * agreed - pe_num) / (nd * nd - pe_num),
    )
    return agg.select("n_linhas", "concordancia", kappa.alias("kappa"))


COHENS_KAPPA_SQL = _oracle_with(
    "",
    """
SELECT n_linhas, concordancia,
       CASE WHEN CAST(n_linhas AS DOUBLE) * CAST(n_linhas AS DOUBLE)
                 - (CAST(a1 AS DOUBLE) * CAST(b1 AS DOUBLE)
                    + (CAST(n_linhas AS DOUBLE) - CAST(a1 AS DOUBLE))
                      * (CAST(n_linhas AS DOUBLE) - CAST(b1 AS DOUBLE)))
                 <> 0.0
            THEN (CAST(n_linhas AS DOUBLE) * CAST(concordancia AS DOUBLE)
                  - (CAST(a1 AS DOUBLE) * CAST(b1 AS DOUBLE)
                     + (CAST(n_linhas AS DOUBLE) - CAST(a1 AS DOUBLE))
                       * (CAST(n_linhas AS DOUBLE) - CAST(b1 AS DOUBLE))))
                 / (CAST(n_linhas AS DOUBLE) * CAST(n_linhas AS DOUBLE)
                    - (CAST(a1 AS DOUBLE) * CAST(b1 AS DOUBLE)
                       + (CAST(n_linhas AS DOUBLE) - CAST(a1 AS DOUBLE))
                         * (CAST(n_linhas AS DOUBLE) - CAST(b1 AS DOUBLE))))
            END AS kappa
FROM (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_linhas,
           CAST(SUM(CASE WHEN saldo_aprovado = limite_aprovado
                    THEN 1 ELSE 0 END) AS BIGINT) AS concordancia,
           CAST(SUM(CASE WHEN saldo_aprovado THEN 1 ELSE 0 END)
                AS BIGINT) AS a1,
           CAST(SUM(CASE WHEN limite_aprovado THEN 1 ELSE 0 END)
                AS BIGINT) AS b1
    FROM approved
)""",
)


# --- Jensen-Shannon divergence: value mix, approved vs denied --------------

JS_BIN_WIDTH = 25.0  # the dashboard histogram's bin width (A13 precedent)


def js_divergence_value_by_approval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-bin Jensen-Shannon divergence contributions between the
    approved and denied value distributions over the dashboard's fixed
    25-unit bins — the bounded symmetric drift statistic (PSI's
    log2-free cousin; psi_value_drift is the time-sliced sibling).
    Summing the on-grid contributions gives total JS in nats.

    The bin key is an IEEE-exact divide+floor ladder on the raw value
    column (never a transcendental — CLAUDE.md group-key rule); the
    contribution 0.5*p*ln(p/m) + 0.5*q*ln(q/m) with m=(p+q)/2 is
    transcendental except at p=q where it is exactly 0 in both engines,
    so ROUND(.,6) is unambiguous. The bin table is the pinned (balde)
    entry of the contingency kernel — model-sized at any corpus size."""
    g = _approval_contingency(
        spark,
        sf_dir,
        balde=F.floor(F.col("valor_transacao") / F.lit(JS_BIN_WIDTH))
        .cast("bigint"),
    ).select(
        "balde",
        F.col("n_y").alias("n_aprovadas"),
        (F.col("n") - F.col("n_y")).alias("n_negadas"),
        F.col("n_y_total").alias("na"),
        (F.col("n_total") - F.col("n_y_total")).alias("nd"),
    )
    # guarded shares: a one-class corpus zeroes a TOTAL — the share's
    # value is then never used (the n>0 contrib guards below), but the
    # eager ANSI division would still throw; DuckDB mirrors the guard
    p = F.when(
        F.col("na") > 0,
        F.col("n_aprovadas").cast("double") / F.col("na").cast("double"),
    ).otherwise(F.lit(0.0))
    q = F.when(
        F.col("nd") > 0,
        F.col("n_negadas").cast("double") / F.col("nd").cast("double"),
    ).otherwise(F.lit(0.0))
    m = (p + q) / F.lit(2.0)
    contrib = F.lit(0.5) * F.when(
        F.col("n_aprovadas") > 0, p * F.log(p / m)
    ).otherwise(F.lit(0.0)) + F.lit(0.5) * F.when(
        F.col("n_negadas") > 0, q * F.log(q / m)
    ).otherwise(
        F.lit(0.0)
    )
    return g.select(
        "balde",
        "n_aprovadas",
        "n_negadas",
        F.round(contrib, 6).alias("js_contrib"),
    )


_JS_CTES = f""",
js_bins AS (
    SELECT CAST(FLOOR(valor_transacao / {JS_BIN_WIDTH}) AS BIGINT) AS balde,
           CAST(SUM(CASE WHEN transacao_aprovada THEN 1 ELSE 0 END)
                AS BIGINT) AS n_aprovadas,
           CAST(SUM(CASE WHEN transacao_aprovada THEN 0 ELSE 1 END)
                AS BIGINT) AS n_negadas
    FROM approved
    GROUP BY 1
),
js_tot AS (
    SELECT CAST(SUM(n_aprovadas) AS BIGINT) AS na,
           CAST(SUM(n_negadas) AS BIGINT) AS nd
    FROM js_bins
)"""

JS_DIVERGENCE_SQL = _oracle_with(
    _JS_CTES,
    """
SELECT balde, n_aprovadas, n_negadas,
       ROUND(
           0.5 * (CASE WHEN n_aprovadas > 0
                       THEN p * LN(p / ((p + q) / 2.0)) ELSE 0.0 END)
           + 0.5 * (CASE WHEN n_negadas > 0
                         THEN q * LN(q / ((p + q) / 2.0)) ELSE 0.0 END),
           6) AS js_contrib
FROM (
    SELECT balde, n_aprovadas, n_negadas,
           CASE WHEN na > 0
                THEN CAST(n_aprovadas AS DOUBLE) / CAST(na AS DOUBLE)
                ELSE 0.0 END AS p,
           CASE WHEN nd > 0
                THEN CAST(n_negadas AS DOUBLE) / CAST(nd AS DOUBLE)
                ELSE 0.0 END AS q
    FROM js_bins, js_tot
)""",
)


# --- k-fold cross-validation folds + leave-one-fold-out metrics ------------

CV_FOLDS = 5


def cv_fold_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold cross-validation assignment + per-fold audit:
    fold membership is a pure function of the row id (portable LCG hash
    % k — partition-independent, engine-reproducible, the train/test
    split convention), and each fold row reports its size, approval
    count, exact mean value, and the LEAVE-ONE-FOLD-OUT mean (the
    training-side statistic a CV loop would fit against).

    One corpus aggregate; totals re-aggregated from the k fold rows
    (margins-from-cells, never a second scan) and broadcast back. The
    LOO mean is (total_dec - fold_dec)/(n_total - n_fold): exact decimal
    subtraction, ONE double division, unrounded and term-identical.
    The fold table is pinned once per session (memo.shared_frame)."""
    folds = memo.shared_frame(
        spark,
        sf_dir,
        "cv_folds",
        lambda: _approved(spark, sf_dir)
        .groupBy(
            (portable.lcg_hash(F.col("id_transacao")) % CV_FOLDS).alias(
                "fold"
            )
        )
        .agg(
            F.count("*").cast("bigint").alias("n_linhas"),
            F.sum(F.when(F.col("transacao_aprovada"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_aprovadas"),
            F.sum(exact._d(F.col("valor_transacao"))).alias("_soma_dec"),
        ),
    )
    tot = folds.agg(
        F.sum("n_linhas").cast("bigint").alias("_n_tot"),
        F.sum("_soma_dec").cast(exact.DEC).alias("_soma_tot"),
    )
    loo = (F.col("_soma_tot") - F.col("_soma_dec")).cast("double") / (
        F.col("_n_tot") - F.col("n_linhas")
    ).cast("double")
    return (
        folds.crossJoin(F.broadcast(tot))
        .select(
            "fold",
            "n_linhas",
            "n_aprovadas",
            (F.col("_soma_dec").cast("double") / F.col("n_linhas").cast("double"))
            .alias("valor_medio"),
            loo.alias("valor_medio_loo"),
        )
    )


CV_FOLD_SQL = _oracle_with(
    f""",
cv_folds AS (
    SELECT ({portable.lcg_hash_sql('id_transacao')}) % {CV_FOLDS} AS fold,
           CAST(COUNT(*) AS BIGINT) AS n_linhas,
           CAST(SUM(CASE WHEN transacao_aprovada THEN 1 ELSE 0 END)
                AS BIGINT) AS n_aprovadas,
           SUM(CAST(ROUND(valor_transacao, 6) AS DECIMAL(28,6))) AS soma_dec
    FROM approved
    GROUP BY 1
),
cv_tot AS (
    SELECT CAST(SUM(n_linhas) AS BIGINT) AS n_tot,
           CAST(SUM(soma_dec) AS DECIMAL(28,6)) AS soma_tot
    FROM cv_folds
)""",
    """
SELECT fold, n_linhas, n_aprovadas,
       CAST(soma_dec AS DOUBLE) / CAST(n_linhas AS DOUBLE) AS valor_medio,
       CAST(soma_tot - soma_dec AS DOUBLE)
           / CAST(n_tot - n_linhas AS DOUBLE) AS valor_medio_loo
FROM cv_folds, cv_tot""",
)


# --- leave-one-out target encoding (tabular ML feature) --------------------

TARGET_SMOOTH_M = 100


def loo_target_encode_modality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of the payment modality against the
    approval outcome — the standard high-cardinality categorical feature
    for tabular models, in its leakage-safe form: each row's encoding
    excludes ITS OWN label ((n_ap_g - y_i)/(n_g - 1)), plus the
    m-smoothed variant shrunk toward the global prior — so the feature
    can be joined straight into a training frame without target leakage.

    Scale shape: the group table is the pinned (modality) entry of the
    contingency kernel (|modalities| rows) broadcast back onto the fact
    — a narrow map per row, no shuffle. Both encodings are exact
    integer ratios emitted as unrounded doubles through term-identical
    expressions."""
    t = _approved(spark, sf_dir).select(
        "id_transacao",
        "modalidade_pagamento",
        F.when(F.col("transacao_aprovada"), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("aprovada"),
    )
    g = _approval_contingency(
        spark, sf_dir, modalidade_pagamento=F.col("modalidade_pagamento")
    ).select(
        "modalidade_pagamento",
        F.col("n").alias("_n_g"),
        F.col("n_y").alias("_n_ap_g"),
        F.col("n_total").alias("_n_tot"),
        F.col("n_y_total").alias("_n_ap_tot"),
    )
    # guard: a singleton group has NO leave-one-out peers -> NULL in
    # BOTH dialects (Spark ANSI throws on the /0, DuckDB would emit NaN)
    loo = F.when(
        F.col("_n_g") > 1,
        (F.col("_n_ap_g") - F.col("aprovada")).cast("double")
        / (F.col("_n_g") - F.lit(1)).cast("double"),
    )
    prior = F.col("_n_ap_tot").cast("double") / F.col("_n_tot").cast("double")
    suave = (
        (F.col("_n_ap_g") - F.col("aprovada")).cast("double")
        + F.lit(float(TARGET_SMOOTH_M)) * prior
    ) / (
        (F.col("_n_g") - F.lit(1)).cast("double")
        + F.lit(float(TARGET_SMOOTH_M))
    )
    return t.join(F.broadcast(g), "modalidade_pagamento").select(
        "id_transacao",
        "modalidade_pagamento",
        "aprovada",
        loo.alias("codif_loo"),
        suave.alias("codif_loo_suave"),
    )


LOO_TARGET_SQL = _oracle_with(
    """,
te_g AS (
    SELECT modalidade_pagamento,
           CAST(COUNT(*) AS BIGINT) AS n_g,
           CAST(SUM(CASE WHEN transacao_aprovada THEN 1 ELSE 0 END)
                AS BIGINT) AS n_ap_g
    FROM approved
    GROUP BY modalidade_pagamento
),
te_tot AS (
    SELECT CAST(SUM(n_g) AS BIGINT) AS n_tot,
           CAST(SUM(n_ap_g) AS BIGINT) AS n_ap_tot
    FROM te_g
)""",
    f"""
SELECT id_transacao, modalidade_pagamento,
       CAST(CASE WHEN transacao_aprovada THEN 1 ELSE 0 END AS BIGINT)
           AS aprovada,
       CASE WHEN n_g > 1
            THEN CAST(n_ap_g - (CASE WHEN transacao_aprovada
                                     THEN 1 ELSE 0 END)
                      AS DOUBLE) / CAST(n_g - 1 AS DOUBLE)
            END AS codif_loo,
       (CAST(n_ap_g - (CASE WHEN transacao_aprovada THEN 1 ELSE 0 END)
             AS DOUBLE)
        + {float(TARGET_SMOOTH_M)} * (CAST(n_ap_tot AS DOUBLE)
                                      / CAST(n_tot AS DOUBLE)))
           / (CAST(n_g - 1 AS DOUBLE) + {float(TARGET_SMOOTH_M)})
           AS codif_loo_suave
FROM approved
JOIN te_g USING (modalidade_pagamento), te_tot""",
)


# --- exact isotonic (PAV) calibration over score bins ----------------------

ISO_BINS = 20


def isotonic_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT isotonic regression calibration of the risk score — the
    monotone score->P(denial) map (sklearn's IsotonicRegression /
    Zadrozny-Elkan calibration), fitted on equal-count score bins and
    solved DECLARATIVELY via the minimax identity of pool-adjacent-
    violators: iso(i) = max_{j<=i} min_{k>=i} avg(denial over bins j..k)
    (Robertson-Wright-Dykstra). No driver-side loop, no iteration — the
    whole PAV solve is three tiny joins, so the fit is oracle-checkable
    SQL, which an iterative pooling implementation would not be.

    Scale shape: the only corpus-scale work is the distributed NTILE
    pass + ONE bin aggregate; the K=20 bin table then goes through
    K^2/K^3-row broadcast joins (model-sized at any corpus size — the
    PCA/BPE "model, not data" pattern, but still fully distributed and
    declarative). The calibrated rates are interval means of exact
    integers picked by MIN/MAX — identical doubles in both engines, no
    rounding. `taxa_isotonica` is non-decreasing in `faixa` by
    construction (pinned by the brute-force PAV differential test)."""
    from banking_streaming_etl_spark.plans.dashboard import _cal_rank_asc

    # session-shared ASC rank; the ISO_BINS NTILE is its closed form
    binned = _cal_rank_asc(spark, sf_dir).withColumn(
        "faixa",
        ranking.ntile_from_rank(
            F.col("r"), F.col("_rank_n_total"), ISO_BINS
        ),
    )
    bins = binned.groupBy("faixa").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum((~F.col("transacao_aprovada")).cast("int"))
        .cast("bigint")
        .alias("n_negadas"),
    ).persist()
    # interval sums A(j,k) = denial mean over bins j..k (K^2/2 pairs,
    # each summing its members: the triangle join is K^3/6 rows total)
    # every join below is K-row x K-row: broadcast hints pin the plan to
    # BroadcastNestedLoopJoin (the bounded-model-state class) — without
    # them Spark's unknown size estimate falls back to CartesianProduct
    pairs = bins.select(F.col("faixa").alias("j")).join(
        F.broadcast(bins.select(F.col("faixa").alias("k"))),
        F.col("j") <= F.col("k"),
    )
    interval = (
        pairs.join(
            F.broadcast(
                bins.select(
                    F.col("faixa").alias("b"),
                    F.col("n").alias("_n_b"),
                    F.col("n_negadas").alias("_neg_b"),
                )
            ),
            (F.col("b") >= F.col("j")) & (F.col("b") <= F.col("k")),
        )
        .groupBy("j", "k")
        .agg(
            F.sum("_n_b").cast("bigint").alias("n_jk"),
            F.sum("_neg_b").cast("bigint").alias("neg_jk"),
        )
        .withColumn(
            "media_jk",
            F.col("neg_jk").cast("double") / F.col("n_jk").cast("double"),
        )
    )
    # minimax: iso(i) = max over j<=i of (min over k>=i of A(j,k))
    iso = (
        bins.select(F.col("faixa").alias("i"))
        .join(
            F.broadcast(interval),
            (F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i")),
        )
        .groupBy("i", "j")
        .agg(F.min("media_jk").alias("_min_k"))
        .groupBy("i")
        .agg(F.max("_min_k").alias("taxa_isotonica"))
    )
    return (
        bins.join(F.broadcast(iso), bins["faixa"] == iso["i"])
        .select(
            "faixa",
            "n",
            "n_negadas",
            (
                F.col("n_negadas").cast("double") / F.col("n").cast("double")
            ).alias("taxa_bruta"),
            "taxa_isotonica",
        )
    )


_ISO_CTES = f""",
iso_binned AS (
    SELECT transacao_aprovada,
           NTILE({ISO_BINS}) OVER (ORDER BY score_medio ASC,
                                   id_transacao ASC) AS faixa
    FROM approved
),
iso_bins AS (
    SELECT faixa, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN NOT transacao_aprovada THEN 1 ELSE 0 END)
                AS BIGINT) AS n_negadas
    FROM iso_binned GROUP BY faixa
),
iso_interval AS (
    SELECT j.faixa AS j, k.faixa AS k,
           CAST(SUM(b.n) AS BIGINT) AS n_jk,
           CAST(SUM(b.n_negadas) AS BIGINT) AS neg_jk
    FROM iso_bins j
    JOIN iso_bins k ON j.faixa <= k.faixa
    JOIN iso_bins b ON b.faixa >= j.faixa AND b.faixa <= k.faixa
    GROUP BY 1, 2
),
iso_minmax AS (
    SELECT i.faixa AS faixa, a.j AS j,
           MIN(CAST(a.neg_jk AS DOUBLE) / CAST(a.n_jk AS DOUBLE)) AS min_k
    FROM iso_bins i
    JOIN iso_interval a ON a.j <= i.faixa AND a.k >= i.faixa
    GROUP BY 1, 2
),
iso_fit AS (
    SELECT faixa, MAX(min_k) AS taxa_isotonica
    FROM iso_minmax GROUP BY faixa
)"""

ISOTONIC_SQL = _oracle_with(
    _ISO_CTES,
    """
SELECT b.faixa, b.n, b.n_negadas,
       CAST(b.n_negadas AS DOUBLE) / CAST(b.n AS DOUBLE) AS taxa_bruta,
       f.taxa_isotonica
FROM iso_bins b JOIN iso_fit f USING (faixa)""",
)


# --- Mann-Whitney U: value | approved vs denied ----------------------------


def mannwhitney_value_by_approval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact Mann-Whitney U (Wilcoxon rank-sum) test between the
    transaction-value distributions of approved vs denied traffic — the
    rank-based companion of the KS test above (sensitive to location
    shift where KS is sensitive to any CDF gap).

    Everything reduces to exact integers: pooled AVERAGE ranks ride the
    doubled-rank identity over the distributed prefix sum (2*r(v) =
    2*cum(v) - cnt(v) + 1, a bigint), so the doubled rank sum of the
    approved group 2*R_ap = sum n_ap(v) * a2(v) is an exact DECIMAL, and
    U = R - n1(n1+1)/2 is a dyadic rational — exact in double. The
    tie-corrected normal approximation sigma^2 = (n1*n2/12) * ((N+1) -
    T/(N(N-1))) with T = sum(t^3 - t) over tie groups is a fixed double
    ladder on exact integer aggregates, term-identical in the DuckDB
    twin (sqrt is IEEE-correctly-rounded, so z is bit-identical).

    Scale: one value-keyed groupBy (shuffle ~ |distinct values|), ONE
    distributed prefix sum (no single-task sort), one bounded aggregate.
    n1*n2 exceeds 2^53 only past ~10^8 rows per class; at that scale the
    z-statistic is what matters and U's last-ulp is irrelevant."""
    t = _approved(spark, sf_dir).select(
        "id_transacao", "valor_transacao", "transacao_aprovada"
    )
    counts = t.groupBy("valor_transacao").agg(
        F.sum(F.when(F.col("transacao_aprovada"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_ap"),
        F.count("*").cast("bigint").alias("cnt"),
        F.min("id_transacao").alias("_vid"),
    )
    cum = ranking.with_global_cumsum(
        counts, "valor_transacao", "_vid", "cnt", out="_cumc",
        nulls="reject",
    )
    dec0 = "decimal(38,0)"
    a2 = (
        F.lit(2).cast(ranking.DEC38) * F.col("_cumc")
        - F.col("cnt")
        + F.lit(1)
    ).cast("bigint")
    agg = cum.agg(
        F.sum("n_ap").cast("bigint").alias("_n1"),
        F.sum(F.col("cnt") - F.col("n_ap")).cast("bigint").alias("_n2"),
        F.sum(F.col("n_ap").cast(dec0) * a2.cast(dec0)).alias("_r2"),
        F.sum(
            F.col("cnt").cast(dec0) * F.col("cnt") * F.col("cnt")
            - F.col("cnt")
        ).alias("_tt"),
    )
    n1 = F.col("_n1").cast("double")
    n2 = F.col("_n2").cast("double")
    nd = n1 + n2
    u_ap = (F.col("_r2").cast("double") - n1 * (n1 + F.lit(1.0))) / F.lit(
        2.0
    )
    mu = n1 * n2 / F.lit(2.0)
    sig2 = (n1 * n2 / F.lit(12.0)) * (
        (nd + F.lit(1.0))
        - F.col("_tt").cast("double") / (nd * (nd - F.lit(1.0)))
    )
    # degenerate guards (one-class corpus / N<=1 / all-tied values):
    # NULL in BOTH dialects — nested whens so the inner sig2 arithmetic
    # (which itself divides by N(N-1)) is never evaluated when N<=1
    return agg.select(
        F.col("_n1").alias("n_aprovadas"),
        F.col("_n2").alias("n_negadas"),
        u_ap.alias("u_aprovadas"),
        (n1 * n2 - u_ap).alias("u_negadas"),
        F.when(
            (F.col("_n1") > 0) & (F.col("_n2") > 0), u_ap / (n1 * n2)
        ).alias("cles_aprovadas"),
        F.when(
            (F.col("_n1") > 0)
            & (F.col("_n2") > 0)
            & (F.col("_n1") + F.col("_n2") > 1),
            F.when(sig2 > 0, (u_ap - mu) / F.sqrt(sig2)),
        ).alias("z_u"),
    )


_MW_CTES = """,
mw_counts AS (
    SELECT valor_transacao,
           CAST(SUM(CASE WHEN transacao_aprovada THEN 1 ELSE 0 END)
                AS BIGINT) AS n_ap,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM approved GROUP BY valor_transacao
),
mw_rank AS (
    SELECT n_ap, cnt,
           2 * CAST(SUM(cnt) OVER (ORDER BY valor_transacao ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) - cnt + 1 AS a2
    FROM mw_counts
),
mw_agg AS (
    SELECT CAST(SUM(n_ap) AS BIGINT) AS n1,
           CAST(SUM(cnt - n_ap) AS BIGINT) AS n2,
           CAST(SUM(CAST(n_ap AS DECIMAL(38,0)) * a2) AS DECIMAL(38,0))
               AS r2,
           CAST(SUM(CAST(cnt AS DECIMAL(38,0)) * cnt * cnt - cnt)
               AS DECIMAL(38,0)) AS tt
    FROM mw_rank
)"""

MANNWHITNEY_SQL = _oracle_with(
    _MW_CTES,
    """
SELECT n1 AS n_aprovadas, n2 AS n_negadas,
       (CAST(r2 AS DOUBLE) - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0))
           / 2.0 AS u_aprovadas,
       CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
           - (CAST(r2 AS DOUBLE)
              - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0)) / 2.0
           AS u_negadas,
       CASE WHEN n1 > 0 AND n2 > 0
            THEN ((CAST(r2 AS DOUBLE)
                   - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0))
                  / 2.0) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
            END AS cles_aprovadas,
       CASE WHEN n1 > 0 AND n2 > 0 AND n1 + n2 > 1
            THEN CASE WHEN (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0)
                           * ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) + 1.0)
                              - CAST(tt AS DOUBLE)
                                / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                                   * (CAST(n1 AS DOUBLE)
                                      + CAST(n2 AS DOUBLE) - 1.0))) > 0
                 THEN ((CAST(r2 AS DOUBLE)
                        - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0))
                           / 2.0
                       - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0)
                      / SQRT((CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0)
                             * ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)
                                 + 1.0)
                                - CAST(tt AS DOUBLE)
                                  / ((CAST(n1 AS DOUBLE)
                                      + CAST(n2 AS DOUBLE))
                                     * (CAST(n1 AS DOUBLE)
                                        + CAST(n2 AS DOUBLE) - 1.0))))
                 END
            END AS z_u
FROM mw_agg""",
)


# --- deterministic cross-group double fold ---------------------------------
#
# A SUM over k per-group DOUBLE terms is order-dependent in the last ulp
# and both engines aggregate in nondeterministic order — the one float
# hazard the per-group-rows pattern (chi2 cells, JS bins) dodges by never
# summing across rows. When a statistic genuinely needs the cross-group
# sum (ANOVA's SSB, Kruskal-Wallis' sum R_g^2/n_g), both engines fold the
# SAME terms in the SAME sorted-key order instead: Spark F.aggregate over
# an array_sort'ed collect_list, DuckDB list_reduce over list(... ORDER
# BY key) — identical operand order => bit-identical IEEE result. The
# fold is over k <= a few dozen group rows (model-sized), never the corpus.


def _fold_terms(grp: DataFrame, key_col: str, term: Column) -> DataFrame:
    """One-row frame with `_fold` = left-fold sum of `term` over the
    group rows in ascending `key_col` order (init 0.0; 0.0 + x == x
    bit-exact for the non-negative terms this family folds)."""
    return grp.agg(
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct(F.col(key_col).alias("k"), term.alias("t")))
            ),
            F.lit(0.0),
            lambda a, s: a + s["t"],
        ).alias("_fold")
    )


def _sql_fold(term: str, key: str) -> str:
    # CAST the init: a bare 0.0 literal parses as DECIMAL in DuckDB and
    # would silently pull the whole fold out of IEEE double arithmetic
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list({term} ORDER BY {key} ASC)), (a, b) -> a + b)"
    )


# --- Kruskal-Wallis H: value across payment modalities ---------------------


def kruskal_value_by_modality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Kruskal-Wallis H test — does the transaction-value
    distribution differ across payment modalities? The k-sample
    generalization of the Mann-Whitney query: pooled average ranks from
    the distributed prefix sum (doubled-rank identity, exact bigints),
    per-modality doubled rank sums 2*R_g as exact DECIMAL, then

        H = 12/(N(N+1)) * sum_g R_g^2/n_g - 3(N+1),
        H_corrected = H / (1 - sum(t^3 - t)/(N^3 - N)).

    The only cross-group double sum (sum R_g^2/n_g) rides the
    deterministic sorted fold (`_fold_terms` / list_reduce twin) so both
    engines add the identical k terms in identical order. Output is one
    row per modality (n, exact dyadic rank sum, mean rank) with the H
    scalars broadcast onto every row.

    Scale: value-keyed groupBy + ONE distributed prefix sum for the rank
    table, a (modality, value) groupBy joined against it (shuffle ~
    |distinct pairs|), then k-row folds and broadcasts."""
    # ONE pass over the fact derivation: the (modality, value) aggregate
    # is computed first and the pooled per-value counts fold from it
    # (SUM of per-group counts / MIN of per-group min-ids — identical
    # bigints), instead of the old shape's two independent _approved
    # derivations + aggregates (round-14; guide §2.3 "aggregate before
    # you shuffle" — the second fact pass collapses to a |pairs|-row
    # re-aggregate).
    # checkpointed intermediates instead of lazy persists (round-14):
    # gv2, rank_tbl and grp each feed 2+ branches; persist dedup'd
    # execution but every branch still re-analyzed the full upstream DAG
    # — the checkpoint truncates it to one LogicalRDD (guide §2.4/§3.3).
    # The (rank_tbl, grp) pair is session-memoized so the cumsum's
    # build-time boundary jobs run once per session/sf.
    dec0 = "decimal(38,0)"

    def _build_kw() -> list[DataFrame]:
        t = _approved(spark, sf_dir).select(
            "id_transacao",
            "valor_transacao",
            "modalidade_pagamento",
            "transacao_aprovada",
        )
        gv2 = t.groupBy("modalidade_pagamento", "valor_transacao").agg(
            F.count("*").cast("bigint").alias("n_gv"),
            F.min("id_transacao").alias("_vid_g"),
        ).localCheckpoint(eager=False)
        pooled = gv2.groupBy("valor_transacao").agg(
            F.sum("n_gv").cast("bigint").alias("cnt"),
            F.min("_vid_g").alias("_vid"),
        )
        cum = ranking.with_global_cumsum(
            pooled, "valor_transacao", "_vid", "cnt", out="_cumc",
            nulls="reject",
        )
        rank_tbl = cum.select(
            "valor_transacao",
            "cnt",
            (
                F.lit(2).cast(ranking.DEC38) * F.col("_cumc")
                - F.col("cnt")
                + F.lit(1)
            )
            .cast("bigint")
            .alias("a2"),
        ).localCheckpoint(eager=True)
        gv = gv2.drop("_vid_g")
        grp = (
            gv.join(rank_tbl.drop("cnt"), "valor_transacao")
            .groupBy("modalidade_pagamento")
            .agg(
                F.sum("n_gv").cast("bigint").alias("n"),
                F.sum(F.col("n_gv").cast(dec0) * F.col("a2").cast(dec0))
                .alias("_r2g"),
            )
            .localCheckpoint(eager=True)
        )
        return [rank_tbl, grp]

    rank_tbl, grp = memo.shared(spark, sf_dir, "kruskal_rg", _build_kw)
    tot = rank_tbl.agg(
        F.sum("cnt").cast("bigint").alias("_n_tot"),
        F.sum(
            F.col("cnt").cast(dec0) * F.col("cnt") * F.col("cnt")
            - F.col("cnt")
        ).alias("_tt"),
    )
    # per-group H term: R_g^2/n_g = (2R_g)^2 / (4 n_g), exact operands
    term = (F.col("_r2g").cast("double") * F.col("_r2g").cast("double")) / (
        F.lit(4.0) * F.col("n").cast("double")
    )
    folded = _fold_terms(grp, "modalidade_pagamento", term)
    nd = F.col("_n_tot").cast("double")
    h = (
        F.lit(12.0) / (nd * (nd + F.lit(1.0))) * F.col("_fold")
        - F.lit(3.0) * (nd + F.lit(1.0))
    )
    tie_c = F.lit(1.0) - F.col("_tt").cast("double") / (nd * nd * nd - nd)
    scal = (
        folded.crossJoin(F.broadcast(tot))
        .select(
            F.col("_n_tot").alias("n_total"),
            h.alias("h_stat"),
            (h / tie_c).alias("h_corrigido"),
        )
    )
    return grp.crossJoin(F.broadcast(scal)).select(
        "modalidade_pagamento",
        "n",
        (F.col("_r2g").cast("double") / F.lit(2.0)).alias("soma_postos"),
        (
            F.col("_r2g").cast("double")
            / (F.lit(2.0) * F.col("n").cast("double"))
        ).alias("posto_medio"),
        "n_total",
        "h_stat",
        "h_corrigido",
    )


_KW_CTES = f""",
kw_pooled AS (
    SELECT valor_transacao, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM approved GROUP BY valor_transacao
),
kw_rank AS (
    SELECT valor_transacao, cnt,
           2 * CAST(SUM(cnt) OVER (ORDER BY valor_transacao ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) - cnt + 1 AS a2
    FROM kw_pooled
),
kw_tot AS (
    SELECT CAST(SUM(cnt) AS BIGINT) AS n_tot,
           CAST(SUM(CAST(cnt AS DECIMAL(38,0)) * cnt * cnt - cnt)
               AS DECIMAL(38,0)) AS tt
    FROM kw_rank
),
kw_gv AS (
    SELECT modalidade_pagamento, valor_transacao,
           CAST(COUNT(*) AS BIGINT) AS n_gv
    FROM approved GROUP BY 1, 2
),
kw_grp AS (
    SELECT g.modalidade_pagamento,
           CAST(SUM(g.n_gv) AS BIGINT) AS n,
           CAST(SUM(CAST(g.n_gv AS DECIMAL(38,0)) * r.a2)
               AS DECIMAL(38,0)) AS r2g
    FROM kw_gv g JOIN kw_rank r USING (valor_transacao)
    GROUP BY 1
),
kw_fold AS (
    SELECT {_sql_fold('(CAST(r2g AS DOUBLE) * CAST(r2g AS DOUBLE)) '
                      '/ (4.0 * CAST(n AS DOUBLE))',
                      'modalidade_pagamento')} AS s
    FROM kw_grp
),
kw_scal AS (
    SELECT n_tot AS n_total,
           12.0 / (CAST(n_tot AS DOUBLE) * (CAST(n_tot AS DOUBLE) + 1.0)) * s
               - 3.0 * (CAST(n_tot AS DOUBLE) + 1.0) AS h_stat,
           (12.0 / (CAST(n_tot AS DOUBLE) * (CAST(n_tot AS DOUBLE) + 1.0)) * s
               - 3.0 * (CAST(n_tot AS DOUBLE) + 1.0))
           / (1.0 - CAST(tt AS DOUBLE)
                    / (CAST(n_tot AS DOUBLE) * CAST(n_tot AS DOUBLE)
                       * CAST(n_tot AS DOUBLE) - CAST(n_tot AS DOUBLE)))
               AS h_corrigido
    FROM kw_fold, kw_tot
)"""

KRUSKAL_SQL = _oracle_with(
    _KW_CTES,
    """
SELECT g.modalidade_pagamento, g.n,
       CAST(g.r2g AS DOUBLE) / 2.0 AS soma_postos,
       CAST(g.r2g AS DOUBLE) / (2.0 * CAST(g.n AS DOUBLE)) AS posto_medio,
       s.n_total, s.h_stat, s.h_corrigido
FROM kw_grp g, kw_scal s""",
)


# --- one-way ANOVA: value across payment modalities ------------------------


def anova_value_by_modality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of transaction value across payment modalities —
    the parametric companion of the Kruskal-Wallis query: F = (SSB/(k-1))
    / (SSW/(N-k)) plus the eta-squared effect size SSB/SST.

    Determinism recipe: per-group first/second moments accumulate in
    DECIMAL through the 6-rounding `functions/exact` pattern (exact,
    order-independent); grand moments re-aggregate FROM THE k GROUP ROWS
    (decimal sums — never a second corpus scan); the per-group between
    term n_g*(mean_g - mean)^2 is a fixed double ladder on those exact
    scalars; and the one cross-group double sum (SSB) rides the
    deterministic sorted fold, so F and eta^2 are bit-identical in the
    DuckDB twin. Output: one row per modality (n, mean, between term)
    with the ANOVA scalars broadcast onto every row.

    Scale: ONE modality-keyed hash aggregate over the corpus, pinned
    once per session (memo.shared_frame); everything after is k-row
    arithmetic on broadcasts."""
    grp = memo.shared_frame(
        spark,
        sf_dir,
        "anova_groups",
        lambda: _approved(spark, sf_dir)
        .groupBy("modalidade_pagamento")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(exact._d("valor_transacao")).alias("_s"),
            F.sum(
                exact._d(
                    F.round("valor_transacao", 6)
                    * F.round("valor_transacao", 6)
                )
            ).alias("_q"),
        ),
    )
    tot = grp.agg(
        F.sum("n").cast("bigint").alias("_n_tot"),
        F.sum("_s").alias("_s_tot"),
        F.sum("_q").alias("_q_tot"),
        F.count("*").cast("bigint").alias("_k"),
    )
    ndt = F.col("_n_tot").cast("double")
    gmean = F.col("_s_tot").cast("double") / ndt
    # between term per group: n_g * (mean_g - grand_mean)^2
    ng = F.col("n").cast("double")
    dmean = F.col("_s").cast("double") / ng - F.col("_gmean")
    gt = grp.crossJoin(
        F.broadcast(tot.select(gmean.alias("_gmean"), "_n_tot", "_s_tot",
                               "_q_tot", "_k"))
    ).withColumn("termo_entre", ng * dmean * dmean)
    folded = _fold_terms(gt, "modalidade_pagamento", F.col("termo_entre"))
    ssb = F.col("_fold")
    sst = F.col("_q_tot").cast("double") - (
        F.col("_s_tot").cast("double") * F.col("_s_tot").cast("double")
    ) / ndt
    kd = F.col("_k").cast("double")
    # degenerate guards: one group (k=1), all-singleton groups
    # (n_tot=k), zero within-SS, or zero total SS -> NULL in BOTH
    # dialects (Spark ANSI throws on the /0, DuckDB would emit NaN)
    f_stat = F.when(
        (F.col("_k") > 1) & (F.col("_n_tot") > F.col("_k")),
        F.when(
            sst - ssb != 0.0,
            (ssb / (kd - F.lit(1.0))) / ((sst - ssb) / (ndt - kd)),
        ),
    )
    scal = folded.crossJoin(F.broadcast(tot)).select(
        ssb.alias("ssb"),
        sst.alias("sst"),
        f_stat.alias("f_stat"),
        F.when(sst != 0.0, ssb / sst).alias("eta_sq"),
    )
    return gt.crossJoin(F.broadcast(scal)).select(
        "modalidade_pagamento",
        "n",
        (F.col("_s").cast("double") / ng).alias("media"),
        "termo_entre",
        "ssb",
        "sst",
        "f_stat",
        "eta_sq",
    )


_AOV_S = exact._sql_s("valor_transacao")
_AOV_Q = exact._sql_sp("valor_transacao", "valor_transacao")

_AOV_CTES = f""",
aov_grp AS (
    SELECT modalidade_pagamento, CAST(COUNT(*) AS BIGINT) AS n,
           {_AOV_S} AS s, {_AOV_Q} AS q,
           CAST(SUM(CAST(ROUND(valor_transacao, 6) AS DECIMAL(28,6)))
               AS DECIMAL(28,6)) AS s_dec,
           CAST(SUM(CAST(ROUND(ROUND(valor_transacao, 6)
                               * ROUND(valor_transacao, 6), 6)
                         AS DECIMAL(28,6))) AS DECIMAL(28,6)) AS q_dec
    FROM approved GROUP BY 1
),
aov_tot AS (
    SELECT CAST(SUM(n) AS BIGINT) AS n_tot,
           CAST(SUM(s_dec) AS DOUBLE) AS s_tot,
           CAST(SUM(q_dec) AS DOUBLE) AS q_tot,
           CAST(COUNT(*) AS BIGINT) AS k
    FROM aov_grp
),
aov_gt AS (
    SELECT g.modalidade_pagamento, g.n, g.s, g.q,
           CAST(g.n AS DOUBLE)
           * (g.s / CAST(g.n AS DOUBLE) - t.s_tot / CAST(t.n_tot AS DOUBLE))
           * (g.s / CAST(g.n AS DOUBLE) - t.s_tot / CAST(t.n_tot AS DOUBLE))
               AS termo_entre
    FROM aov_grp g, aov_tot t
),
aov_fold AS (
    SELECT {_sql_fold('termo_entre', 'modalidade_pagamento')} AS ssb
    FROM aov_gt
),
aov_scal AS (
    SELECT f.ssb,
           t.q_tot - (t.s_tot * t.s_tot) / CAST(t.n_tot AS DOUBLE) AS sst,
           CASE WHEN t.k > 1 AND t.n_tot > t.k
                THEN CASE WHEN (t.q_tot - (t.s_tot * t.s_tot)
                                / CAST(t.n_tot AS DOUBLE)) - f.ssb <> 0.0
                     THEN (f.ssb / (CAST(t.k AS DOUBLE) - 1.0))
                          / (((t.q_tot - (t.s_tot * t.s_tot)
                               / CAST(t.n_tot AS DOUBLE)) - f.ssb)
                             / (CAST(t.n_tot AS DOUBLE)
                                - CAST(t.k AS DOUBLE)))
                     END
                END AS f_stat,
           CASE WHEN t.q_tot - (t.s_tot * t.s_tot)
                     / CAST(t.n_tot AS DOUBLE) <> 0.0
                THEN f.ssb / (t.q_tot - (t.s_tot * t.s_tot)
                              / CAST(t.n_tot AS DOUBLE))
                END AS eta_sq
    FROM aov_fold f, aov_tot t
)"""

ANOVA_SQL = _oracle_with(
    _AOV_CTES,
    """
SELECT g.modalidade_pagamento, g.n,
       g.s / CAST(g.n AS DOUBLE) AS media,
       g.termo_entre, s.ssb, s.sst, s.f_stat, s.eta_sq
FROM aov_gt g, aov_scal s""",
)


# --- causal adjustment: stratified standardization + IPW ATE ---------------

#: value strata edges for the causal adjustment (IEEE-exact compare
#: ladder — never a transcendental-derived key, per the Benford rule).
ATE_VALUE_EDGES = (50.0, 150.0, 300.0)


def _faixa_valor() -> "Column":
    v = F.col("valor_transacao")
    return (
        F.when(v < ATE_VALUE_EDGES[0], "baixo")
        .when(v < ATE_VALUE_EDGES[1], "medio")
        .when(v < ATE_VALUE_EDGES[2], "alto")
        .otherwise("muito_alto")
    )


_FAIXA_VALOR_SQL = f"""CASE
    WHEN valor_transacao < {ATE_VALUE_EDGES[0]} THEN 'baixo'
    WHEN valor_transacao < {ATE_VALUE_EDGES[1]} THEN 'medio'
    WHEN valor_transacao < {ATE_VALUE_EDGES[2]} THEN 'alto'
    ELSE 'muito_alto' END"""


def stratified_ate_balance_gate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Observational causal adjustment: the effect of the BALANCE gate
    (treatment T = saldo_aprovado) on passing the SCORE gate (outcome
    Y = score_aprovado), adjusted for the (modality x value-band)
    confounding strata — both gates are driven by transaction value, so
    the crude difference is confounded and the adjusted estimators are
    the meaningful ones. Two classical estimators from ONE stratified
    aggregate:

    - standardization (g-formula): ATE = sum_s P(s) * (E[Y|T=1,s] -
      E[Y|T=0,s]);
    - inverse-propensity weighting with the stratum propensity
      e_s = n1_s/n_s, which algebraically reduces to the same per-
      stratum means weighted by P(s) only through the Horvitz-Thompson
      form (1/N) sum_s (sy1_s/e_s - sy0_s/(1-e_s)).

    Strata violating positivity (no treated or no control units) are
    EXCLUDED from both sums and counted in `estratos_sem_posicao` — the
    honest version of the estimand (trimmed ATE). Per-stratum terms are
    exact integer ratios; the cross-stratum sums ride the deterministic
    sorted fold, so both ATEs are bit-identical cross-engine.

    Scale: ONE hash aggregate over the corpus onto <= |modalities| x 4
    strata, pinned once per session (memo.shared_frame); everything
    after is broadcast arithmetic on the tiny stratum table."""
    grp = memo.shared_frame(
        spark,
        sf_dir,
        "ate_strata",
        lambda: _approved(spark, sf_dir)
        .select(
            "modalidade_pagamento",
            _faixa_valor().alias("faixa_valor"),
            F.col("saldo_aprovado").cast("int").alias("t"),
            F.col("score_aprovado").cast("int").alias("y"),
        )
        .groupBy("modalidade_pagamento", "faixa_valor")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("t").cast("bigint").alias("n1"),
            F.sum(F.col("t") * F.col("y")).cast("bigint").alias("sy1"),
            F.sum((1 - F.col("t")) * F.col("y")).cast("bigint").alias("sy0"),
        )
        .withColumn("_chave", F.concat_ws("|", "modalidade_pagamento",
                                          "faixa_valor")),
    )
    tot = grp.agg(
        F.sum("n").cast("bigint").alias("_n_tot"),
        F.sum(
            F.when((F.col("n1") > 0) & (F.col("n1") < F.col("n")), 0)
            .otherwise(1)
        ).cast("bigint").alias("estratos_sem_posicao"),
    )
    ok = (F.col("n1") > 0) & (F.col("n1") < F.col("n"))
    nd = F.col("n").cast("double")
    n1d = F.col("n1").cast("double")
    n0d = (F.col("n") - F.col("n1")).cast("double")
    y1 = F.col("sy1").cast("double") / n1d
    y0 = F.col("sy0").cast("double") / n0d
    # weighted by the stratum share among POSITIVITY-OK strata
    gt = grp.withColumn(
        "_std_num", F.when(ok, nd * (y1 - y0)).otherwise(F.lit(0.0))
    ).withColumn(
        "_ipw_num",
        F.when(
            ok,
            F.col("sy1").cast("double") / (n1d / nd)
            - F.col("sy0").cast("double") / (n0d / nd),
        ).otherwise(F.lit(0.0)),
    ).withColumn("_n_ok", F.when(ok, F.col("n")).otherwise(F.lit(0)))
    nok = gt.agg(F.sum("_n_ok").cast("bigint").alias("_n_ok_tot"))
    f_std = _fold_terms(gt, "_chave", F.col("_std_num")).withColumnRenamed(
        "_fold", "_f_std"
    )
    f_ipw = _fold_terms(gt, "_chave", F.col("_ipw_num")).withColumnRenamed(
        "_fold", "_f_ipw"
    )
    scal = (
        f_std.crossJoin(F.broadcast(f_ipw))
        .crossJoin(F.broadcast(nok))
        .crossJoin(F.broadcast(tot))
        .select(
            # guard: with NO positivity-ok stratum the ATE is undefined
            # -> NULL in BOTH dialects (Spark ANSI throws on the /0)
            F.when(
                F.col("_n_ok_tot") > 0,
                F.col("_f_std") / F.col("_n_ok_tot").cast("double"),
            ).alias("ate_padronizacao"),
            F.when(
                F.col("_n_ok_tot") > 0,
                F.col("_f_ipw") / F.col("_n_ok_tot").cast("double"),
            ).alias("ate_ipw"),
            "estratos_sem_posicao",
        )
    )
    return grp.crossJoin(F.broadcast(scal)).select(
        "modalidade_pagamento",
        "faixa_valor",
        "n",
        "n1",
        F.when(F.col("n1") > 0, F.col("sy1").cast("double") / n1d)
        .otherwise(F.lit(None).cast("double"))
        .alias("y_media_tratados"),
        F.when(F.col("n") > F.col("n1"), F.col("sy0").cast("double") / n0d)
        .otherwise(F.lit(None).cast("double"))
        .alias("y_media_controles"),
        (n1d / nd).alias("propensao"),
        "ate_padronizacao",
        "ate_ipw",
        "estratos_sem_posicao",
    )


_ATE_CTES = f""",
ate_grp AS (
    SELECT modalidade_pagamento, {_FAIXA_VALOR_SQL} AS faixa_valor,
           modalidade_pagamento || '|' || ({_FAIXA_VALOR_SQL}) AS chave,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN saldo_aprovado THEN 1 ELSE 0 END) AS BIGINT)
               AS n1,
           CAST(SUM(CASE WHEN saldo_aprovado AND score_aprovado
                         THEN 1 ELSE 0 END) AS BIGINT) AS sy1,
           CAST(SUM(CASE WHEN (NOT saldo_aprovado) AND score_aprovado
                         THEN 1 ELSE 0 END) AS BIGINT) AS sy0
    FROM approved GROUP BY 1, 2
),
ate_gt AS (
    SELECT *,
           (n1 > 0 AND n1 < n) AS ok,
           CASE WHEN n1 > 0 AND n1 < n
                THEN CAST(n AS DOUBLE)
                     * (CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                        - CAST(sy0 AS DOUBLE) / CAST(n - n1 AS DOUBLE))
                ELSE 0.0 END AS std_num,
           CASE WHEN n1 > 0 AND n1 < n
                THEN CAST(sy1 AS DOUBLE)
                     / (CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
                     - CAST(sy0 AS DOUBLE)
                       / (CAST(n - n1 AS DOUBLE) / CAST(n AS DOUBLE))
                ELSE 0.0 END AS ipw_num
    FROM ate_grp
),
ate_scal AS (
    SELECT CASE WHEN SUM(CASE WHEN ok THEN n ELSE 0 END) > 0
                THEN {_sql_fold('std_num', 'chave')}
                     / CAST(SUM(CASE WHEN ok THEN n ELSE 0 END) AS DOUBLE)
                END AS ate_padronizacao,
           CASE WHEN SUM(CASE WHEN ok THEN n ELSE 0 END) > 0
                THEN {_sql_fold('ipw_num', 'chave')}
                     / CAST(SUM(CASE WHEN ok THEN n ELSE 0 END) AS DOUBLE)
                END AS ate_ipw,
           CAST(SUM(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT)
               AS estratos_sem_posicao
    FROM ate_gt
)"""

STRATIFIED_ATE_SQL = _oracle_with(
    _ATE_CTES,
    """
SELECT g.modalidade_pagamento, g.faixa_valor, g.n, g.n1,
       CASE WHEN g.n1 > 0
            THEN CAST(g.sy1 AS DOUBLE) / CAST(g.n1 AS DOUBLE) END
           AS y_media_tratados,
       CASE WHEN g.n > g.n1
            THEN CAST(g.sy0 AS DOUBLE) / CAST(g.n - g.n1 AS DOUBLE) END
           AS y_media_controles,
       CAST(g.n1 AS DOUBLE) / CAST(g.n AS DOUBLE) AS propensao,
       s.ate_padronizacao, s.ate_ipw, s.estratos_sem_posicao
FROM ate_grp g, ate_scal s""",
)


# --- two-proportion z-test + Wilson intervals ------------------------------

#: fixed normal quantile for the Wilson 95% interval (a CONSTANT, not a
#: computed transcendental — identical literal text in both dialects).
#: The SQL twin must CAST the literal: DuckDB parses a bare long float
#: literal through DECIMAL (CLAUDE.md), which would move the whole
#: ladder out of IEEE double arithmetic.
WILSON_Z = 1.959963984540054
_WZ = f"CAST({WILSON_Z!r} AS DOUBLE)"


def two_proportion_approval_test(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-proportion z-test: does the approval RATE differ between
    high-value (valor > ATE_VALUE_EDGES[1]) and low-value traffic? The
    pooled-variance z statistic plus a Wilson 95% score interval per
    group — the standard A/B-test readout. Every output is an exact
    integer ratio pushed through a fixed compare/multiply/divide/sqrt
    ladder (sqrt is IEEE-correctly-rounded), so all doubles are
    bit-identical cross-engine with no rounding. The group table is the
    shared pinned (grupo, approval) contingency kernel; the z scalar
    re-aggregates from its 2 rows."""
    grp = _approval_contingency(
        spark,
        sf_dir,
        grupo=F.when(
            F.col("valor_transacao") > ATE_VALUE_EDGES[1], "alto_valor"
        ).otherwise("baixo_valor"),
    ).select("grupo", "n", F.col("n_y").alias("aprovadas"))
    z = F.lit(WILSON_Z)
    nd = F.col("n").cast("double")
    p = F.col("aprovadas").cast("double") / nd
    denom = F.lit(1.0) + z * z / nd
    center = p + z * z / (F.lit(2.0) * nd)
    half = z * F.sqrt(
        p * (F.lit(1.0) - p) / nd
        + z * z / (F.lit(4.0) * nd * nd)
    )
    wide = grp.select(
        "grupo",
        "n",
        "aprovadas",
        p.alias("taxa"),
        ((center - half) / denom).alias("wilson_inf"),
        ((center + half) / denom).alias("wilson_sup"),
    )
    # pooled two-proportion z across the two rows (exact integer sums)
    agg = grp.agg(
        F.sum(F.when(F.col("grupo") == "alto_valor", F.col("aprovadas")))
        .cast("bigint").alias("_a1"),
        F.sum(F.when(F.col("grupo") == "alto_valor", F.col("n")))
        .cast("bigint").alias("_m1"),
        F.sum(F.when(F.col("grupo") == "baixo_valor", F.col("aprovadas")))
        .cast("bigint").alias("_a2"),
        F.sum(F.when(F.col("grupo") == "baixo_valor", F.col("n")))
        .cast("bigint").alias("_m2"),
    )
    a1 = F.col("_a1").cast("double")
    m1 = F.col("_m1").cast("double")
    a2 = F.col("_a2").cast("double")
    m2 = F.col("_m2").cast("double")
    pp = (a1 + a2) / (m1 + m2)
    # guard: a missing group or an all-approved/all-denied pool zeroes
    # the pooled variance -> NULL in BOTH dialects (Spark ANSI throws)
    zstat = F.when(
        (F.col("_m1") > 0)
        & (F.col("_m2") > 0)
        & (F.col("_a1") + F.col("_a2") > 0)
        & (F.col("_a1") + F.col("_a2") < F.col("_m1") + F.col("_m2")),
        (a1 / m1 - a2 / m2)
        / F.sqrt(
            pp * (F.lit(1.0) - pp) * (F.lit(1.0) / m1 + F.lit(1.0) / m2)
        ),
    )
    return wide.crossJoin(
        F.broadcast(agg.select(zstat.alias("z_duas_proporcoes")))
    )


_TPZ = f"""
SELECT CASE WHEN valor_transacao > {ATE_VALUE_EDGES[1]}
            THEN 'alto_valor' ELSE 'baixo_valor' END AS grupo,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN transacao_aprovada THEN 1 ELSE 0 END) AS BIGINT)
           AS aprovadas
FROM approved GROUP BY 1"""

TWO_PROPORTION_SQL = _oracle_with(
    f""",
tp_grp AS ({_TPZ}),
tp_z AS (
    SELECT CASE WHEN MAX(CASE WHEN grupo = 'alto_valor' THEN n END) > 0
                 AND MAX(CASE WHEN grupo = 'baixo_valor' THEN n END) > 0
                 AND SUM(aprovadas) > 0
                 AND SUM(aprovadas) < SUM(n)
           THEN ((CAST(MAX(CASE WHEN grupo = 'alto_valor' THEN aprovadas END)
                  AS DOUBLE)
             / CAST(MAX(CASE WHEN grupo = 'alto_valor' THEN n END)
                    AS DOUBLE))
            - (CAST(MAX(CASE WHEN grupo = 'baixo_valor' THEN aprovadas END)
                    AS DOUBLE)
               / CAST(MAX(CASE WHEN grupo = 'baixo_valor' THEN n END)
                      AS DOUBLE)))
           / SQRT(
               (CAST(SUM(aprovadas) AS DOUBLE) / CAST(SUM(n) AS DOUBLE))
               * (1.0 - CAST(SUM(aprovadas) AS DOUBLE)
                        / CAST(SUM(n) AS DOUBLE))
               * (1.0 / CAST(MAX(CASE WHEN grupo = 'alto_valor'
                                      THEN n END) AS DOUBLE)
                  + 1.0 / CAST(MAX(CASE WHEN grupo = 'baixo_valor'
                                        THEN n END) AS DOUBLE)))
           END AS z_duas_proporcoes
    FROM tp_grp
)""",
    f"""
SELECT g.grupo, g.n, g.aprovadas,
       CAST(g.aprovadas AS DOUBLE) / CAST(g.n AS DOUBLE) AS taxa,
       ((CAST(g.aprovadas AS DOUBLE) / CAST(g.n AS DOUBLE)
         + {_WZ} * {_WZ} / (2.0 * CAST(g.n AS DOUBLE)))
        - {_WZ} * SQRT(
            (CAST(g.aprovadas AS DOUBLE) / CAST(g.n AS DOUBLE))
            * (1.0 - CAST(g.aprovadas AS DOUBLE) / CAST(g.n AS DOUBLE))
            / CAST(g.n AS DOUBLE)
            + {_WZ} * {_WZ}
              / (4.0 * CAST(g.n AS DOUBLE) * CAST(g.n AS DOUBLE))))
       / (1.0 + {_WZ} * {_WZ} / CAST(g.n AS DOUBLE))
           AS wilson_inf,
       ((CAST(g.aprovadas AS DOUBLE) / CAST(g.n AS DOUBLE)
         + {_WZ} * {_WZ} / (2.0 * CAST(g.n AS DOUBLE)))
        + {_WZ} * SQRT(
            (CAST(g.aprovadas AS DOUBLE) / CAST(g.n AS DOUBLE))
            * (1.0 - CAST(g.aprovadas AS DOUBLE) / CAST(g.n AS DOUBLE))
            / CAST(g.n AS DOUBLE)
            + {_WZ} * {_WZ}
              / (4.0 * CAST(g.n AS DOUBLE) * CAST(g.n AS DOUBLE))))
       / (1.0 + {_WZ} * {_WZ} / CAST(g.n AS DOUBLE))
           AS wilson_sup,
       z.z_duas_proporcoes
FROM tp_grp g, tp_z z""",
)


# --- UCB1 bandit ranking of modalities -------------------------------------


def ucb1_modality_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UCB1 upper-confidence-bound ranking of payment modalities by
    approval reward — the exploration/exploitation readout a routing
    policy consumes (which modality to steer marginal traffic toward):
    ucb = mean_reward + sqrt(2 ln N / n_arm).

    Determinism: mean is an exact integer ratio; the transcendental
    ln(N) is computed once, ROUND(.,6)-pinned, and COMPOSED into the
    bonus (sqrt is IEEE-correctly-rounded on the identical operand), so
    `ucb_score` is bit-identical cross-engine without a final rounding.
    The arm table is the pinned (modality) entry of the contingency
    kernel; N is its table total."""
    grp = _approval_contingency(
        spark, sf_dir, modalidade_pagamento=F.col("modalidade_pagamento")
    ).select(
        "modalidade_pagamento",
        F.col("n").alias("n_puxadas"),
        F.col("n_y").alias("recompensas"),
        F.round(F.log(F.col("n_total").cast("double")), 6).alias("_ln_n"),
    )
    nd = F.col("n_puxadas").cast("double")
    mean = F.col("recompensas").cast("double") / nd
    bonus = F.sqrt(F.lit(2.0) * F.col("_ln_n") / nd)
    return grp.select(
        "modalidade_pagamento",
        "n_puxadas",
        "recompensas",
        mean.alias("recompensa_media"),
        bonus.alias("bonus_exploracao"),
        (mean + bonus).alias("ucb_score"),
    )


UCB1_SQL = _oracle_with(
    """,
ucb_grp AS (
    SELECT modalidade_pagamento,
           CAST(COUNT(*) AS BIGINT) AS n_puxadas,
           CAST(SUM(CASE WHEN transacao_aprovada THEN 1 ELSE 0 END)
                AS BIGINT) AS recompensas
    FROM approved GROUP BY 1
),
ucb_tot AS (
    SELECT ROUND(LN(CAST(SUM(n_puxadas) AS DOUBLE)), 6) AS ln_n
    FROM ucb_grp
)""",
    """
SELECT g.modalidade_pagamento, g.n_puxadas, g.recompensas,
       CAST(g.recompensas AS DOUBLE) / CAST(g.n_puxadas AS DOUBLE)
           AS recompensa_media,
       SQRT(2.0 * t.ln_n / CAST(g.n_puxadas AS DOUBLE))
           AS bonus_exploracao,
       CAST(g.recompensas AS DOUBLE) / CAST(g.n_puxadas AS DOUBLE)
       + SQRT(2.0 * t.ln_n / CAST(g.n_puxadas AS DOUBLE)) AS ucb_score
FROM ucb_grp g, ucb_tot t""",
)


# --- exact class-rebalanced downsampling -----------------------------------


def class_rebalance_downsample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact majority-class downsampling for a balanced training set:
    every approval class keeps exactly m = min(class size) rows, chosen
    deterministically by the portable-LCG order over transaction ids —
    partition-independent, reproducible in both engines, and unbiased
    w.r.t. any feature (the hash is independent of the row content).

    The per-class "first m in hash order" selection is an order
    statistic over FEW HUGE groups — exactly the grouped distributed-
    ranking form (operators/ranking, sampled boundaries + bucketed
    windows + exact offsets; the max_groups guard is plan-enforced), so
    no task ever sorts a whole class. Output: the kept-set composition
    per (class, modality) plus the before/after class sizes — the audit
    a training job logs before fitting."""
    # Narrow to the consumed columns and pin the ranked rows ONCE: the
    # `m` branch and the `kept` branch below both reference `ranked`,
    # and Catalyst's exchange reuse misses because each branch pushes a
    # different projection into the window subtree — un-pinned, the
    # bucket window executed twice (round-14; guide §2.4 / §3.3
    # "materialising an intermediate truncates the plan").
    # Session-memoized: the grouped ranking
    # pass's build-time budget jobs run once per (session, sf).
    def _build_ranked() -> DataFrame:
        ap = _approved(spark, sf_dir).select(
            "id_transacao",
            "modalidade_pagamento",
            F.col("transacao_aprovada").alias("classe"),
        )
        h = portable.lcg_hash(F.col("id_transacao")).alias("_h")
        keyed = ap.withColumn("_h", h)
        return ranking.with_global_row_number(
            keyed,
            "_h",
            "id_transacao",
            out="_rk",
            group_cols=["classe"],
            nulls="reject",
        ).select("classe", "modalidade_pagamento", "_rk", "_rank_n_total")

    ranked = memo.shared_frame(spark, sf_dir, "rebalance_ranked",
                               _build_ranked)
    # class sizes come from the ranking pass itself: the grouped form's
    # _rank_n_total IS the exact per-class count, so deriving m from
    # `ranked` (bit-identical bigints) saves a second full _approved
    # derivation + aggregate that the old shape paid just to count
    # classes (round-14; guide §2.4 — don't recompute what a pass
    # already produced).
    m = ranked.groupBy("classe").agg(
        F.max("_rank_n_total").alias("_nc")
    )
    m_min = m.agg(F.min("_nc").alias("_m"))
    kept = ranked.crossJoin(F.broadcast(m_min)).filter(
        F.col("_rk") <= F.col("_m")
    )
    return (
        kept.groupBy("classe", "modalidade_pagamento")
        .agg(F.count("*").cast("bigint").alias("n_mantidas"))
        .join(F.broadcast(m), "classe")
        .crossJoin(F.broadcast(m_min))
        .select(
            "classe",
            "modalidade_pagamento",
            F.col("_nc").alias("n_antes_classe"),
            F.col("_m").alias("n_depois_classe"),
            "n_mantidas",
        )
    )


_REB_CTES = f""",
reb_base AS (
    SELECT id_transacao, modalidade_pagamento,
           transacao_aprovada AS classe,
           {portable.lcg_hash_sql('id_transacao')} AS h
    FROM approved
),
reb_m AS (
    SELECT classe, CAST(COUNT(*) AS BIGINT) AS nc
    FROM reb_base GROUP BY 1
),
reb_min AS (SELECT CAST(MIN(nc) AS BIGINT) AS m FROM reb_m),
reb_kept AS (
    SELECT classe, modalidade_pagamento
    FROM (
        SELECT classe, modalidade_pagamento,
               ROW_NUMBER() OVER (PARTITION BY classe
                                  ORDER BY h ASC, id_transacao ASC) AS rk
        FROM reb_base
    ), reb_min
    WHERE rk <= m
)"""

CLASS_REBALANCE_SQL = _oracle_with(
    _REB_CTES,
    """
SELECT k.classe, k.modalidade_pagamento,
       m.nc AS n_antes_classe, mn.m AS n_depois_classe,
       CAST(COUNT(*) AS BIGINT) AS n_mantidas
FROM reb_kept k JOIN reb_m m USING (classe), reb_min mn
GROUP BY 1, 2, 3, 4""",
)


# --- Cramer's V association strength ---------------------------------------


def cramers_v_modality_approval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cramer's V (plus the Bergsma bias-corrected variant) for the
    modality x approval contingency table — the bounded [0,1] effect
    size the chi-squared cell screen doesn't give. The chi2 TOTAL is a
    cross-cell sum of double terms, so it rides the deterministic
    sorted fold (cell key = modality|outcome) — the same pattern that
    unlocked ANOVA's SSB; cells and margins come from the shared pinned
    (modality, approval) contingency kernel, never a corpus scan."""
    cells = _modality_approval_cells(spark, sf_dir)
    total = cells.agg(
        F.sum("n_celula").cast("bigint").alias("n_total"),
        # distinct counts as set sizes: two count_distinct calls plan an
        # Expand whose group order follows fresh expression ids, so each
        # rebuild could generate (and compile) its code anew
        F.size(F.collect_set("modalidade_pagamento")).cast("bigint").alias("r"),
        F.size(F.collect_set("transacao_aprovada")).cast("bigint").alias("c"),
    )
    joined = (
        cells.withColumn(
            "_esp",
            F.col("n_modalidade").cast("double")
            * F.col("n_resultado").cast("double")
            / F.col("n_total").cast("double"),
        )
        .withColumn(
            "_chave",
            F.concat_ws(
                "|",
                F.col("modalidade_pagamento"),
                F.col("transacao_aprovada").cast("string"),
            ),
        )
        .withColumn(
            "_term",
            (F.col("n_celula").cast("double") - F.col("_esp"))
            * (F.col("n_celula").cast("double") - F.col("_esp"))
            / F.col("_esp"),
        )
    )
    chi2 = _fold_terms(joined, "_chave", F.col("_term"))
    nd = F.col("n_total").cast("double")
    rd = F.col("r").cast("double")
    cd = F.col("c").cast("double")
    q = F.col("_fold")
    phi2 = q / nd
    phi2c = F.greatest(
        F.lit(0.0), phi2 - (rd - 1) * (cd - 1) / (nd - 1)
    )
    rc = rd - (rd - 1) * (rd - 1) / (nd - 1)
    cc = cd - (cd - 1) * (cd - 1) / (nd - 1)
    # degenerate guards (1x1 table or n=1): V undefined -> NULL in BOTH
    # dialects (Spark ANSI throws on the /0, DuckDB would emit NaN)
    return chi2.crossJoin(F.broadcast(total)).select(
        "n_total",
        "r",
        "c",
        q.alias("qui2"),
        F.when(
            (F.col("r") > 1) & (F.col("c") > 1),
            F.sqrt(phi2 / F.least(rd - 1, cd - 1)),
        ).alias("v_cramer"),
        F.when(
            (F.col("r") > 1) & (F.col("c") > 1) & (F.col("n_total") > 1),
            F.when(
                F.least(rc - 1, cc - 1) > 0.0,
                F.sqrt(phi2c / F.least(rc - 1, cc - 1)),
            ),
        ).alias("v_corrigido"),
    )


_CRAMER_CTES = MODALITY_APPROVAL_CELLS_CTE + f""",
cv_tot AS (
    SELECT CAST(MAX(n_total) AS BIGINT) AS n_total,
           CAST(COUNT(DISTINCT modalidade_pagamento) AS BIGINT) AS r,
           CAST(COUNT(DISTINCT transacao_aprovada) AS BIGINT) AS c
    FROM ma_cells
),
cv_chi AS (
    SELECT {_sql_fold(
        '(CAST(n_celula AS DOUBLE)'
        ' - CAST(n_modalidade AS DOUBLE) * CAST(n_resultado AS DOUBLE)'
        '   / CAST(n_total AS DOUBLE))'
        ' * (CAST(n_celula AS DOUBLE)'
        '    - CAST(n_modalidade AS DOUBLE) * CAST(n_resultado AS DOUBLE)'
        '      / CAST(n_total AS DOUBLE))'
        ' / (CAST(n_modalidade AS DOUBLE) * CAST(n_resultado AS DOUBLE)'
        '    / CAST(n_total AS DOUBLE))',
        'chave')} AS qui2
    FROM ma_cells
)"""

CRAMERS_V_SQL = _oracle_with(
    _CRAMER_CTES,
    """
SELECT t.n_total, t.r, t.c, x.qui2,
       CASE WHEN t.r > 1 AND t.c > 1
            THEN SQRT((x.qui2 / CAST(t.n_total AS DOUBLE))
                      / LEAST(CAST(t.r AS DOUBLE) - 1,
                              CAST(t.c AS DOUBLE) - 1))
            END AS v_cramer,
       CASE WHEN t.r > 1 AND t.c > 1 AND t.n_total > 1
            THEN CASE WHEN LEAST(
                     CAST(t.r AS DOUBLE)
                     - (CAST(t.r AS DOUBLE) - 1) * (CAST(t.r AS DOUBLE) - 1)
                       / (CAST(t.n_total AS DOUBLE) - 1) - 1,
                     CAST(t.c AS DOUBLE)
                     - (CAST(t.c AS DOUBLE) - 1) * (CAST(t.c AS DOUBLE) - 1)
                       / (CAST(t.n_total AS DOUBLE) - 1) - 1) > 0.0
                 THEN SQRT(GREATEST(0.0,
                        x.qui2 / CAST(t.n_total AS DOUBLE)
                        - (CAST(t.r AS DOUBLE) - 1)
                          * (CAST(t.c AS DOUBLE) - 1)
                          / (CAST(t.n_total AS DOUBLE) - 1))
                      / LEAST(CAST(t.r AS DOUBLE)
                              - (CAST(t.r AS DOUBLE) - 1)
                                * (CAST(t.r AS DOUBLE) - 1)
                                / (CAST(t.n_total AS DOUBLE) - 1) - 1,
                              CAST(t.c AS DOUBLE)
                              - (CAST(t.c AS DOUBLE) - 1)
                                * (CAST(t.c AS DOUBLE) - 1)
                                / (CAST(t.n_total AS DOUBLE) - 1) - 1))
                 END
            END AS v_corrigido
FROM cv_chi x, cv_tot t""",
)


# --- Brown-Forsythe variance homogeneity -----------------------------------


def brown_forsythe_value_by_modality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Brown-Forsythe test — do transaction-value VARIANCES differ
    across modalities? (The robust Levene variant: a one-way ANOVA on
    the absolute deviations z = |x - median_g|, whose F is far less
    fragile to heavy tails than variance ratios.) The ANOVA above
    compares means; this is its spread companion.

    Per-group EXACT medians come from the grouped distributed-ranking
    form (sampled boundaries + bucketed windows — no task sorts a whole
    modality; the middle one/two order statistics are picked by exact
    rank and averaged, commutative so order-safe). The deviations then
    ride the standard exact-decimal ANOVA ladder with the deterministic
    cross-group fold. Two corpus passes by construction (medians, then
    deviations) — the honest cost of an exact median-based statistic.

    Outputs one row per modality (n, median, mean |deviation|) with the
    F statistic broadcast onto every row."""
    from banking_streaming_etl_spark.plans.dashboard import (
        _modality_value_ranked,
    )

    # session-shared grouped value ranking (same order statistics the
    # exact-percentile query reads — materialized once); the enrichment
    # joins are row-preserving LEFT joins, so the (modality, value, id)
    # triples of the scored frame and the raw transactions frame are
    # identical.
    ranked = _modality_value_ranked(spark, sf_dir).withColumnRenamed(
        "modalidade", "modalidade_pagamento"
    )
    med = (
        ranked.filter(
            (F.col("r") == F.expr("(_rank_n_total + 1) div 2"))
            | (F.col("r") == F.expr("(_rank_n_total + 2) div 2"))
        )
        .groupBy("modalidade_pagamento")
        .agg((F.sum("v") / F.count("*").cast("double")).alias("mediana"))
    )
    dev = (
        ranked.select("modalidade_pagamento", "v")
        .join(F.broadcast(med), "modalidade_pagamento")
        .select(
            "modalidade_pagamento",
            F.abs(F.col("v") - F.col("mediana")).alias("_z"),
            "mediana",
        )
    )
    grp = (
        dev.groupBy("modalidade_pagamento")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.max("mediana").alias("mediana"),
            F.sum(exact._d("_z")).alias("_s"),
            F.sum(exact._d(F.round("_z", 6) * F.round("_z", 6))).alias("_q"),
        )
        .persist()
    )
    tot = grp.agg(
        F.sum("n").cast("bigint").alias("_n_tot"),
        F.sum("_s").alias("_s_tot"),
        F.sum("_q").alias("_q_tot"),
        F.count("*").cast("bigint").alias("_k"),
    )
    ndt = F.col("_n_tot").cast("double")
    ng = F.col("n").cast("double")
    gt = grp.crossJoin(
        F.broadcast(
            tot.select(
                (F.col("_s_tot").cast("double") / ndt).alias("_gmean"),
                "_n_tot",
                "_s_tot",
                "_q_tot",
                "_k",
            )
        )
    ).withColumn(
        "_entre",
        ng
        * (F.col("_s").cast("double") / ng - F.col("_gmean"))
        * (F.col("_s").cast("double") / ng - F.col("_gmean")),
    )
    folded = _fold_terms(gt, "modalidade_pagamento", F.col("_entre"))
    ssb = F.col("_fold")
    sst = F.col("_q_tot").cast("double") - (
        F.col("_s_tot").cast("double") * F.col("_s_tot").cast("double")
    ) / ndt
    kd = F.col("_k").cast("double")
    # degenerate guards (one group / all-singleton groups / zero
    # within-SS): NULL in BOTH dialects (the ANOVA convention)
    fstat = F.when(
        (F.col("_k") > 1) & (F.col("_n_tot") > F.col("_k")),
        F.when(
            sst - ssb != 0.0,
            (ssb / (kd - F.lit(1.0))) / ((sst - ssb) / (ndt - kd)),
        ),
    )
    scal = folded.crossJoin(F.broadcast(tot)).select(
        fstat.alias("f_brown_forsythe")
    )
    return gt.crossJoin(F.broadcast(scal)).select(
        "modalidade_pagamento",
        "n",
        "mediana",
        (F.col("_s").cast("double") / ng).alias("desvio_abs_medio"),
        "f_brown_forsythe",
    )


_BF_S = exact._sql_s("z")
_BF_Q = exact._sql_sp("z", "z")

_BF_CTES = f""",
bf_rank AS (
    SELECT modalidade_pagamento, valor_transacao,
           ROW_NUMBER() OVER (PARTITION BY modalidade_pagamento
                              ORDER BY valor_transacao ASC,
                                       id_transacao ASC) AS rk,
           COUNT(*) OVER (PARTITION BY modalidade_pagamento) AS nn
    FROM approved
),
bf_med AS (
    SELECT modalidade_pagamento,
           SUM(valor_transacao) / CAST(COUNT(*) AS DOUBLE) AS mediana
    FROM bf_rank
    WHERE rk = (nn + 1) // 2 OR rk = (nn + 2) // 2
    GROUP BY 1
),
bf_dev AS (
    SELECT a.modalidade_pagamento,
           ABS(a.valor_transacao - m.mediana) AS z, m.mediana
    FROM approved a JOIN bf_med m USING (modalidade_pagamento)
),
bf_grp AS (
    SELECT modalidade_pagamento, CAST(COUNT(*) AS BIGINT) AS n,
           MAX(mediana) AS mediana,
           {_BF_S} AS s, {_BF_Q} AS q,
           CAST(SUM(CAST(ROUND(z, 6) AS DECIMAL(28,6)))
               AS DECIMAL(28,6)) AS s_dec,
           CAST(SUM(CAST(ROUND(ROUND(z, 6) * ROUND(z, 6), 6)
                         AS DECIMAL(28,6))) AS DECIMAL(28,6)) AS q_dec
    FROM bf_dev GROUP BY 1
),
bf_tot AS (
    SELECT CAST(SUM(n) AS BIGINT) AS n_tot,
           CAST(SUM(s_dec) AS DOUBLE) AS s_tot,
           CAST(SUM(q_dec) AS DOUBLE) AS q_tot,
           CAST(COUNT(*) AS BIGINT) AS k
    FROM bf_grp
),
bf_gt AS (
    SELECT g.modalidade_pagamento, g.n, g.mediana, g.s,
           CAST(g.n AS DOUBLE)
           * (g.s / CAST(g.n AS DOUBLE) - t.s_tot / CAST(t.n_tot AS DOUBLE))
           * (g.s / CAST(g.n AS DOUBLE) - t.s_tot / CAST(t.n_tot AS DOUBLE))
               AS entre
    FROM bf_grp g, bf_tot t
),
bf_scal AS (
    SELECT CASE WHEN t.k > 1 AND t.n_tot > t.k
                THEN CASE WHEN (t.q_tot - (t.s_tot * t.s_tot)
                                / CAST(t.n_tot AS DOUBLE))
                               - {_sql_fold('entre', 'modalidade_pagamento')}
                               <> 0.0
                     THEN ({_sql_fold('entre', 'modalidade_pagamento')}
                           / (CAST(t.k AS DOUBLE) - 1.0))
                          / (((t.q_tot - (t.s_tot * t.s_tot)
                               / CAST(t.n_tot AS DOUBLE))
                              - {_sql_fold('entre', 'modalidade_pagamento')})
                             / (CAST(t.n_tot AS DOUBLE)
                                - CAST(t.k AS DOUBLE)))
                     END
                END AS f_brown_forsythe
    FROM bf_gt, bf_tot t
    GROUP BY t.q_tot, t.s_tot, t.n_tot, t.k
)"""

BROWN_FORSYTHE_SQL = _oracle_with(
    _BF_CTES,
    """
SELECT g.modalidade_pagamento, g.n, g.mediana,
       g.s / CAST(g.n AS DOUBLE) AS desvio_abs_medio,
       s.f_brown_forsythe
FROM bf_gt g, bf_scal s""",
)


# --- CUSUM drift detection over the hourly approval-rate series ------------

#: slack (rate units, an exact rational 2/100) and decision threshold
#: (count units) of the two-sided CUSUM.
CUSUM_SLACK_PCT = 2
CUSUM_H_COUNTS = 5.0


def cusum_hourly_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM change-point monitor over the hourly approval
    rate — the classical sequential drift detector (Page 1954): an
    upward alarm when the cumulative excess of approvals over the
    global rate + slack exceeds H, downward symmetrically. The
    recursive form g_t = max(0, g_{t-1} + x_t - k) is not
    prefix-expressible, but the closed form g_t = S_t - min_{u<=t} S_u
    is — one prefix sum and one running min over the HOURLY series.

    Exactness: everything stays in INTEGER count units scaled by 100*N
    (slack 2% is the rational 2/100, the global rate is A/N), so S_t
    and both CUSUMs are exact DECIMAL integers; the reported count-unit
    CUSUMs are exact-integer ratios — no rounding, no transcendental.
    The ordered windows run over the <= |hours| aggregated series (the
    seasonal_decompose / gapfill boundedness class, whitelisted with
    that argument); the series is the pinned (hora) entry of the
    contingency kernel."""
    hourly = _approval_contingency(
        spark, sf_dir, hora=F.date_trunc("hour", "data_horario")
    ).select("hora", "n", F.col("n_y").alias("aprovadas"))
    return cusum_from_hourly(hourly)


def cusum_from_hourly(hourly: DataFrame) -> DataFrame:
    """The CUSUM closed form over an (hora, n, aprovadas) frame — shared
    by the batch query above and the streaming monitor
    (`streaming/windows.streaming_hourly_approvals` maintains the same
    bounded hourly state; this function is its on-read evaluation, so
    stream and batch CUSUMs are bit-identical by construction)."""
    from pyspark.sql import Window as W

    tot = hourly.agg(
        F.sum("n").cast("bigint").alias("_n_tot"),
        F.sum("aprovadas").cast("bigint").alias("_a_tot"),
    )
    dec0 = "decimal(38,0)"
    # scaled hourly excess: 100*N*aprov_t - (100*A + slack*N)*n_t  (up)
    #                       100*N*aprov_t - (100*A - slack*N)*n_t  (down)
    j = hourly.crossJoin(F.broadcast(tot))
    up = (
        F.lit(100).cast(dec0) * F.col("_n_tot") * F.col("aprovadas")
        - (
            F.lit(100).cast(dec0) * F.col("_a_tot")
            + F.lit(CUSUM_SLACK_PCT) * F.col("_n_tot")
        )
        * F.col("n")
    )
    dn = (
        F.lit(100).cast(dec0) * F.col("_n_tot") * F.col("aprovadas")
        - (
            F.lit(100).cast(dec0) * F.col("_a_tot")
            - F.lit(CUSUM_SLACK_PCT) * F.col("_n_tot")
        )
        * F.col("n")
    )
    w = W.orderBy("hora").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = (
        j.withColumn("_su", F.sum(up.cast(dec0)).over(w))
        .withColumn("_sd", F.sum(dn.cast(dec0)).over(w))
        # the prefix min/max must include the EMPTY prefix S_0 = 0 —
        # without it the first excursion above zero is silently absorbed
        .withColumn(
            "_mu",
            F.least(F.lit(0).cast(dec0), F.min(F.col("_su")).over(w)),
        )
        .withColumn(
            "_md",
            F.greatest(F.lit(0).cast(dec0), F.max(F.col("_sd")).over(w)),
        )
    )
    scale = F.lit(100.0) * F.col("_n_tot").cast("double")
    gpos = (F.col("_su") - F.col("_mu")).cast("double") / scale
    gneg = (F.col("_md") - F.col("_sd")).cast("double") / scale
    return cum.select(
        "hora",
        "n",
        "aprovadas",
        (F.col("aprovadas").cast("double") / F.col("n").cast("double"))
        .alias("taxa"),
        gpos.alias("cusum_pos"),
        gneg.alias("cusum_neg"),
        (gpos > F.lit(CUSUM_H_COUNTS)).alias("alarme_alta"),
        (gneg > F.lit(CUSUM_H_COUNTS)).alias("alarme_baixa"),
    )


_CUSUM_CTES = f""",
cu_hourly AS (
    SELECT CAST(date_trunc('hour', data_horario) AS TIMESTAMP) AS hora,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN transacao_aprovada THEN 1 ELSE 0 END)
                AS BIGINT) AS aprovadas
    FROM approved GROUP BY 1
),
cu_tot AS (
    SELECT CAST(SUM(n) AS BIGINT) AS n_tot,
           CAST(SUM(aprovadas) AS BIGINT) AS a_tot
    FROM cu_hourly
),
cu_cum AS (
    SELECT h.*, t.n_tot,
           SUM(CAST(CAST(100 AS DECIMAL(38,0)) * t.n_tot * h.aprovadas
                    - (CAST(100 AS DECIMAL(38,0)) * t.a_tot
                       + {CUSUM_SLACK_PCT} * t.n_tot) * h.n
                    AS DECIMAL(38,0)))
               OVER (ORDER BY h.hora ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS su,
           SUM(CAST(CAST(100 AS DECIMAL(38,0)) * t.n_tot * h.aprovadas
                    - (CAST(100 AS DECIMAL(38,0)) * t.a_tot
                       - {CUSUM_SLACK_PCT} * t.n_tot) * h.n
                    AS DECIMAL(38,0)))
               OVER (ORDER BY h.hora ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sd
    FROM cu_hourly h, cu_tot t
),
cu_mm AS (
    SELECT *,
           LEAST(CAST(0 AS DECIMAL(38,0)),
                 MIN(su) OVER (ORDER BY hora ASC
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW)) AS mu,
           GREATEST(CAST(0 AS DECIMAL(38,0)),
                    MAX(sd) OVER (ORDER BY hora ASC
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW)) AS md
    FROM cu_cum
)"""

CUSUM_SQL = _oracle_with(
    _CUSUM_CTES,
    f"""
SELECT hora, n, aprovadas,
       CAST(aprovadas AS DOUBLE) / CAST(n AS DOUBLE) AS taxa,
       CAST(su - mu AS DOUBLE) / (100.0 * CAST(n_tot AS DOUBLE))
           AS cusum_pos,
       CAST(md - sd AS DOUBLE) / (100.0 * CAST(n_tot AS DOUBLE))
           AS cusum_neg,
       (CAST(su - mu AS DOUBLE) / (100.0 * CAST(n_tot AS DOUBLE))
        > {CUSUM_H_COUNTS!r}) AS alarme_alta,
       (CAST(md - sd AS DOUBLE) / (100.0 * CAST(n_tot AS DOUBLE))
        > {CUSUM_H_COUNTS!r}) AS alarme_baixa
FROM cu_mm""",
)


# --- Cochran-Armitage trend test across ordered value bands ----------------

#: ordered integer scores of the four value bands of `_faixa_valor`.
CA_WEIGHTS = {"baixo": 0, "medio": 1, "alto": 2, "muito_alto": 3}


def cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage test for a LINEAR TREND in the approval rate
    across the ordered value bands (scores w = 0..3) — the standard
    dose-response test, strictly sharper than the omnibus chi-squared
    when the alternative is monotone (Armitage 1955).

    With per-band totals n_i, approvals a_i, A = sum a, N = sum n,
    S1 = sum w n, S2 = sum w^2 n, the statistic is

        T  = sum w_i (a_i - n_i A/N)        = TN / N,
        TN = N sum(w a) - A S1              (an exact DECIMAL integer),
        Var(T) = (A/N)(1-A/N)(S2 - S1^2/N),
        z  = TN / sqrt(A (N-A) (N S2 - S1^2) / N).

    Every double is an exact-integer cast pushed through an identical
    multiply/divide/sqrt ladder in both dialects — bit-identical, no
    rounding. Scale: the 4 band rows are the pinned (faixa_valor) entry
    of the contingency kernel; the z scalar re-aggregates them (never a
    second scan)."""
    grp = _approval_contingency(
        spark, sf_dir, faixa_valor=_faixa_valor()
    ).select("faixa_valor", "n", F.col("n_y").alias("aprovadas"))
    w = (
        F.when(F.col("faixa_valor") == "baixo", 0)
        .when(F.col("faixa_valor") == "medio", 1)
        .when(F.col("faixa_valor") == "alto", 2)
        .otherwise(3)
        .cast("bigint")
    )
    dec0 = "decimal(38,0)"
    agg = grp.agg(
        F.sum("aprovadas").cast(dec0).alias("_a"),
        F.sum("n").cast(dec0).alias("_n"),
        F.sum(w * F.col("n")).cast(dec0).alias("_s1"),
        F.sum(w * w * F.col("n")).cast(dec0).alias("_s2"),
        F.sum(w * F.col("aprovadas")).cast(dec0).alias("_swa"),
    )
    tn = F.col("_n") * F.col("_swa") - F.col("_a") * F.col("_s1")
    var_num = (
        F.col("_n") * F.col("_s2") - F.col("_s1") * F.col("_s1")
    ).cast("double")
    # degenerate guards (all/none approved, or a single weight level):
    # the trend variance is 0 -> NULL in BOTH dialects
    z = F.when(
        (F.col("_a") > 0)
        & (F.col("_a") < F.col("_n"))
        & (var_num > 0.0),
        tn.cast("double")
        / F.sqrt(
            F.col("_a").cast("double")
            * (F.col("_n") - F.col("_a")).cast("double")
            * var_num
            / F.col("_n").cast("double")
        ),
    )
    scal = agg.select(z.alias("z_tendencia"))
    return grp.crossJoin(F.broadcast(scal)).select(
        "faixa_valor",
        w.alias("peso"),
        "n",
        "aprovadas",
        (F.col("aprovadas").cast("double") / F.col("n").cast("double"))
        .alias("taxa"),
        "z_tendencia",
    )


_CA_W_SQL = """CASE faixa_valor WHEN 'baixo' THEN 0 WHEN 'medio' THEN 1
               WHEN 'alto' THEN 2 ELSE 3 END"""

_CA_CTES = f""",
ca_grp AS (
    SELECT {_FAIXA_VALOR_SQL} AS faixa_valor,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN transacao_aprovada THEN 1 ELSE 0 END)
                AS BIGINT) AS aprovadas
    FROM approved GROUP BY 1
),
ca_scal AS (
    SELECT CASE WHEN SUM(aprovadas) > 0 AND SUM(aprovadas) < SUM(n)
                 AND CAST(CAST(SUM(n) AS DECIMAL(38,0))
                            * SUM(({_CA_W_SQL}) * ({_CA_W_SQL}) * n)
                          - CAST(SUM(({_CA_W_SQL}) * n) AS DECIMAL(38,0))
                            * SUM(({_CA_W_SQL}) * n)
                          AS DOUBLE) > 0.0
           THEN CAST(
             CAST(SUM(n) AS DECIMAL(38,0))
               * SUM(({_CA_W_SQL}) * aprovadas)
             - CAST(SUM(aprovadas) AS DECIMAL(38,0))
               * SUM(({_CA_W_SQL}) * n)
             AS DOUBLE)
           / SQRT(
               CAST(SUM(aprovadas) AS DOUBLE)
               * CAST(SUM(n) - SUM(aprovadas) AS DOUBLE)
               * CAST(CAST(SUM(n) AS DECIMAL(38,0))
                        * SUM(({_CA_W_SQL}) * ({_CA_W_SQL}) * n)
                      - CAST(SUM(({_CA_W_SQL}) * n) AS DECIMAL(38,0))
                        * SUM(({_CA_W_SQL}) * n)
                      AS DOUBLE)
               / CAST(SUM(n) AS DOUBLE))
           END AS z_tendencia
    FROM ca_grp
)"""

COCHRAN_ARMITAGE_SQL = _oracle_with(
    _CA_CTES,
    f"""
SELECT g.faixa_valor, CAST({_CA_W_SQL} AS BIGINT) AS peso, g.n, g.aprovadas,
       CAST(g.aprovadas AS DOUBLE) / CAST(g.n AS DOUBLE) AS taxa,
       s.z_tendencia
FROM ca_grp g, ca_scal s""",
)


# --- per-modality OLS trend of the hourly approval series ------------------


def ols_hourly_trend_by_modality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-modality least-squares TREND of the hourly approved-count
    series — slope/intercept/R^2 of a_t ~ x_t where a_t is the hour's
    approved count and x_t the hour index (epoch hours, centered on the
    global minimum so products stay small). The drift screen a feature
    store runs per segment before trusting a rolling feature.

    Exactness: y is an INTEGER count, so every regression moment (Sx,
    Sxx, Sy, Sxy, Syy) is an exact DECIMAL integer from one hash
    aggregate; slope = (k Sxy - Sx Sy)/(k Sxx - Sx^2), intercept and
    R^2 are fixed ladders over exact-integer casts — bit-identical
    cross-engine, no rounding, no fold needed. Degenerate groups
    (single hour, constant series) emit NULLs via guarded division.

    Scale: the (modality x hour) rows are the pinned entry of the
    contingency kernel; a tiny aggregate onto |modalities| rows, one
    broadcast scalar (the global min hour). No window, no sort, no
    fold."""
    hours = _approval_contingency(
        spark,
        sf_dir,
        modalidade_pagamento=F.col("modalidade_pagamento"),
        _h=F.expr("unix_micros(data_horario) div 3600000000"),
    ).select("modalidade_pagamento", "_h", F.col("n_y").alias("a"))
    h0 = hours.agg(F.min("_h").alias("_h0"))
    dec0 = "decimal(38,0)"
    x = (F.col("_h") - F.col("_h0")).cast(dec0)
    a = F.col("a").cast(dec0)
    mom = (
        hours.crossJoin(F.broadcast(h0))
        .groupBy("modalidade_pagamento")
        .agg(
            F.count("*").cast(dec0).alias("_k"),
            F.sum(x).alias("_sx"),
            F.sum(x * x).alias("_sxx"),
            F.sum(a).alias("_sy"),
            F.sum(x * a).alias("_sxy"),
            F.sum(a * a).alias("_syy"),
        )
    )
    num = (F.col("_k") * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast(
        "double"
    )
    den_x = (F.col("_k") * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast(
        "double"
    )
    den_y = (F.col("_k") * F.col("_syy") - F.col("_sy") * F.col("_sy")).cast(
        "double"
    )
    slope = F.when(den_x > F.lit(0.0), num / den_x)
    return mom.select(
        "modalidade_pagamento",
        F.col("_k").cast("bigint").alias("horas"),
        F.col("_sy").cast("bigint").alias("aprovadas"),
        slope.alias("inclinacao"),
        F.when(
            den_x > F.lit(0.0),
            (F.col("_sy").cast("double") - slope * F.col("_sx").cast("double"))
            / F.col("_k").cast("double"),
        ).alias("intercepto"),
        F.when(
            (den_x > F.lit(0.0)) & (den_y > F.lit(0.0)),
            num * num / (den_x * den_y),
        ).alias("r2"),
    )


_OLS_CTES = """,
ols_hours AS (
    SELECT modalidade_pagamento,
           epoch_us(data_horario) // 3600000000 AS h,
           CAST(SUM(CASE WHEN transacao_aprovada THEN 1 ELSE 0 END)
                AS BIGINT) AS a
    FROM approved GROUP BY 1, 2
),
ols_h0 AS (SELECT MIN(h) AS h0 FROM ols_hours),
ols_mom AS (
    SELECT modalidade_pagamento,
           CAST(COUNT(*) AS DECIMAL(38,0)) AS k,
           SUM(CAST(h - h0 AS DECIMAL(38,0))) AS sx,
           SUM(CAST(h - h0 AS DECIMAL(38,0))
               * CAST(h - h0 AS DECIMAL(38,0))) AS sxx,
           SUM(CAST(a AS DECIMAL(38,0))) AS sy,
           SUM(CAST(h - h0 AS DECIMAL(38,0))
               * CAST(a AS DECIMAL(38,0))) AS sxy,
           SUM(CAST(a AS DECIMAL(38,0))
               * CAST(a AS DECIMAL(38,0))) AS syy
    FROM ols_hours, ols_h0 GROUP BY 1
)"""

OLS_HOURLY_SQL = _oracle_with(
    _OLS_CTES,
    """
SELECT modalidade_pagamento,
       CAST(k AS BIGINT) AS horas,
       CAST(sy AS BIGINT) AS aprovadas,
       CASE WHEN CAST(k * sxx - sx * sx AS DOUBLE) > 0.0
            THEN CAST(k * sxy - sx * sy AS DOUBLE)
                 / CAST(k * sxx - sx * sx AS DOUBLE) END AS inclinacao,
       CASE WHEN CAST(k * sxx - sx * sx AS DOUBLE) > 0.0
            THEN (CAST(sy AS DOUBLE)
                  - (CAST(k * sxy - sx * sy AS DOUBLE)
                     / CAST(k * sxx - sx * sx AS DOUBLE))
                    * CAST(sx AS DOUBLE))
                 / CAST(k AS DOUBLE) END AS intercepto,
       CASE WHEN CAST(k * sxx - sx * sx AS DOUBLE) > 0.0
             AND CAST(k * syy - sy * sy AS DOUBLE) > 0.0
            THEN CAST(k * sxy - sx * sy AS DOUBLE)
                 * CAST(k * sxy - sx * sy AS DOUBLE)
                 / (CAST(k * sxx - sx * sx AS DOUBLE)
                    * CAST(k * syy - sy * sy AS DOUBLE)) END AS r2
FROM ols_mom""",
)


# --- Hill tail-index estimator of the transaction-value distribution -------


def hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill (1975) estimator of the Pareto tail index of transaction
    values — the heavy-tail diagnostic behind exposure limits and the
    skew/salting decisions: alpha_hill = k / sum_{i<=k} ln(x_(i)/x_(k+1))
    over the k largest order statistics (descending, id tiebreak).

    k is a size-following BUDGET, not a data constant: k =
    ceil(sqrt(N)) computed identically in both dialects (the
    semantic_dedup convention; N is read once up front as a count-star
    metadata job). The order statistics come from the distributed
    ranking operator — no single-task sort at any N. Each log term is
    ROUND(.,6) (transcendental-output precedent) and accumulated in
    DECIMAL(38,9), so the sum is order-independent and exact; the final
    alpha is one rounded division."""
    import math

    t = (
        datamodel.transactions(spark, sf_dir)
        .select("id_transacao", "valor_transacao")
        .filter(F.col("valor_transacao") > 0)
    )
    n = t.count()
    k = max(1, math.ceil(math.sqrt(n)))
    top = (
        ranking.with_global_row_number(
            t, "valor_transacao", "id_transacao", out="r",
            value_desc=True, nulls="reject",
        )
        .filter(F.col("r") <= k + 1)
        .persist()
    )
    thr = top.filter(F.col("r") == k + 1).select(
        F.col("valor_transacao").alias("limiar")
    )
    agg = (
        top.filter(F.col("r") <= k)
        .crossJoin(F.broadcast(thr))
        .agg(
            F.sum(
                F.round(
                    F.log(F.col("valor_transacao") / F.col("limiar")), 6
                ).cast("decimal(38,9)")
            ).alias("_s"),
            F.max("limiar").alias("limiar"),
        )
    )
    # Degenerate guard: with k+1 > N there is no threshold order
    # statistic — the SQL twin's GROUP BY then yields zero rows, while
    # Spark's global agg over the empty join would yield one all-null
    # row. The constant filter makes both dialects emit zero rows.
    return agg.select(
        F.lit(n).cast("bigint").alias("n"),
        F.lit(k).cast("bigint").alias("n_caudal"),
        "limiar",
        F.col("_s").cast("double").alias("soma_log"),
        # soma_log is a data-dependent denominator: 0 exactly when the
        # top-k values all tie the threshold (every log term is 0), where
        # Spark ANSI throws on double x/0 but DuckDB emits inf. Guard the
        # division itself, NULL in both dialects.
        F.when(
            F.col("_s").cast("double") > 0.0,
            F.round(F.lit(float(k)) / F.col("_s").cast("double"), 6),
        ).alias("alfa_hill"),
    ).filter(F.lit(k + 1 <= n))


HILL_TAIL_SQL = datamodel.with_ctes(
    """
SELECT n_.n, n_.k AS n_caudal, t.limiar,
       CAST(SUM(x.lt) AS DOUBLE) AS soma_log,
       CASE WHEN CAST(SUM(x.lt) AS DOUBLE) > 0.0
            THEN ROUND(CAST(n_.k AS DOUBLE) / CAST(SUM(x.lt) AS DOUBLE), 6)
       END AS alfa_hill
FROM (
    SELECT CAST(ROUND(LN(r.valor_transacao / t2.limiar), 6)
                AS DECIMAL(38,9)) AS lt
    FROM hill_rk r, hill_n n2, hill_thr t2 WHERE r.r <= n2.k
) x, hill_n n_, hill_thr t
GROUP BY n_.n, n_.k, t.limiar""",
    extra_ctes="""
hill_tx AS (
    SELECT id_transacao, valor_transacao FROM transactions
    WHERE valor_transacao > 0
),
hill_n AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CEIL(SQRT(COUNT(*))) AS BIGINT) AS k
    FROM hill_tx
),
hill_rk AS (
    SELECT t.*, ROW_NUMBER() OVER (ORDER BY valor_transacao DESC,
                                   id_transacao ASC) AS r
    FROM hill_tx t
),
hill_thr AS (
    SELECT r.valor_transacao AS limiar FROM hill_rk r, hill_n n3
    WHERE r.r = n3.k + 1
)""",
)


# --- expected calibration error + Brier score -------------------------------

#: calibration bins (exact global NTILE deciles of the score order).
ECE_BINS = 10


def calibration_error_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ECE / MCE / Brier score of the risk score as a denial-probability
    forecast — the standard calibration trio next to the reliability
    diagram (`score_calibration_deciles`): the forecast is the min-max
    normalized score (one broadcast scalar pass), bins are the exact
    NTILE(10) deciles from the distributed ranking operator, and

        ECE   = sum_b (n_b/N) |conf_b - acc_b|,
        MCE   = max_b |conf_b - acc_b|,
        Brier = mean (p - y)^2.

    Exactness: the normalized forecast is 6-rounded ONCE (p6), the
    squared-error terms are 6-rounded and accumulated in DECIMAL (so
    the corpus sums are order-independent; a grid-value-minus-integer
    square can never land on the .5 rounding boundary), conf/acc are
    exact ratios, and the 10-term ECE sum rides the deterministic
    sorted fold. Scale: one scalar pass, one ranking pass, one decile
    aggregate; the corpus never feeds an unpartitioned window."""
    from banking_streaming_etl_spark.plans.dashboard import _cal_ntile_asc

    # session-shared scored + ASC-NTILE(10) frame (identical decile
    # assignment as the reliability diagram; ECE_BINS is pinned to it)
    assert ECE_BINS == 10
    ap = _cal_ntile_asc(spark, sf_dir).select(
        "id_transacao",
        "score_medio",
        "decil",
        (~F.col("transacao_aprovada")).cast("int").alias("y"),
    )
    mm = ap.agg(
        F.min("score_medio").alias("_mn"), F.max("score_medio").alias("_mx")
    )
    binned = ap.crossJoin(F.broadcast(mm)).withColumn(
        "p6",
        F.round(
            (F.col("score_medio") - F.col("_mn"))
            / (F.col("_mx") - F.col("_mn")),
            6,
        ),
    )
    sq = (F.col("p6") - F.col("y")) * (F.col("p6") - F.col("y"))
    per = (
        binned.groupBy("decil")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("y").cast("bigint").alias("n_y"),
            F.sum(exact._d(F.col("p6"))).alias("_sp"),
            F.sum(exact._d(sq)).alias("_sq"),
        )
        .persist()
    )
    tot = per.agg(
        F.sum("n").cast("bigint").alias("_N"),
        F.sum("_sq").alias("_B"),
    )
    conf = F.col("_sp").cast("double") / F.col("n").cast("double")
    acc = F.col("n_y").cast("double") / F.col("n").cast("double")
    pg = (
        per.crossJoin(F.broadcast(tot))
        .withColumn("_conf", conf)
        .withColumn("_acc", acc)
        .withColumn("_gap", F.abs(conf - acc))
        .persist()
    )
    ece = _fold_terms(
        pg,
        "decil",
        F.col("n").cast("double") / F.col("_N").cast("double")
        * F.col("_gap"),
    ).withColumnRenamed("_fold", "ece")
    scal = ece.crossJoin(F.broadcast(pg.agg(F.max("_gap").alias("mce"))))
    return pg.crossJoin(F.broadcast(scal)).select(
        "decil",
        "n",
        F.col("_conf").alias("confianca_media"),
        F.col("_acc").alias("taxa_negacao"),
        F.col("_gap").alias("gap_calibracao"),
        (F.col("_B").cast("double") / F.col("_N").cast("double")).alias(
            "brier"
        ),
        "ece",
        "mce",
    )


_CAL_CTES = f""",
cal_mm AS (
    SELECT MIN(score_medio) AS mn, MAX(score_medio) AS mx FROM approved
),
cal_b AS (
    SELECT NTILE({ECE_BINS}) OVER (ORDER BY score_medio ASC,
                                   id_transacao ASC) AS decil,
           CASE WHEN NOT transacao_aprovada THEN 1 ELSE 0 END AS y,
           ROUND((score_medio - mn) / (mx - mn), 6) AS p6
    FROM approved, cal_mm
),
cal_g AS (
    SELECT decil, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS n_y,
           SUM(CAST(ROUND(p6, 6) AS DECIMAL(28,6))) AS sp,
           SUM(CAST(ROUND((p6 - y) * (p6 - y), 6) AS DECIMAL(28,6))) AS sq
    FROM cal_b GROUP BY 1
),
cal_t AS (
    SELECT CAST(SUM(n) AS BIGINT) AS n_tot, SUM(sq) AS b_dec FROM cal_g
),
cal_pg AS (
    SELECT g.decil, g.n, g.n_y, t.n_tot, t.b_dec,
           CAST(g.sp AS DOUBLE) / CAST(g.n AS DOUBLE) AS conf,
           CAST(g.n_y AS DOUBLE) / CAST(g.n AS DOUBLE) AS acc,
           ABS(CAST(g.sp AS DOUBLE) / CAST(g.n AS DOUBLE)
               - CAST(g.n_y AS DOUBLE) / CAST(g.n AS DOUBLE)) AS gap
    FROM cal_g g, cal_t t
),
cal_s AS (
    SELECT {_sql_fold(
        'CAST(n AS DOUBLE) / CAST(n_tot AS DOUBLE) * gap', 'decil')} AS ece,
           MAX(gap) AS mce
    FROM cal_pg
)"""

CALIBRATION_ERROR_SQL = _oracle_with(
    _CAL_CTES,
    """
SELECT p.decil, p.n,
       p.conf AS confianca_media,
       p.acc AS taxa_negacao,
       p.gap AS gap_calibracao,
       CAST(p.b_dec AS DOUBLE) / CAST(p.n_tot AS DOUBLE) AS brier,
       s.ece, s.mce
FROM cal_pg p, cal_s s""",
)


# --- Neyman allocation for stratified sampling ------------------------------

#: total sample budget allocated across the modality strata.
NEYMAN_BUDGET = 10000


def neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimal (Neyman 1934) stratified-sampling allocation of a fixed
    budget across the modality strata: n_h proportional to N_h * S_h,
    integerized by the largest-remainder method so the allocations sum
    EXACTLY to the budget — the design step in front of the stratified
    sampler (`operators/sampling.stratified_sample`).

    Exactness: S_h comes from exact decimal moments (`exact.exact_std`)
    through the IEEE sqrt ladder, the weight total rides the
    deterministic sorted fold, and floor/remainder arithmetic is
    identical IEEE ops on identical operands in both dialects.

    Scale: ONE corpus aggregate onto |modalities| stratum rows, pinned
    once per session (memo.shared_frame); everything after (fold,
    remainder rank, leftover re-aggregate) runs over that bounded frame
    — the remainder window is whitelisted with that boundedness
    argument."""
    from pyspark.sql import Window as W

    grp = memo.shared_frame(
        spark,
        sf_dir,
        "neyman_strata",
        lambda: _approved(spark, sf_dir)
        .groupBy("modalidade_pagamento")
        .agg(
            F.count("*").cast("bigint").alias("n_h"),
            exact.exact_std("valor_transacao", "desvio"),
        )
        .withColumn("_w", F.col("n_h").cast("double") * F.col("desvio")),
    )
    tw = _fold_terms(grp, "modalidade_pagamento", F.col("_w")) \
        .withColumnRenamed("_fold", "_tw")
    ex = F.lit(float(NEYMAN_BUDGET)) * F.col("_q")
    alloc = (
        grp.crossJoin(F.broadcast(tw))
        .withColumn("_q", F.col("_w") / F.col("_tw"))
        .withColumn("_base", F.floor(ex).cast("bigint"))
        .withColumn("_rem", ex - F.floor(ex).cast("double"))
    )
    lo = alloc.agg(
        (F.lit(NEYMAN_BUDGET) - F.sum("_base")).cast("bigint").alias("_lo")
    )
    rk = F.row_number().over(
        W.orderBy(F.col("_rem").desc(), F.col("modalidade_pagamento").asc())
    )
    return (
        alloc.withColumn("_r", rk)
        .crossJoin(F.broadcast(lo))
        .select(
            "modalidade_pagamento",
            "n_h",
            "desvio",
            F.col("_w").alias("peso"),
            F.col("_q").alias("fracao"),
            (
                F.col("_base")
                + (F.col("_r") <= F.col("_lo")).cast("bigint")
            ).cast("bigint").alias("alocacao"),
        )
    )


_NY_CTES = f""",
ny_g AS (
    SELECT modalidade_pagamento, CAST(COUNT(*) AS BIGINT) AS n_h,
           {exact.sql_std('valor_transacao', 'desvio')}
    FROM approved GROUP BY 1
),
ny_w AS (SELECT *, CAST(n_h AS DOUBLE) * desvio AS w FROM ny_g),
ny_t AS (
    SELECT {_sql_fold('w', 'modalidade_pagamento')} AS tw FROM ny_w
),
ny_a AS (
    SELECT g.*, g.w / t.tw AS q,
           CAST(FLOOR({NEYMAN_BUDGET}.0 * (g.w / t.tw)) AS BIGINT) AS base_i,
           {NEYMAN_BUDGET}.0 * (g.w / t.tw)
               - FLOOR({NEYMAN_BUDGET}.0 * (g.w / t.tw)) AS rem
    FROM ny_w g, ny_t t
),
ny_lo AS (
    SELECT {NEYMAN_BUDGET} - CAST(SUM(base_i) AS BIGINT) AS lo FROM ny_a
),
ny_r AS (
    SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC,
                                 modalidade_pagamento ASC) AS r
    FROM ny_a
)"""

NEYMAN_SQL = _oracle_with(
    _NY_CTES,
    """
SELECT a.modalidade_pagamento, a.n_h, a.desvio, a.w AS peso, a.q AS fracao,
       CAST(a.base_i + CASE WHEN a.r <= l.lo THEN 1 ELSE 0 END AS BIGINT)
           AS alocacao
FROM ny_r a, ny_lo l""",
)


# --- Fano-factor burstiness / Poisson dispersion test ------------------------


def fano_dispersion_by_modality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Burstiness screen: per modality, the Fano factor (variance/mean)
    of the hourly transaction counts plus the classical Poisson
    dispersion z = (F - 1) * sqrt((k-1)/2) — a Poisson arrival stream
    has F = 1; F >> 1 flags bursty traffic (the load-shape datapoint
    behind trigger sizing and skew salting).

    Exactness: hourly counts are integers, so the moment deltas
    (k*sum_sq - sum^2) are exact DECIMALs and every double is a fixed
    compare/multiply/divide/sqrt ladder over exact-integer casts —
    bit-identical cross-engine, no rounding. Single-hour modalities
    emit NULLs via guarded division.

    Scale: ONE corpus aggregate onto (modality x hour) rows, one tiny
    per-modality re-aggregate. No window, no fold."""
    hours = (
        _approved(spark, sf_dir)
        .groupBy(
            "modalidade_pagamento",
            F.expr("unix_micros(data_horario) div 3600000000").alias("_h"),
        )
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    return fano_from_hourly(hours)


def fano_from_hourly(hours: DataFrame) -> DataFrame:
    """The Fano/dispersion evaluation over a (modalidade_pagamento, _h,
    n) frame — shared by the batch query above and the streaming twin
    (`streaming/windows.streaming_modality_hourly` maintains the same
    bounded (modality x hour) state; this is its on-read evaluation, so
    stream and batch readouts are bit-identical by construction)."""
    dec0 = "decimal(38,0)"
    mom = hours.groupBy("modalidade_pagamento").agg(
        F.count("*").cast(dec0).alias("_k"),
        F.sum(F.col("n").cast(dec0)).alias("_s"),
        F.sum((F.col("n") * F.col("n")).cast(dec0)).alias("_ss"),
    )
    k = F.col("_k").cast("double")
    s = F.col("_s").cast("double")
    delta = (F.col("_k") * F.col("_ss") - F.col("_s") * F.col("_s")).cast(
        "double"
    )
    # var/mean = ((k*ss - s^2)/(k*(k-1))) / (s/k) = (k*ss - s^2)/((k-1)*s)
    fano = delta / ((k - F.lit(1.0)) * s)
    ok = (F.col("_k") > 1) & (F.col("_s") > 0)
    return mom.select(
        "modalidade_pagamento",
        F.col("_k").cast("bigint").alias("horas"),
        F.col("_s").cast("bigint").alias("n_transacoes"),
        (s / k).alias("media_horaria"),
        F.when(ok, delta / (k * (k - F.lit(1.0)))).alias("variancia"),
        F.when(ok, fano).alias("fano"),
        F.when(
            ok,
            (fano - F.lit(1.0))
            * F.sqrt((k - F.lit(1.0)) / F.lit(2.0)),
        ).alias("z_dispersao"),
    )


_FANO_CTES = """,
fano_h AS (
    SELECT modalidade_pagamento,
           epoch_us(data_horario) // 3600000000 AS h,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM approved GROUP BY 1, 2
),
fano_m AS (
    SELECT modalidade_pagamento,
           CAST(COUNT(*) AS DECIMAL(38,0)) AS k,
           SUM(CAST(n AS DECIMAL(38,0))) AS s,
           SUM(CAST(n * n AS DECIMAL(38,0))) AS ss
    FROM fano_h GROUP BY 1
)"""

FANO_DISPERSION_SQL = _oracle_with(
    _FANO_CTES,
    """
SELECT modalidade_pagamento,
       CAST(k AS BIGINT) AS horas,
       CAST(s AS BIGINT) AS n_transacoes,
       CAST(s AS DOUBLE) / CAST(k AS DOUBLE) AS media_horaria,
       CASE WHEN k > 1 AND s > 0
            THEN CAST(k * ss - s * s AS DOUBLE)
                 / (CAST(k AS DOUBLE) * (CAST(k AS DOUBLE) - 1.0))
            END AS variancia,
       CASE WHEN k > 1 AND s > 0
            THEN CAST(k * ss - s * s AS DOUBLE)
                 / ((CAST(k AS DOUBLE) - 1.0) * CAST(s AS DOUBLE))
            END AS fano,
       CASE WHEN k > 1 AND s > 0
            THEN (CAST(k * ss - s * s AS DOUBLE)
                  / ((CAST(k AS DOUBLE) - 1.0) * CAST(s AS DOUBLE)) - 1.0)
                 * SQRT((CAST(k AS DOUBLE) - 1.0) / 2.0)
            END AS z_dispersao
FROM fano_m""",
)


# --- G-test (likelihood-ratio chi-squared) -----------------------------------


def g_test_modality_approval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Likelihood-ratio independence test between modality and approval:
    G = 2 sum O ln(O/E) — the information-theoretic twin of the Pearson
    chi-squared (`chi2_cells_modality_approval`), preferred when cell
    counts are small or contributions need to add across partitions of
    the table. Per-cell contributions plus the G total.

    Cells and margins are exact integers from the shared pinned
    (modality, approval) contingency kernel; each cell's
    2 O ln(O/E) is transcendental, so it is ROUND(.,6) (the BM25/MI
    precedent) and the G total rides the deterministic sorted fold over
    the cell keys. Zero cells contribute 0 (the lim x->0 x ln x
    convention). Contingency-table-sized at any corpus size."""
    esp = (
        F.col("n_modalidade").cast("double")
        * F.col("n_resultado").cast("double")
    ) / F.col("n_total").cast("double")
    o = F.col("n_celula").cast("double")
    contrib = F.when(
        F.col("n_celula") > 0,
        F.round(F.lit(2.0) * o * F.log(o / F.col("_esp")), 6),
    ).otherwise(F.lit(0.0))
    wide = (
        _modality_approval_cells(spark, sf_dir)
        .withColumn("_esp", esp)
        .withColumn("_g", contrib)
        .withColumn(
            "_chave",
            F.concat_ws("|", "modalidade_pagamento",
                        F.col("transacao_aprovada").cast("string")),
        )
    )
    g_tot = _fold_terms(wide, "_chave", F.col("_g")).withColumnRenamed(
        "_fold", "g_total"
    )
    return wide.crossJoin(F.broadcast(g_tot)).select(
        "modalidade_pagamento",
        "transacao_aprovada",
        "n_celula",
        F.col("_esp").alias("esperado"),
        F.col("_g").alias("g_contrib"),
        "g_total",
    )


_GTEST_CTES = MODALITY_APPROVAL_CELLS_CTE + f""",
g_wide AS (
    SELECT *,
           CAST(n_modalidade AS DOUBLE) * CAST(n_resultado AS DOUBLE)
               / CAST(n_total AS DOUBLE) AS esp,
           CASE WHEN n_celula > 0
                THEN ROUND(2.0 * CAST(n_celula AS DOUBLE)
                           * LN(CAST(n_celula AS DOUBLE)
                                / (CAST(n_modalidade AS DOUBLE)
                                   * CAST(n_resultado AS DOUBLE)
                                   / CAST(n_total AS DOUBLE))), 6)
                ELSE 0.0 END AS g_contrib
    FROM ma_cells
),
g_tot AS (SELECT {_sql_fold('g_contrib', 'chave')} AS g_total FROM g_wide)"""

G_TEST_SQL = _oracle_with(
    _GTEST_CTES,
    """
SELECT w.modalidade_pagamento, w.transacao_aprovada, w.n_celula,
       w.esp AS esperado, w.g_contrib, t.g_total
FROM g_wide w, g_tot t""",
)


# --- McNemar test + odds ratio of the two approval gates --------------------

#: Wilson/Wald z for the 95% odds-ratio interval (fixed literal, the
#: WILSON_Z convention).
_ORZ = f"CAST({WILSON_Z!r} AS DOUBLE)"


def mcnemar_gates_2x2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired 2x2 analysis of the balance gate vs the score gate on the
    SAME transactions: McNemar's test (do the gates disagree
    symmetrically? chi2 = (b-c)^2/(b+c) on the discordant cells, plus
    the Edwards continuity-corrected form) and the odds ratio ad/bc
    with its 95% log-normal (Woolf) interval — the standard paired-
    rater readout, sharper than the unpaired two-proportion z because
    pairing removes the between-transaction variance.

    One corpus aggregate onto 4 integer cells; chi2 and the odds ratio
    are exact integer ratios (unrounded doubles), ln(OR) and the CI
    bounds are transcendental so ROUND(.,6), composed from the rounded
    log (the already-rounded-components rule)."""
    ap = _approved(spark, sf_dir)
    agg = ap.agg(
        F.sum(
            (F.col("saldo_aprovado") & F.col("score_aprovado")).cast("int")
        ).cast("bigint").alias("a"),
        F.sum(
            (F.col("saldo_aprovado") & ~F.col("score_aprovado")).cast("int")
        ).cast("bigint").alias("b"),
        F.sum(
            (~F.col("saldo_aprovado") & F.col("score_aprovado")).cast("int")
        ).cast("bigint").alias("c"),
        F.sum(
            (~F.col("saldo_aprovado") & ~F.col("score_aprovado")).cast("int")
        ).cast("bigint").alias("d"),
    )
    bd = F.col("b").cast("double")
    cd = F.col("c").cast("double")
    disc = bd + cd
    z = F.lit(WILSON_Z)
    # doubles FIRST, then multiply: a*d on bigints overflows int64 under
    # ANSI at ~1e10 rows per cell; double(a)*double(d) is the identical
    # IEEE product in both dialects (cells are exact below 2^53)
    orr = (
        F.col("a").cast("double")
        * F.col("d").cast("double")
        / (F.col("b").cast("double") * F.col("c").cast("double"))
    )
    logor = F.round(F.log(orr), 6)
    se = F.sqrt(
        F.lit(1.0) / F.col("a").cast("double")
        + F.lit(1.0) / bd
        + F.lit(1.0) / cd
        + F.lit(1.0) / F.col("d").cast("double")
    )
    ok_or = (F.col("b") > 0) & (F.col("c") > 0) & (F.col("a") > 0) & (
        F.col("d") > 0
    )
    return agg.select(
        "a",
        "b",
        "c",
        "d",
        F.when(disc > 0, (bd - cd) * (bd - cd) / disc).alias(
            "mcnemar_qui2"
        ),
        F.when(
            disc > 0,
            (F.abs(bd - cd) - F.lit(1.0))
            * (F.abs(bd - cd) - F.lit(1.0))
            / disc,
        ).alias("mcnemar_corrigido"),
        F.when(ok_or, orr).alias("razao_chances"),
        F.when(ok_or, logor).alias("ln_rc"),
        F.when(ok_or, F.round(F.exp(logor - z * se), 6)).alias("rc_ic_inf"),
        F.when(ok_or, F.round(F.exp(logor + z * se), 6)).alias("rc_ic_sup"),
    )


_MCNEMAR_CTES = """,
mc_agg AS (
    SELECT
        CAST(SUM(CASE WHEN saldo_aprovado AND score_aprovado
                      THEN 1 ELSE 0 END) AS BIGINT) AS a,
        CAST(SUM(CASE WHEN saldo_aprovado AND NOT score_aprovado
                      THEN 1 ELSE 0 END) AS BIGINT) AS b,
        CAST(SUM(CASE WHEN (NOT saldo_aprovado) AND score_aprovado
                      THEN 1 ELSE 0 END) AS BIGINT) AS c,
        CAST(SUM(CASE WHEN (NOT saldo_aprovado) AND NOT score_aprovado
                      THEN 1 ELSE 0 END) AS BIGINT) AS d
    FROM approved
)"""

MCNEMAR_SQL = _oracle_with(
    _MCNEMAR_CTES,
    f"""
SELECT a, b, c, d,
       CASE WHEN b + c > 0
            THEN (CAST(b AS DOUBLE) - CAST(c AS DOUBLE))
                 * (CAST(b AS DOUBLE) - CAST(c AS DOUBLE))
                 / (CAST(b AS DOUBLE) + CAST(c AS DOUBLE))
            END AS mcnemar_qui2,
       CASE WHEN b + c > 0
            THEN (ABS(CAST(b AS DOUBLE) - CAST(c AS DOUBLE)) - 1.0)
                 * (ABS(CAST(b AS DOUBLE) - CAST(c AS DOUBLE)) - 1.0)
                 / (CAST(b AS DOUBLE) + CAST(c AS DOUBLE))
            END AS mcnemar_corrigido,
       CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0
            THEN CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                 / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE))
            END AS razao_chances,
       CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0
            THEN ROUND(LN(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                 / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE))), 6)
            END AS ln_rc,
       CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0
            THEN ROUND(EXP(
                ROUND(LN(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                 / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE))), 6)
                - {_ORZ} * SQRT(1.0 / CAST(a AS DOUBLE)
                                + 1.0 / CAST(b AS DOUBLE)
                                + 1.0 / CAST(c AS DOUBLE)
                                + 1.0 / CAST(d AS DOUBLE))), 6)
            END AS rc_ic_inf,
       CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0
            THEN ROUND(EXP(
                ROUND(LN(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                 / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE))), 6)
                + {_ORZ} * SQRT(1.0 / CAST(a AS DOUBLE)
                                + 1.0 / CAST(b AS DOUBLE)
                                + 1.0 / CAST(c AS DOUBLE)
                                + 1.0 / CAST(d AS DOUBLE))), 6)
            END AS rc_ic_sup
FROM mc_agg""",
)


# --- Naive Bayes training readout -------------------------------------------


def naive_bayes_approval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Naive Bayes training for the approval outcome from
    (modality, value band): the model IS a count aggregate — per-cell
    Laplace-smoothed log-likelihood ratios ln P(m|y)/P(m|n) +
    ln P(f|y)/P(f|n) plus the prior log-odds, the classic
    count-then-broadcast trainer (one corpus pass, model-sized state).
    Output: one row per (modality, band) with the cell's total NB
    log-odds and decision, plus the training accuracy of that decision
    broadcast on every row — the fit-quality readout.

    Each log term is transcendental -> ROUND(.,6); the accuracy is an
    exact integer ratio (decisions compare 6-grid sums against 0 — a
    sum of 6-grid decimals is on the grid, never a boundary surprise).
    Tiny re-aggregates off the shared pinned (modality, band) x approval
    contingency kernel."""
    cells = _approval_contingency(
        spark,
        sf_dir,
        modalidade_pagamento=F.col("modalidade_pagamento"),
        faixa_valor=_faixa_valor(),
    ).select("modalidade_pagamento", "faixa_valor", "n", "n_y")
    mod = cells.groupBy("modalidade_pagamento").agg(
        F.sum("n_y").cast("bigint").alias("_my"),
        F.sum(F.col("n") - F.col("n_y")).cast("bigint").alias("_mn"),
    )
    fx = cells.groupBy("faixa_valor").agg(
        F.sum("n_y").cast("bigint").alias("_fy"),
        F.sum(F.col("n") - F.col("n_y")).cast("bigint").alias("_fn"),
    )
    tot = cells.agg(
        F.sum("n_y").cast("bigint").alias("_ty"),
        F.sum(F.col("n") - F.col("n_y")).cast("bigint").alias("_tn"),
        # set sizes, not count_distinct (see cramers_v_modality_approval)
        F.size(F.collect_set("modalidade_pagamento")).cast("bigint").alias("_nm"),
        F.size(F.collect_set("faixa_valor")).cast("bigint").alias("_nf"),
    )

    def _llr(cnt_y, cnt_n, tot_y, tot_n, k):
        return F.round(
            F.log(
                (cnt_y + F.lit(1)).cast("double")
                / (tot_y + k).cast("double")
            )
            - F.log(
                (cnt_n + F.lit(1)).cast("double")
                / (tot_n + k).cast("double")
            ),
            6,
        )

    wide = (
        cells.join(F.broadcast(mod), "modalidade_pagamento")
        .join(F.broadcast(fx), "faixa_valor")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "_lm",
            _llr(F.col("_my"), F.col("_mn"), F.col("_ty"), F.col("_tn"),
                 F.col("_nm")),
        )
        .withColumn(
            "_lf",
            _llr(F.col("_fy"), F.col("_fn"), F.col("_ty"), F.col("_tn"),
                 F.col("_nf")),
        )
        .withColumn(
            "_prior",
            # guard: a one-class corpus has no prior log-odds -> NULL
            # in BOTH dialects (DuckDB LN(0) ERRORS; Spark log(0) is
            # NULL already, pinned explicitly)
            F.when(
                (F.col("_ty") > 0) & (F.col("_tn") > 0),
                F.round(
                    F.log(F.col("_ty").cast("double"))
                    - F.log(F.col("_tn").cast("double")),
                    6,
                ),
            ),
        )
        .withColumn(
            "log_odds", F.col("_lm") + F.col("_lf") + F.col("_prior")
        )
        .withColumn("previsto", F.col("log_odds") > F.lit(0.0))
    )
    acc = wide.agg(
        (
            F.sum(
                F.when(F.col("previsto"), F.col("n_y")).otherwise(
                    F.col("n") - F.col("n_y")
                )
            ).cast("double")
            / F.sum("n").cast("double")
        ).alias("acuracia_treino")
    )
    return wide.crossJoin(F.broadcast(acc)).select(
        "modalidade_pagamento",
        "faixa_valor",
        "n",
        "n_y",
        F.col("_lm").alias("llr_modalidade"),
        F.col("_lf").alias("llr_faixa"),
        F.col("_prior").alias("log_odds_prior"),
        "log_odds",
        "previsto",
        "acuracia_treino",
    )


_NB_CTES = f""",
nb_cells AS (
    SELECT modalidade_pagamento, {_FAIXA_VALOR_SQL} AS faixa_valor,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN transacao_aprovada THEN 1 ELSE 0 END)
                AS BIGINT) AS n_y
    FROM approved GROUP BY 1, 2
),
nb_mod AS (
    SELECT modalidade_pagamento,
           CAST(SUM(n_y) AS BIGINT) AS my,
           CAST(SUM(n - n_y) AS BIGINT) AS mn
    FROM nb_cells GROUP BY 1
),
nb_fx AS (
    SELECT faixa_valor,
           CAST(SUM(n_y) AS BIGINT) AS fy,
           CAST(SUM(n - n_y) AS BIGINT) AS fn
    FROM nb_cells GROUP BY 1
),
nb_tot AS (
    SELECT CAST(SUM(n_y) AS BIGINT) AS ty,
           CAST(SUM(n - n_y) AS BIGINT) AS tn,
           CAST(COUNT(DISTINCT modalidade_pagamento) AS BIGINT) AS nm,
           CAST(COUNT(DISTINCT faixa_valor) AS BIGINT) AS nf
    FROM nb_cells
),
nb_wide AS (
    SELECT c.*,
           ROUND(LN(CAST(m.my + 1 AS DOUBLE) / CAST(t.ty + t.nm AS DOUBLE))
                 - LN(CAST(m.mn + 1 AS DOUBLE)
                      / CAST(t.tn + t.nm AS DOUBLE)), 6) AS lm,
           ROUND(LN(CAST(f.fy + 1 AS DOUBLE) / CAST(t.ty + t.nf AS DOUBLE))
                 - LN(CAST(f.fn + 1 AS DOUBLE)
                      / CAST(t.tn + t.nf AS DOUBLE)), 6) AS lf,
           CASE WHEN t.ty > 0 AND t.tn > 0
                THEN ROUND(LN(CAST(t.ty AS DOUBLE))
                           - LN(CAST(t.tn AS DOUBLE)), 6)
                END AS prior
    FROM nb_cells c
    JOIN nb_mod m USING (modalidade_pagamento)
    JOIN nb_fx f USING (faixa_valor), nb_tot t
),
nb_dec AS (
    SELECT *, lm + lf + prior AS log_odds,
           (lm + lf + prior > 0.0) AS previsto
    FROM nb_wide
),
nb_acc AS (
    SELECT CAST(SUM(CASE WHEN previsto THEN n_y ELSE n - n_y END)
                AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS acuracia_treino
    FROM nb_dec
)"""

NAIVE_BAYES_SQL = _oracle_with(
    _NB_CTES,
    """
SELECT d.modalidade_pagamento, d.faixa_valor, d.n, d.n_y,
       d.lm AS llr_modalidade, d.lf AS llr_faixa,
       d.prior AS log_odds_prior, d.log_odds, d.previsto,
       a.acuracia_treino
FROM nb_dec d, nb_acc a""",
)


# --- classification report of the score gate --------------------------------


def classification_report_gate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Full binary-classification report of the SCORE gate as a
    predictor of the final approval: confusion counts plus accuracy,
    precision, recall, specificity, F1, balanced accuracy and Matthews
    correlation — the sklearn.metrics.classification_report surface
    from ONE aggregate over the corpus.

    Every metric is an exact-integer ratio ladder (MCC's denominator is
    a product of doubles under one sqrt — doubles FIRST so margins
    never overflow int64 under ANSI); no rounding anywhere."""
    ap = _approved(spark, sf_dir)
    agg = ap.agg(
        F.sum(
            (F.col("score_aprovado") & F.col("transacao_aprovada"))
            .cast("int")
        ).cast("bigint").alias("vp"),
        F.sum(
            (F.col("score_aprovado") & ~F.col("transacao_aprovada"))
            .cast("int")
        ).cast("bigint").alias("fp"),
        F.sum(
            (~F.col("score_aprovado") & F.col("transacao_aprovada"))
            .cast("int")
        ).cast("bigint").alias("fn"),
        F.sum(
            (~F.col("score_aprovado") & ~F.col("transacao_aprovada"))
            .cast("int")
        ).cast("bigint").alias("vn"),
    )
    tp = F.col("vp").cast("double")
    fp = F.col("fp").cast("double")
    fn = F.col("fn").cast("double")
    tn = F.col("vn").cast("double")
    # degenerate guards (empty confusion margins): NULL in BOTH
    # dialects (Spark ANSI throws on the /0, DuckDB would emit NaN)
    prec = F.when(F.col("vp") + F.col("fp") > 0, tp / (tp + fp))
    rec = F.when(F.col("vp") + F.col("fn") > 0, tp / (tp + fn))
    spec = F.when(F.col("vn") + F.col("fp") > 0, tn / (tn + fp))
    mcc_den = F.sqrt(
        (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
    )
    return agg.select(
        "vp",
        "fp",
        "fn",
        "vn",
        F.when(
            F.col("vp") + F.col("vn") + F.col("fp") + F.col("fn") > 0,
            (tp + tn) / (tp + tn + fp + fn),
        ).alias("acuracia"),
        prec.alias("precisao"),
        rec.alias("revocacao"),
        spec.alias("especificidade"),
        F.when(
            prec + rec > 0.0, F.lit(2.0) * prec * rec / (prec + rec)
        ).alias("f1"),
        ((rec + spec) / F.lit(2.0)).alias("acuracia_balanceada"),
        F.when(
            mcc_den > F.lit(0.0),
            (tp * tn - fp * fn) / mcc_den,
        ).alias("mcc"),
    )


_CLSRPT_CTES = """,
cr_agg AS (
    SELECT
        CAST(SUM(CASE WHEN score_aprovado AND transacao_aprovada
                      THEN 1 ELSE 0 END) AS BIGINT) AS vp,
        CAST(SUM(CASE WHEN score_aprovado AND NOT transacao_aprovada
                      THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        CAST(SUM(CASE WHEN (NOT score_aprovado) AND transacao_aprovada
                      THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        CAST(SUM(CASE WHEN (NOT score_aprovado) AND NOT transacao_aprovada
                      THEN 1 ELSE 0 END) AS BIGINT) AS vn
    FROM approved
)"""

CLASSIFICATION_REPORT_SQL = _oracle_with(
    _CLSRPT_CTES,
    """
SELECT vp, fp, fn, vn,
       CASE WHEN vp + vn + fp + fn > 0
            THEN (CAST(vp AS DOUBLE) + CAST(vn AS DOUBLE))
                 / (CAST(vp AS DOUBLE) + CAST(vn AS DOUBLE)
                    + CAST(fp AS DOUBLE) + CAST(fn AS DOUBLE))
            END AS acuracia,
       CASE WHEN vp + fp > 0
            THEN CAST(vp AS DOUBLE)
                 / (CAST(vp AS DOUBLE) + CAST(fp AS DOUBLE))
            END AS precisao,
       CASE WHEN vp + fn > 0
            THEN CAST(vp AS DOUBLE)
                 / (CAST(vp AS DOUBLE) + CAST(fn AS DOUBLE))
            END AS revocacao,
       CASE WHEN vn + fp > 0
            THEN CAST(vn AS DOUBLE)
                 / (CAST(vn AS DOUBLE) + CAST(fp AS DOUBLE))
            END AS especificidade,
       CASE WHEN (CASE WHEN vp + fp > 0
                       THEN CAST(vp AS DOUBLE)
                            / (CAST(vp AS DOUBLE) + CAST(fp AS DOUBLE))
                       END)
                 + (CASE WHEN vp + fn > 0
                         THEN CAST(vp AS DOUBLE)
                              / (CAST(vp AS DOUBLE) + CAST(fn AS DOUBLE))
                         END) > 0.0
            THEN 2.0
                 * (CAST(vp AS DOUBLE)
                    / (CAST(vp AS DOUBLE) + CAST(fp AS DOUBLE)))
                 * (CAST(vp AS DOUBLE)
                    / (CAST(vp AS DOUBLE) + CAST(fn AS DOUBLE)))
                 / ((CAST(vp AS DOUBLE)
                     / (CAST(vp AS DOUBLE) + CAST(fp AS DOUBLE)))
                    + (CAST(vp AS DOUBLE)
                       / (CAST(vp AS DOUBLE) + CAST(fn AS DOUBLE))))
            END AS f1,
       ((CASE WHEN vp + fn > 0
              THEN CAST(vp AS DOUBLE)
                   / (CAST(vp AS DOUBLE) + CAST(fn AS DOUBLE)) END)
        + (CASE WHEN vn + fp > 0
                THEN CAST(vn AS DOUBLE)
                     / (CAST(vn AS DOUBLE) + CAST(fp AS DOUBLE)) END))
           / 2.0 AS acuracia_balanceada,
       CASE WHEN SQRT((CAST(vp AS DOUBLE) + CAST(fp AS DOUBLE))
                      * (CAST(vp AS DOUBLE) + CAST(fn AS DOUBLE))
                      * (CAST(vn AS DOUBLE) + CAST(fp AS DOUBLE))
                      * (CAST(vn AS DOUBLE) + CAST(fn AS DOUBLE))) > 0.0
            THEN (CAST(vp AS DOUBLE) * CAST(vn AS DOUBLE)
                  - CAST(fp AS DOUBLE) * CAST(fn AS DOUBLE))
                 / SQRT((CAST(vp AS DOUBLE) + CAST(fp AS DOUBLE))
                        * (CAST(vp AS DOUBLE) + CAST(fn AS DOUBLE))
                        * (CAST(vn AS DOUBLE) + CAST(fp AS DOUBLE))
                        * (CAST(vn AS DOUBLE) + CAST(fn AS DOUBLE)))
            END AS mcc
FROM cr_agg""",
)


# --- Cohen's d / Hedges' g effect size ---------------------------------------


def cohens_d_value_by_approval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized effect size of the approval decision on transaction
    value: Cohen's d = (mean_ap - mean_den) / pooled SD plus the Hedges
    small-sample correction g = d * (1 - 3/(4(n1+n0) - 9)) — the
    magnitude readout next to the significance tests (a huge z with a
    trivial d is the classic big-data false alarm).

    All moments are exact decimal sums from ONE conditional aggregate;
    means, variances, the pooled SD and both effect sizes are fixed
    IEEE ladders over those exact casts — bit-identical cross-engine,
    no rounding."""
    ap = _approved(spark, sf_dir).select(
        F.col("transacao_aprovada").cast("int").alias("y"),
        F.col("valor_transacao").alias("v"),
    )
    y = F.col("y") == 1
    agg = ap.agg(
        F.sum(F.when(y, 1).otherwise(0)).cast("bigint").alias("n1"),
        F.sum(F.when(~y, 1).otherwise(0)).cast("bigint").alias("n0"),
        F.sum(F.when(y, exact._d(F.col("v")))).alias("_s1"),
        F.sum(F.when(~y, exact._d(F.col("v")))).alias("_s0"),
        F.sum(
            F.when(y, exact._d(F.round(F.col("v"), 6) * F.round(F.col("v"), 6)))
        ).alias("_q1"),
        F.sum(
            F.when(~y, exact._d(F.round(F.col("v"), 6) * F.round(F.col("v"), 6)))
        ).alias("_q0"),
    )
    n1 = F.col("n1").cast("double")
    n0 = F.col("n0").cast("double")
    s1 = F.col("_s1").cast("double")
    s0 = F.col("_s0").cast("double")
    q1 = F.col("_q1").cast("double")
    q0 = F.col("_q0").cast("double")
    m1 = s1 / n1
    m0 = s0 / n0
    v1 = (q1 - s1 * s1 / n1) / (n1 - F.lit(1.0))
    v0 = (q0 - s0 * s0 / n0) / (n0 - F.lit(1.0))
    sp = F.sqrt(
        ((n1 - F.lit(1.0)) * v1 + (n0 - F.lit(1.0)) * v0)
        / (n1 + n0 - F.lit(2.0))
    )
    d = (m1 - m0) / sp
    g = d * (
        F.lit(1.0)
        - F.lit(3.0) / (F.lit(4.0) * (n1 + n0) - F.lit(9.0))
    )
    return agg.select(
        "n1",
        "n0",
        m1.alias("media_aprovadas"),
        m0.alias("media_negadas"),
        sp.alias("desvio_agrupado"),
        d.alias("cohen_d"),
        g.alias("hedges_g"),
    )


_COHEN_D_CTES = """,
cd_agg AS (
    SELECT
        CAST(SUM(CASE WHEN transacao_aprovada THEN 1 ELSE 0 END)
             AS BIGINT) AS n1,
        CAST(SUM(CASE WHEN NOT transacao_aprovada THEN 1 ELSE 0 END)
             AS BIGINT) AS n0,
        SUM(CASE WHEN transacao_aprovada
                 THEN CAST(ROUND(valor_transacao, 6) AS DECIMAL(28,6))
                 END) AS s1,
        SUM(CASE WHEN NOT transacao_aprovada
                 THEN CAST(ROUND(valor_transacao, 6) AS DECIMAL(28,6))
                 END) AS s0,
        SUM(CASE WHEN transacao_aprovada
                 THEN CAST(ROUND(ROUND(valor_transacao, 6)
                                 * ROUND(valor_transacao, 6), 6)
                           AS DECIMAL(28,6)) END) AS q1,
        SUM(CASE WHEN NOT transacao_aprovada
                 THEN CAST(ROUND(ROUND(valor_transacao, 6)
                                 * ROUND(valor_transacao, 6), 6)
                           AS DECIMAL(28,6)) END) AS q0
    FROM approved
)"""

COHEN_D_SQL = _oracle_with(
    _COHEN_D_CTES,
    """
SELECT n1, n0,
       CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS media_aprovadas,
       CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS media_negadas,
       SQRT(((CAST(n1 AS DOUBLE) - 1.0)
             * ((CAST(q1 AS DOUBLE)
                 - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                   / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0))
             + (CAST(n0 AS DOUBLE) - 1.0)
               * ((CAST(q0 AS DOUBLE)
                   - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE)
                     / CAST(n0 AS DOUBLE)) / (CAST(n0 AS DOUBLE) - 1.0)))
            / (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE) - 2.0))
           AS desvio_agrupado,
       (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))
       / SQRT(((CAST(n1 AS DOUBLE) - 1.0)
               * ((CAST(q1 AS DOUBLE)
                   - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                     / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0))
               + (CAST(n0 AS DOUBLE) - 1.0)
                 * ((CAST(q0 AS DOUBLE)
                     - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE)
                       / CAST(n0 AS DOUBLE)) / (CAST(n0 AS DOUBLE) - 1.0)))
              / (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE) - 2.0))
           AS cohen_d,
       ((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
         - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))
        / SQRT(((CAST(n1 AS DOUBLE) - 1.0)
                * ((CAST(q1 AS DOUBLE)
                    - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                      / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0))
                + (CAST(n0 AS DOUBLE) - 1.0)
                  * ((CAST(q0 AS DOUBLE)
                      - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE)
                        / CAST(n0 AS DOUBLE))
                     / (CAST(n0 AS DOUBLE) - 1.0)))
               / (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE) - 2.0)))
       * (1.0 - 3.0 / (4.0 * (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE))
                       - 9.0)) AS hedges_g
FROM cd_agg""",
)

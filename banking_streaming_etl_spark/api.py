"""SQL API surface: register the engine's tables and views for spark.sql.

The reference exposes its analytics to users through SQL views in Postgres
(vw_performance_stats / vw_performance_temporal, historic_data_mock.py:
87-112) and raw-table SELECTs from the dashboard. This module recreates
that surface natively: after `register_views(spark, sf_dir)`, users query
everything with plain Spark SQL — same Catalyst plans as the DataFrame
API.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from banking_streaming_etl_spark import datamodel
from banking_streaming_etl_spark.plans import views as view_plans
from banking_streaming_etl_spark.plans.approval import approval_pipeline


def register_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Register raw tables, canonical entities, the approval output, and
    the two analytic views as temp views. Returns the registered names."""
    names: list[str] = []
    for t in datamodel.TABLES:
        datamodel.load_table(spark, sf_dir, t).createOrReplaceTempView(t)
        names.append(t)

    datamodel.transactions(spark, sf_dir).createOrReplaceTempView("transacoes")
    datamodel.users(spark, sf_dir).createOrReplaceTempView("usuarios")
    datamodel.regions(spark, sf_dir).createOrReplaceTempView("regioes")
    approval_pipeline(spark, sf_dir).createOrReplaceTempView(
        "transacoes_aprovadas"
    )
    view_plans.perf_stats_by_modality(spark, sf_dir).createOrReplaceTempView(
        "vw_performance_stats"
    )
    view_plans.perf_temporal_hourly(spark, sf_dir).createOrReplaceTempView(
        "vw_performance_temporal"
    )
    names += [
        "transacoes",
        "usuarios",
        "regioes",
        "transacoes_aprovadas",
        "vw_performance_stats",
        "vw_performance_temporal",
    ]
    return names


#: queries whose BUILDERS run multi-job driver-side loops (model
#: training, eager per-iteration checkpoints, convergence collects),
#: excluded from register_query_views' default sweep — they would
#: execute minutes of work at registration time, not query time.
#: (Single-count budget builders — semantic_dedup's sqrt(N), the
#: hierarchical assigner's K — cost one job each and stay in.)
EAGER_QUERIES = frozenset({
    "bpe_learned_merges",
    "bpe_corpus_compression",
    "payer_pagerank",
    "payer_pagerank_converged",
    "payer_hits",
    "dedup_clusters",
    # runs brute force + all four ANN paths to collect() the recall
    # table at BUILD time — minutes of jobs (round-4 advice)
    "ann_recall_eval",
    # greedy MMR selection collects its bounded candidate pool at build
    # time (driver-held selection, the BPE stance) — caught by the
    # builder-job guard test
    "mmr_rerank",
    # collects the D^2 covariance moments (two full-corpus aggregate
    # jobs) at build time for the driver-side eigendecomposition —
    # registration of the SQL surface must stay zero-full-scan (round-5
    # verdict task #5; the fit itself is session-memoized in
    # operators/embeddings.pca_fit)
    "pca_embeddings",
})

#: Queries whose builder materializes a session-shared derivation on
#: FIRST build (operators/memo.shared_frame — eager localCheckpoint of
#: the KM risk table / calibration rank frames / per-modality value
#: ranking / inter-arrival sequence): the first plan build of a family
#: runs the shared derivation's jobs ONCE per (session, sf_dir); every
#: later build in the family is job-free. Unlike EAGER_QUERIES the
#: RESULT frame stays a fully distributed lazy plan — these still
#: belong in the SQL view sweep and the plan-shape fleets; the
#: builder-job guard test warms them before counting.
MEMOIZED_QUERIES = frozenset({
    "exact_percentiles_by_modality",
    "brown_forsythe_value_by_modality",
    "calibration_error_metrics",
    "score_calibration_deciles",
    "roc_curve_deciles",
    "precision_recall_at_k",
    "risk_score_auc",
    "isotonic_calibration_bins",
    "kaplan_meier_conversion",
    "kaplan_meier_greenwood",
    "interarrival_percentiles_by_modality",
    # round-10: the BM25+judgments candidate frame behind the NDCG eval
    "ndcg_at_k",
    # round-11 (ADVICE): shares the same 'ndcg_candidates' memo frame as
    # ndcg_at_k — listed in its own right so the builder-job guard warms
    # it directly instead of relying on the sibling running first
    "hybrid_ndcg_eval",
    # round-12: the per-build eager barriers on the macro-NDCG
    # candidate/gains frames became the session-shared
    # 'macro_ndcg_cand'/'macro_ndcg_gains' memos (both ranking variants
    # read them), moving the pair from EAGER_QUERIES to this class
    "macro_ndcg_multi_query",
    "macro_ndcg_grouped",
    # round-13: the per-day sketch table behind the mergeable quantile
    # sketch (<= days x G x Q rows) — the whole-history rollup, the
    # time-range query, and every read-side branch share ONE
    # materialization (the raw fact is scanned once per session/sf)
    "quantile_sketch_rollup",
    "quantile_sketch_range",
    # round-14 (optimization): the per-build eager checkpoint pins added
    # for lineage truncation / pass overlap became session memos
    # (memo.shared_frame/memo.shared) — without the memo every plan
    # build re-ran 13-60 materialization jobs AND pinned a fresh
    # session-lifetime checkpoint copy (caught by the builder-job guard)
    "spearman_value_score",
    "ks_test_value_by_approval",
    "kruskal_value_by_modality",
    "class_rebalance_downsample",
    "rfm_segments",
    "dsir_effective_sample_size",
    # the modality x approval contingency family reads one pinned
    # contingency kernel per row-key set (plans.dashboard.
    # _approval_contingency) over the pinned scored fact
    # (plans.dashboard._approved): the first build of a member runs the
    # kernel's jobs, and the scored-fact pin's too if no other reader of
    # it ran first in the session
    "chi2_cells_modality_approval",
    "g_test_modality_approval",
    "cramers_v_modality_approval",
    "mi_modality_approval",
    "naive_bayes_approval",
    "two_proportion_approval_test",
    # the other readers of the contingency kernel, one entry per row-key
    # set: (value bin), (modality), (hour), (value band), (modality, hour)
    "js_divergence_value_by_approval",
    "loo_target_encode_modality",
    "ucb1_modality_ranking",
    "cusum_hourly_drift",
    "cochran_armitage_trend",
    "ols_hourly_trend_by_modality",
    # the pinned hourly count series (plans.behavior._hourly_counts);
    # Theil-Sen also pins its ranked median, EWMA its chart
    "changepoint_hourly",
    "theil_sen_hourly_trend",
    "ewma_control_chart",
    "seasonal_naive_eval",
    # one pinned group table each (fold, modality, stratum, modality)
    "cv_fold_metrics",
    "anova_value_by_modality",
    "stratified_ate_balance_gate",
    "neyman_allocation",
})


def register_query_views(
    spark: SparkSession,
    sf_dir: str,
    names: list[str] | None = None,
    prefix: str = "q_",
) -> list[str]:
    """Expose registered queries as temp views (`q_<name>`), completing
    the SQL surface: after this, every operator in the engine — dedup,
    ANN, sketches, curation, governance — is one `spark.sql` away, the
    way the reference's users reach everything through Postgres views.

    A temp view stores the plan, not results, so registration is cheap
    for plan-only builders — but a handful of queries RUN Spark jobs
    while BUILDING their plan (driver-side training loops / budget
    counts: the BPE trainer collects merge rules per iteration,
    semantic_dedup counts the corpus for its sqrt(N) budget, the
    hierarchical assigner counts the centroid budget). The default
    all-queries mode therefore excludes the heavy training loops
    (EAGER_QUERIES); pass them in `names` explicitly to accept the
    build cost. A queried view plans exactly like the DataFrame API
    call (same Catalyst tree)."""
    from banking_streaming_etl_spark import registry

    qs = registry.all_queries()
    picked = (
        names
        if names is not None
        else [n for n in qs if n not in EAGER_QUERIES]
    )
    out: list[str] = []
    for n in picked:
        qs[n].fn(spark, sf_dir).createOrReplaceTempView(f"{prefix}{n}")
        out.append(f"{prefix}{n}")
    return out

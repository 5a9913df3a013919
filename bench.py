"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...},
"sf": ...}.

Each query is executed with a count-style action (results are not
collected to the driver — we measure engine time, not pickling). A warmup
run of the flagship amortizes JVM/codegen startup out of the numbers.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from banking_streaming_etl_spark import registry
from banking_streaming_etl_spark.session import get_spark

#: headline set — flagship + the heaviest operator families. Queries not
#: yet registered are skipped silently so bench.py never breaks mid-build.
HEADLINE = [
    "approval_pipeline",
    "q1_pricing_summary",
    "revenue_by_nation",
    "perf_stats_by_modality",
    "perf_temporal_hourly",
    "order_enrichment",
    "zscore_per_payer",
    "sessionize_events",
    "top_k_recent",
    "asof_balance_at_tx",
    "dedup_exact_documents",
    "near_dup_jaccard",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "text_quality_scores",
    "tfidf_terms",
]

#: round-4 extension families, timed as a SEPARATE group so HEADLINE (and
#: its round-over-round total) stays comparable across rounds. Skipped
#: silently when not registered, like HEADLINE.
EXTENDED = [
    "cms_heavy_hitters",
    "bloom_filter_screen",
    "hybrid_retrieval_rrf",
    "ann_ivf_pq_topk",
    "psi_value_drift",
    "seasonal_decompose_hourly",
    "pit_balance_feature_join",
    "bpe_pair_counts",
    "source_ngram_overlap",
    "k_anonymity_report",
    # round-5 additions (the distributed-ranking family + CDC diff +
    # one-pass statistics)
    "pareto_share_by_decile",
    "exact_percentiles_valor",
    "snapshot_table_diff",
    "risk_score_auc",
    "bootstrap_mean_ci",
]

#: round-6/7 registrees. A THIRD group: timings go to stderr +
#: BENCH_DETAIL.md only (plus the one `extra_core_total` scalar), so
#: `extended_total` in the JSON line stays round-over-round comparable
#: and the line-budget contract (see emit_json_line) holds.
#:
#: Split per round-7 verdict task #5: the sweep's unbounded growth was
#: the round-over-round comparability risk, so EXTRA_CORE — the ~17
#: slowest round-7 entries, including EVERY member of the three
#: session-memo families (KM risk table, calibration trio, modality
#: medians) so the shared-derivation win stays visible — is pinned and
#: runs every round; EXTRA_ROTATING runs half per round (rotation keyed
#: deterministically on the number of BENCH_r*.json artifacts in the
#: repo, overridable via $SPARK_GRAFT_EXTRA_ROTATION). Skipped entries
#: are named on stderr — no silent caps.
EXTRA_CORE = [
    "interarrival_percentiles_by_modality",
    "kaplan_meier_greenwood",
    "kaplan_meier_conversion",
    "calibration_error_metrics",
    "score_calibration_deciles",
    "roc_curve_deciles",
    "brown_forsythe_value_by_modality",
    "exact_percentiles_by_modality",
    "isotonic_calibration_bins",
    "rfm_segments",
    "ks_test_value_by_approval",
    "payer_hits",
    "spearman_value_score",
    "conformal_by_modality",
    "class_rebalance_downsample",
    "conformal_risk_thresholds",
    "kruskal_value_by_modality",
]

EXTRA_ROTATING = [
    "rolling_median_value",
    "length_bucketed_batches",
    "precision_recall_at_k",
    "mi_modality_approval",
    "dsir_importance_weights",
    "gini_value_concentration",
    "vocab_coverage_topk",
    "trimmed_mean_value",
    "pack_sequences_global",
    "chi2_cells_modality_approval",
    "cohens_kappa_flags",
    "js_divergence_value_by_approval",
    "group_holdout_split_docs",
    "cv_fold_metrics",
    "loo_target_encode_modality",
    "mannwhitney_value_by_approval",
    "anova_value_by_modality",
    "channel_attribution",
    "stratified_ate_balance_gate",
    "two_proportion_approval_test",
    "ucb1_modality_ranking",
    "l_diversity_report",
    "cramers_v_modality_approval",
    "cusum_hourly_drift",
    "cochran_armitage_trend",
    "ols_hourly_trend_by_modality",
    "association_rules_modality",
    "gopher_repetition_signals",
    "dedup_impact_report",
    "hill_tail_index",
    "data_contract_audit",
    "neyman_allocation",
    "lexical_diversity_by_source",
    "fano_dispersion_by_modality",
    "ltv_cohort_curve",
    "source_vocab_jaccard",
    "hhi_by_region",
    "dsir_effective_sample_size",
    "g_test_modality_approval",
    "mcnemar_gates_2x2",
    "naive_bayes_approval",
    "classification_report_gate",
    "markov_entropy_rate",
    "cohens_d_value_by_approval",
    # round-8 registree (the dependency-free Avro wire codec) — index 44
    "avro_wire_roundtrip",
    # round-10/11 registrees (oracle-backed media byte ops + retrieval
    # evals). Ordered so BOTH media rows sit on EVEN indices (46, 48):
    # the round-11 slice (rot = 10 BENCH files % 2 = 0) times even
    # indices, and round-10 verdict task #2 requires both media queries
    # timed in round 11. ndcg_at_k and hybrid_ndcg_eval take the odd
    # slots and rotate in next round (both were timed in the round-11
    # adjudication run regardless).
    "ndcg_at_k",
    "media_byte_entropy",
    # round-11 registrees (RRF-vs-BM25 retrieval eval, privacy-triad
    # capstone, offline changepoint)
    "hybrid_ndcg_eval",
    "media_body_dedup",
    "t_closeness_report",
    "changepoint_hourly",
    "macro_ndcg_multi_query",
    # round-12 registree (grouped-ranking macro-NDCG). APPEND-ONLY here:
    # insertions above index 48 would flip the media rows' pinned even
    # parity (tests/test_bench_contract.py).
    "macro_ndcg_grouped",
    # round-13/14 capability registrees (mergeable quantile sketch pair,
    # time-travel read, delta-join IVM face, interval-overlap theta
    # join) — appended per the append-only rule
    "quantile_sketch_rollup",
    "quantile_sketch_range",
    "snapshot_as_of",
    "ivm_join_view_deltas",
    "interval_overlap_bursts",
]

#: full inventory (registry-coverage checks and docs read this)
EXTRA = EXTRA_CORE + EXTRA_ROTATING

#: ceiling the one-line stdout JSON must stay under: the verify driver
#: captures only the TAIL of stdout (~2,000 chars) — round 5's line
#: outgrew it and the round's comparable metric was lost
#: (BENCH_r05.json "parsed": null). Pinned by tests/test_bench_contract.py.
JSON_LINE_BUDGET = 1800


def emit_json_line(payload: dict) -> str:
    """Serialize the ONE driver-parsed stdout line, enforcing the
    JSON_LINE_BUDGET contract: if the compact form still exceeds the
    budget (it should never — the test pins headroom), degrade by
    dropping the per-query map, keeping every scalar comparable."""
    line = json.dumps(payload)
    if len(line) > JSON_LINE_BUDGET and "queries" in payload:
        slim = dict(payload)
        del slim["queries"]
        line = json.dumps(slim)
    return line


def _warm_streaming(spark, sf_dir: str) -> None:
    """One tiny replay (2 chunks of the sf0.001 events) before the
    measured one: the first streaming query in a session pays one-time
    micro-batch machinery + codegen costs (measured 3+ extra seconds,
    pure startup noise). BASELINE.md's reference number is steady-state
    micro-batch throughput, so the comparable measurement is the warmed
    one — same reasoning as the batch-side flagship warmup."""
    import shutil
    import tempfile

    from banking_streaming_etl_spark import datamodel
    from banking_streaming_etl_spark.sources import stream as stream_src
    from banking_streaming_etl_spark.streaming import pipeline as spipe

    small_sf = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if not os.path.isdir(small_sf):
        small_sf = sf_dir
    work = tempfile.mkdtemp(prefix="bench_stream_warm_")
    try:
        stream_src.write_replay_chunks(
            spark, small_sf, f"{work}/chunks", n_chunks=2
        )
        tx = stream_src.read_transaction_stream(
            spark, f"{work}/chunks", max_files_per_trigger=2
        )
        out = spipe.approval_stream(
            tx,
            datamodel.users(spark, small_sf),
            datamodel.regions(spark, small_sf),
        )
        q = spipe.start_multi_sink(
            out,
            history_dir=f"{work}/hist",
            scores_dir=f"{work}/scores",
            checkpoint_dir=f"{work}/ckpt",
        )
        q.processAllAvailable()
        q.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)


def bench_streaming_replay(spark, sf_dir: str) -> tuple[float, float, list[int]]:
    """Replay the whole events table through the streaming approval pipeline
    (file-stream source -> watermark -> joins -> scores -> parquet sink via
    foreachBatch) and return (elapsed_sec, rows_per_sec, batch_ms) — the
    numbers BASELINE.md compares (~1000 tx/s micro-batched on the
    reference, ~1000 ms steady-state micro-batch duration). batch_ms is
    the per-batch triggerExecution duration of every non-empty batch."""
    import shutil
    import tempfile

    from banking_streaming_etl_spark import datamodel
    from banking_streaming_etl_spark.sources import stream as stream_src
    from banking_streaming_etl_spark.streaming import pipeline as spipe

    # q.recentProgress is capped by spark.sql.streaming.numRecentProgressUpdates
    # (default 100): a replay with more non-empty micro-batches than that
    # would silently report p50/p95 over only the most recent ones. Raise
    # the cap well above any replay length this bench produces.
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    work = tempfile.mkdtemp(prefix="bench_stream_")
    try:
        n_rows = stream_src.write_replay_chunks(
            spark, sf_dir, f"{work}/chunks", n_chunks=16
        )
        tx = stream_src.read_transaction_stream(
            spark, f"{work}/chunks", max_files_per_trigger=4
        )
        out = spipe.approval_stream(
            tx,
            datamodel.users(spark, sf_dir),
            datamodel.regions(spark, sf_dir),
        )
        t0 = time.perf_counter()
        q = spipe.start_multi_sink(
            out,
            history_dir=f"{work}/hist",
            scores_dir=f"{work}/scores",
            checkpoint_dir=f"{work}/ckpt",
        )
        q.processAllAvailable()
        elapsed = time.perf_counter() - t0
        batch_ms = [
            int((p.get("durationMs") or {}).get("triggerExecution", 0) or 0)
            for p in q.recentProgress
            if int(p.get("numInputRows", 0) or 0) > 0
        ]
        q.stop()
        return elapsed, n_rows / elapsed, batch_ms
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _warm(spark, queries, sf_dir: str) -> None:
    """Amortize one-time costs out of the per-query numbers: JVM/codegen
    (flagship run) and the session-shared shingle scans both dedup
    headliners read (operators/dedup.shared_shingle_hashes/_sizes) —
    materializing the shared INPUT once keeps each query's timing about
    ITS operator (banding vs brute join), not about who ran first."""
    if "approval_pipeline" in queries:
        queries["approval_pipeline"].fn(spark, sf_dir).count()
        # the session pin of the scored fact, read by zscore_per_payer,
        # top_k_recent and most dashboard and stats queries
        from banking_streaming_etl_spark.plans import dashboard as _dashboard

        _dashboard._approved(spark, sf_dir)
    if "near_dup_jaccard" in queries or "dedup_minhash_lsh" in queries:
        from banking_streaming_etl_spark.operators import dedup as _dedup

        _dedup.shared_shingle_hashes(spark, sf_dir).count()
        _dedup.shared_shingle_sizes(spark, sf_dir).count()
    if "ann_cosine_topk" in queries:
        from banking_streaming_etl_spark.operators import similarity as _sim

        _sim.shared_normed_embeddings(spark, sf_dir).count()


def _warm_family_memos(spark, sf_dir: str) -> None:
    """Materialize the session-shared family derivations (operators/
    memo: eager localCheckpoint, survives the between-query cache
    eviction) ONCE before the EXTRA sweep, so each family member's
    timing measures ITS operator — not whichever member ran first
    paying the shared build."""
    from banking_streaming_etl_spark.plans import behavior as _behavior
    from banking_streaming_etl_spark.plans import dashboard as _dashboard
    from banking_streaming_etl_spark.plans import stats as _stats
    from banking_streaming_etl_spark.plans import text as _text

    # the scored-fact pin, then the contingency kernel: building a
    # family member pins its kernel entry — the (modality),
    # (modality, value band), (value group), (value bin), (hour),
    # (value band) and (modality, hour) row keys — then the hourly
    # count series
    _dashboard._approved(spark, sf_dir)
    _dashboard.mi_modality_approval(spark, sf_dir)
    _stats.naive_bayes_approval(spark, sf_dir)
    _stats.two_proportion_approval_test(spark, sf_dir)
    _stats.js_divergence_value_by_approval(spark, sf_dir)
    _stats.cusum_hourly_drift(spark, sf_dir)
    _stats.cochran_armitage_trend(spark, sf_dir)
    _stats.ols_hourly_trend_by_modality(spark, sf_dir)
    _behavior._hourly_counts(spark, sf_dir)
    _dashboard._cal_rank_asc(spark, sf_dir)
    _dashboard._cal_rank_desc(spark, sf_dir)
    _dashboard._modality_value_ranked(spark, sf_dir)
    _behavior._km_risk_table(spark, sf_dir)
    _text._ndcg_candidates(spark, sf_dir)
    _text._macro_cand_gains(spark, sf_dir)


def _host_spark_jvms() -> int:
    """Count Spark JVMs on the host (this process's own included)."""
    jvms = 0
    try:
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    cmd = f.read()
            except OSError:
                continue
            if b"org.apache.spark" in cmd:
                jvms += 1
    except OSError:
        jvms = -1  # /proc unavailable (non-Linux); can't tell
    return jvms


def _hygiene_note(spark) -> tuple[str, int, float]:
    """Self-labeling solo-run hygiene (round-7 verdict task #8): bench
    timings are only comparable from a SOLO run with the pinned driver
    heap, so record both conditions in the output instead of trusting
    the operator to remember. Returns (note, spark_jvm_count, loadavg1m)
    so the artifact-write gate can act on the same facts the label
    records."""
    mem = spark.sparkContext.getConf().get("spark.driver.memory", "(unset)")
    jvms = _host_spark_jvms()
    # "no other Spark JVMs" is NOT "solo": a non-Spark CPU hog (pytest's
    # DuckDB pass, a compile job) still contaminates streaming throughput.
    # Record host load alongside so the label can't over-claim.
    label = (
        "no other Spark JVMs" if jvms == 1
        else "NOT solo - timings contaminated" if jvms > 1
        else "unknown"
    )
    try:
        load1 = round(os.getloadavg()[0], 1)
    except OSError:
        load1 = -1.0
    note = (
        f"hygiene: spark.driver.memory={mem}, "
        f"spark_jvms_on_host={jvms} ({label}), loadavg1m={load1}"
    )
    print(f"# {note}", file=sys.stderr)
    return note, jvms, load1


#: the SF whose timings are the round-over-round comparables — the only
#: SF whose runs may overwrite the committed BENCH_DETAIL.md.
DEFAULT_SF = 0.1


def _is_clean_run(
    start_jvms: int, end_jvms: int, load1: float, sf: float
) -> bool:
    """The committed-artifact gate (round-11 verdict task #1): two
    late-round sf0.001 dev runs — one alongside a live pytest JVM —
    clobbered the round's clean BENCH_DETAIL.md because every invocation
    rewrote it unconditionally. A run may write the committed artifact
    ONLY when it is solo at start AND finish (a pytest launched mid-run
    contaminates just as surely as one already running), the host was
    quiet at start, and the SF is the comparable default. Everything
    else diverts to the gitignored BENCH_SCRATCH.md."""
    return (
        start_jvms == 1
        and end_jvms == 1
        and 0.0 <= load1 < 1.0
        and sf == DEFAULT_SF
    )


def _time_headline(
    spark, queries, names, sf_dir: str, repeats: int = 1,
    clear_cache_between: bool = False,
) -> tuple[dict[str, float], dict[str, float], dict[str, list[float]]]:
    """Time each query `repeats` times; return (median, min, raw samples)
    per query.

    One sample per query cannot distinguish a plan regression from
    sandbox noise (the round-4 +28% headline mystery) — the comparable
    number is the MEDIAN of N runs, with the per-query MIN kept in the
    JSON so run-to-run variance stays visible. The RAW in-order samples
    go to BENCH_DETAIL.md (round-6 verdict task #8) so the next drift
    diagnosis can separate variance (spread within a query's samples)
    from level shifts (all samples moved) without re-running."""
    med: dict[str, float] = {}
    mins: dict[str, float] = {}
    raw: dict[str, list[float]] = {}
    for name in names:
        fn = queries[name].fn
        samples: list[float] = []
        n = -1
        for _ in range(repeats):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            n = df.count()
            samples.append(time.perf_counter() - t0)
        # the EXTRA sweep accumulates every query's session-lifetime lazy
        # persists; ~50 cached sf0.1 frames overflow any fixed heap, so
        # that group evicts between queries (timings there are cold-cache
        # per-operator numbers — stderr/detail only, never a comparable)
        if clear_cache_between:
            spark.catalog.clearCache()
        raw[name] = [round(s, 4) for s in samples]
        samples.sort()
        med[name] = round(samples[len(samples) // 2], 4)
        mins[name] = round(samples[0], 4)
        print(
            f"# {name}: {n} rows, median {med[name]:.3f}s over "
            f"{repeats} run(s) (min {mins[name]:.3f}s)",
            file=sys.stderr,
        )
    return med, mins, raw


def bench_ivf_pq_split(spark, sf_dir: str) -> tuple[float, float]:
    """Time the IVFPQ index BUILD (train + encode — the offline batch
    job) separately from the SEARCH (probe + ADC + re-rank — the online
    serving path) so the headline number for the serving latency is not
    inflated by construction (round-4 verdict task #5)."""
    from banking_streaming_etl_spark.operators import similarity

    emb = similarity.shared_normed_embeddings(spark, sf_dir)
    # re-register the memo in the cache manager: the EXTRA sweep's
    # between-query eviction ran just before this split
    emb.cache()
    emb.count()  # warm the memoized scan: neither phase times raw IO
    t0 = time.perf_counter()
    cent, books, codes = similarity.ivf_pq_index(emb)
    cent, books, codes = cent.cache(), books.cache(), codes.cache()
    cent.count(), books.count(), codes.count()
    build = time.perf_counter() - t0
    t1 = time.perf_counter()
    n = similarity.ivf_pq_search(emb, cent, books, codes).count()
    search = time.perf_counter() - t1
    print(
        f"# ann_ivf_pq split: build {build:.3f}s, search {search:.3f}s "
        f"({n} result rows)",
        file=sys.stderr,
    )
    for d in (cent, books, codes):
        d.unpersist()
    return round(build, 4), round(search, 4)


def bench_bpe_cadence(spark, sf_dir: str) -> str:
    """BPE checkpoint-cadence datapoint (round-5 verdict task #6): train
    a non-toy 64-merge budget at sf0.001 (the trainer is vocabulary-
    sized after its single corpus scan, so the small sf measures the
    per-merge loop, not IO) and report wall time + live-plan fold depth.
    The cadence CONTRACT (depth <= BPE_CHECKPOINT_EVERY at any budget)
    is pinned by tests/test_text_analysis.py; this is the visible
    round-over-round timing. Stderr/detail-file only."""
    from banking_streaming_etl_spark.plans import text as text_plans

    small_sf = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if not os.path.isdir(small_sf):
        small_sf = sf_dir
    t0 = time.perf_counter()
    merges, base, wf = text_plans._bpe_train(spark, small_sf, n_merges=64)
    elapsed = time.perf_counter() - t0
    depth = wf._jdf.queryExecution().analyzed().toString().count("aggregate(")
    base.unpersist()
    note = (
        f"bpe_train_64_merges: {elapsed:.3f}s at {os.path.basename(small_sf)} "
        f"({len(merges)} merges adopted, live-plan fold depth {depth} <= "
        f"{text_plans.BPE_CHECKPOINT_EVERY})"
    )
    print(f"# {note}", file=sys.stderr)
    return note


def _write_detail(payload: dict, clean: bool = True, out_dir: str | None = None,
                  **detail) -> str:
    """Write the per-query detail the compact stdout line no longer
    carries (verdict task #1) next to this script — committed by the
    round, so detail stays diffable round-over-round without riding the
    driver's 2,000-char stdout tail.

    Hygiene-gated (round-11 verdict task #1): only a clean run (see
    `_is_clean_run`) may overwrite the committed BENCH_DETAIL.md;
    contaminated or non-default-SF runs go to the gitignored
    BENCH_SCRATCH.md so a post-snapshot dev run can never clobber the
    round's adjudicated evidence. Returns the path written."""
    if out_dir is None:
        out_dir = os.path.dirname(os.path.abspath(__file__))
    fname = "BENCH_DETAIL.md" if clean else "BENCH_SCRATCH.md"
    if not clean:
        print(
            "# hygiene gate: run is not clean-solo-default-SF — detail "
            "diverted to BENCH_SCRATCH.md (gitignored); the committed "
            "BENCH_DETAIL.md is untouched",
            file=sys.stderr,
        )
    # round-12 verdict task #3: the external driver's own post-snapshot
    # bench run can legitimately pass the hygiene gate and regenerate
    # this file — label every write with its origin so builder-gated
    # and external artifacts are distinguishable in the diff. The
    # builder exports SPARK_GRAFT_BENCH_ORIGIN=builder-gated for its
    # adjudicated runs; anything else (the driver, a dev shell) is
    # self-labeled external/unlabeled.
    origin = os.environ.get(
        "SPARK_GRAFT_BENCH_ORIGIN", "external/unlabeled"
    )
    path = os.path.join(out_dir, fname)
    with open(path, "w") as f:
        f.write("# Bench detail (full-precision; stdout line is compact)\n")
        f.write(f"# run_origin: {origin}\n\n")
        f.write("```json\n")
        f.write(json.dumps({"summary": payload, **detail}, indent=1))
        f.write("\n```\n")
        # round adjudication notes live in BENCH_ADJUDICATIONS.md (a
        # committed append-only doc) so this per-run rewrite can never
        # serve a stale round's notes beside fresh numbers
        f.write("\nStanding drift-vs-real adjudications: see "
                "BENCH_ADJUDICATIONS.md (not regenerated by runs).\n")
    return path


def _await_quiet_host() -> None:
    """One startup check (round-9 verdict task #3): the committed r9
    snapshot bench was captured at loadavg1m=2.3 when a same-day
    loadavg-0.4 run existed — run selection must USE the hygiene data.
    If the 1-min load is >= 1.0, wait for the host to go quiet (up to
    SPARK_GRAFT_BENCH_LOAD_WAIT seconds, default 300, polling every
    15s) before spawning the JVM or timing anything. Deliberately never
    refuses outright — the driver must always get its one-line JSON
    artifact — but a dirty start is warned loudly and the hygiene note
    records the final loadavg either way."""
    try:
        load = os.getloadavg()[0]
    except OSError:
        return
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_LOAD_WAIT", "300"))
    waited = 0.0
    while load >= 1.0 and waited < budget:
        print(
            f"# host busy (loadavg1m={load:.1f} >= 1.0): waiting up to "
            f"{budget:.0f}s for a quiet host ({waited:.0f}s elapsed)",
            file=sys.stderr,
        )
        time.sleep(15.0)
        waited += 15.0
        load = os.getloadavg()[0]
    if load >= 1.0:
        print(
            f"# WARNING: starting DIRTY (loadavg1m={load:.1f} >= 1.0 after "
            f"{budget:.0f}s wait) — timings are not round-over-round "
            "comparable; prefer a labeled-clean run",
            file=sys.stderr,
        )


def main() -> None:
    _await_quiet_host()
    # Belt-and-braces twin of session.get_spark's spark.pyspark.python pin:
    # under a scrubbed env, executor workers resolving python via $PATH land
    # on a pandas-less system interpreter and every mapInPandas query dies.
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = -1.0  # unconventional dir name; still emit the JSON line
    spark = get_spark(app_name="bench")
    hygiene, start_jvms, load1 = _hygiene_note(spark)

    queries = registry.all_queries()
    names = [n for n in HEADLINE if n in queries]

    _warm(spark, queries, sf_dir)
    timings, timings_min, timings_raw = _time_headline(
        spark, queries, names, sf_dir, repeats=3
    )

    # streaming replay runs BEFORE the scale-curve pass: streaming_tx_per_s
    # is the round-over-round comparable metric, so it must be measured
    # under the same session state every round — not after a second sf's
    # cached relations and codegen have piled up. MEDIAN of 3 full
    # replays (round-8): the first replay after JVM start is 20-40%
    # slower than steady state even after _warm_streaming (codegen +
    # state-store class loading), and a single shot conflates that
    # warm-up with real regressions — the same reasoning that made the
    # batch headline a median_of_3 in round 6.
    _warm_streaming(spark, sf_dir)
    replays = [bench_streaming_replay(spark, sf_dir) for _ in range(3)]
    print(
        "# streaming_replay raw samples: "
        + ", ".join(f"{r[1]:,.0f} tx/s" for r in replays),
        file=sys.stderr,
    )
    stream_sec, tx_per_s, batch_ms = sorted(replays, key=lambda r: r[1])[1]
    timings["streaming_replay"] = round(stream_sec, 4)

    # scale-curve datapoint: the same headline set one decade down
    # (sf0.01), so the design-for-scale claim carries an empirical slope —
    # near-linear scaling expected; a super-linear query is a red flag.
    sf001_total = None
    timings_sf001: dict[str, float] = {}
    sf001_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.01")
    if os.path.isdir(sf001_dir) and os.path.abspath(sf001_dir) != os.path.abspath(
        sf_dir.rstrip("/")
    ):
        print(f"# scale curve: re-running headline at {sf001_dir}", file=sys.stderr)
        _warm(spark, queries, sf001_dir)
        timings_sf001, _, _ = _time_headline(spark, queries, names, sf001_dir)
        sf001_total = round(sum(timings_sf001.values()), 4)

    # extension families LAST: headline totals and the streaming replay
    # keep their round-over-round session state untouched.
    ext_names = [n for n in EXTENDED if n in queries]
    print("# extension families", file=sys.stderr)
    # family memos warm BEFORE the first consumer group (risk_score_auc
    # in EXTENDED reads the shared ASC rank): per-query timings measure
    # the operator, not whoever ran first paying the shared build
    _warm_family_memos(spark, sf_dir)
    ext_timings, _, _ = _time_headline(spark, queries, ext_names, sf_dir)
    ext_total = round(sum(ext_timings.values()), 4)
    # EXTRA = pinned comparable core + half of the rotating remainder
    # (rotation keyed on the round count unless overridden) — named
    # skips, never silent
    rot_env = os.environ.get("SPARK_GRAFT_EXTRA_ROTATION")
    if rot_env is not None:
        rot = int(rot_env)
    else:
        import glob as _glob

        rot = len(
            _glob.glob(
                os.path.join(
                    os.path.dirname(os.path.abspath(__file__)),
                    "BENCH_r*.json",
                )
            )
        )
    rot %= 2
    rotating = [n for i, n in enumerate(EXTRA_ROTATING) if i % 2 == rot]
    skipped = [n for i, n in enumerate(EXTRA_ROTATING) if i % 2 != rot]
    print(
        f"# extra rotation slice {rot}: skipping {len(skipped)} rotating "
        f"entries this round: {', '.join(skipped)}",
        file=sys.stderr,
    )
    extra_names = [n for n in EXTRA_CORE + rotating if n in queries]
    print("# extra group (stderr/detail-file only)", file=sys.stderr)
    extra_timings, _, _ = _time_headline(
        spark, queries, extra_names, sf_dir, clear_cache_between=True
    )
    extra_core_total = round(
        sum(v for k, v in extra_timings.items() if k in EXTRA_CORE), 4
    )
    ivf_build, ivf_search = bench_ivf_pq_split(spark, sf_dir)
    bpe_note = bench_bpe_cadence(spark, sf_dir)
    batch_sorted = sorted(batch_ms)

    def _pct(q: float) -> int:
        if not batch_sorted:
            return 0
        return batch_sorted[min(len(batch_sorted) - 1, int(q * len(batch_sorted)))]

    print(
        f"# streaming_replay: {stream_sec:.3f}s ({tx_per_s:,.0f} tx/s, "
        f"batch p50={_pct(0.5)}ms p95={_pct(0.95)}ms)",
        file=sys.stderr,
    )

    total = round(sum(timings.values()), 4)
    is_clean = _is_clean_run(start_jvms, _host_spark_jvms(), load1, sf)
    # ONE compact stdout line for the driver (JSON_LINE_BUDGET contract);
    # everything per-query-detailed goes to stderr `#` lines above and to
    # BENCH_DETAIL.md below. `timing` records the methodology so the
    # round-over-round headline totals stay interpretable (medians of 3
    # with warm runs 2-3, vs rounds 1-4's single cold shot).
    payload = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "timing": "median_of_3",
        # round-13 verdict #5: the hygiene verdict rides the PARSED
        # artifact (not just the stderr tail) so a contaminated driver
        # capture is machine-readably self-flagged in BENCH_r{N}.json
        "clean": is_clean,
        "queries": {k: round(v, 2) for k, v in timings.items()},
        # the BASELINE.md comparison numbers: the reference's
        # published ceiling is ~1,000 tx/s micro-batched
        # (maxOffsetsPerTrigger) at ~1,000 ms steady-state batches
        "streaming_tx_per_s": round(tx_per_s, 1),
        "streaming_batch_ms_p50": _pct(0.5),
        "streaming_batch_ms_p95": _pct(0.95),
        # one decade down the scale curve (None when the sibling
        # sf0.01 dir is absent or IS the target dir)
        "headline_sf001_total": sf001_total,
        # round-4 extension families (separate group: HEADLINE stays
        # round-over-round comparable; per-query detail in BENCH_DETAIL.md)
        "extended_total": ext_total,
        # pinned EXTRA core (the ~17 slowest round-7 entries, run every
        # round with named rotation skips — the sweep's comparable)
        "extra_core_total": extra_core_total,
        # IVFPQ offline/online split (extended's ann_ivf_pq_topk
        # conflates the two on purpose — it is the cold end-to-end number)
        "ann_ivf_pq_build": ivf_build,
        "ann_ivf_pq_search": ivf_search,
    }
    _write_detail(
        payload,
        clean=is_clean,
        hygiene=hygiene,
        streaming_replay_samples=[
            {"sec": round(r[0], 3), "tx_per_s": round(r[1], 1)}
            for r in replays
        ],
        extra_rotation={"slice": rot, "skipped": skipped},
        timings_min=timings_min,
        timings_raw_samples=timings_raw,
        queries_sf001=timings_sf001,
        queries_extended=ext_timings,
        queries_extra=extra_timings,
        bpe_note=bpe_note,
    )
    print(emit_json_line(payload))


if __name__ == "__main__":
    main()

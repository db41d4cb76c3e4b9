"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]``.

Output contract (reworked in r10 — VERDICT r9 ask #2): the HEADLINE
list grew past 110 queries, so the full result JSON no longer fits the
driver artifact's 2000-char stdout tail (BENCH_r09.json recorded
``parsed: null`` with headline_total cut off). Now:

- stdout gets ONE COMPACT JSON line (< 2000 chars, so the driver's
  tail capture holds the WHOLE line and can parse it again)::

      {"metric": "core_total", "value": <sec>, "unit": "sec",
       "queries": {<the frozen CORE28 subset only>},
       "headline_total": <sec>, "headline_n": N,
       "recall_at_5": {...}, "sf": 0.1,
       "full_results": "BENCH_local.json"}

  ``core_total`` sums the frozen CORE28 subset (below) — the same 28
  queries every round, so round-over-round comparison survives even as
  HEADLINE grows.
- the FULL per-query results (every HEADLINE timing + ANN build/serve
  splits) are written to ``BENCH_local.json`` next to this file and
  committed each round.

Each query is forced to full materialization with a noop sink (count()
would let Catalyst prune the output expressions). Timings are per-query
wall clock on a warm session; the session build itself is not counted
(the driver measures engine throughput, not JVM startup).
"""

from __future__ import annotations

import json
import os
import time

import __spark_entry__ as entrymod
from beauty_lakehouse_spark import memo
from beauty_lakehouse_spark.session import get_spark

#: FROZEN round-over-round comparison subset (VERDICT r9 ask #2): the
#: first 28 HEADLINE entries, unchanged since round 5. core_total sums
#: exactly these; NEVER add to or reorder this list — a new heavy query
#: belongs in HEADLINE (full results in BENCH_local.json), not here.
CORE28 = [
    "pricing_summary", "shipping_priority", "local_supplier_volume",
    "fact_sales_summary", "order_revenue", "customer_running_spend",
    "copurchase_edges", "ngram_jaccard_top_pairs", "lsh_candidate_pairs",
    "events_sessions", "knn_brute", "order_value_percentiles",
    "purchase_time_since_view", "corpus_cleaning_report", "decontaminate",
    "sequence_packing", "dedup_clusters", "product_pagerank_exact",
    "late_ship_priority_orders", "sole_late_supplier_orders", "chunk_dedup",
    "training_order_shuffle", "product_triangles", "minhash_estimate_error",
    "events_hourly_streamed", "event_volume_anomalies", "bpe_encode",
    "user_state_scd2",
]

#: The headline subset: one representative per operator family, weighted
#: toward the scan/join/shuffle-heavy shapes that dominate at 100 TB.
HEADLINE = [
    "pricing_summary",        # TPC-H Q1: scan-heavy aggregate
    "shipping_priority",      # TPC-H Q3: filters + 2 joins + top-k
    "local_supplier_volume",  # TPC-H Q5: 5-way join
    "fact_sales_summary",     # star join + cube-grain rollup
    "order_revenue",          # big-fact groupBy
    "customer_running_spend", # window frame aggregation
    "copurchase_edges",       # self-join co-occurrence graph
    "ngram_jaccard_top_pairs",# shingle inverted-index dedup
    "lsh_candidate_pairs",    # MinHash + banded LSH
    "events_sessions",        # session windows
    "knn_brute",              # similarity search baseline
    "order_value_percentiles",# exact quantiles via bucket-count selection
    "purchase_time_since_view",# as-of join (union + last-non-null window)
    "corpus_cleaning_report", # composed dedup/lang/quality decision
    "decontaminate",          # train x test posting-list 3-gram join
    "sequence_packing",       # two-level global prefix sum
    "dedup_clusters",         # near-dup graph connected components
    "product_pagerank_exact", # fixed-point iterative pagerank
    "late_ship_priority_orders",   # EXISTS as fact-side semi join
    "sole_late_supplier_orders",   # EXISTS+NOT EXISTS via group+window
    "chunk_dedup",            # shuffle-free window expansion + posting groupBy
    "training_order_shuffle", # two-level deterministic global ordering
    "product_triangles",      # wedge-close triangle join
    "minhash_estimate_error", # signature merge + set-intersection scoring
    "events_hourly_streamed", # streaming drain vs its batch twin (events_hourly)
    "event_volume_anomalies", # trailing-RANGE-frame integer 3-sigma monitor
    "bpe_encode",             # tokenizer apply: codegen replace chain
    "user_state_scd2",        # SCD2 islands: lag/running-sum/lead windows
    "corpus_survivors",       # end-to-end capstone: closure+clean+split composed
    "part_golden_record",     # entity-resolution survivorship merge
    "pca_power_iteration",    # fixed-point iterative PCA
    "ccnet_buckets",          # perplexity-tercile corpus bucketing
    "merge_upsert_state",     # merge-on-read MERGE, deltas applied on read
    "lsh_index_maintained",   # ANN index build + incremental MERGE maintenance
    # round-7 heavy tail (VERDICT r7 ask #4): every new expensive entry
    # is benched the round it lands — the r5 part_golden_record lesson
    "setsim_clusters",        # signature-collapse + prefix join + CC clustering
    "substring_dedup",        # ExactSubstr window dedup + text reconstruction
    "ann_topk_exactint",      # hash-verifiable grid ANN + fixed-point rerank
    "ivf_topk_exactint",      # hash-verifiable IVF cells ANN (new in r8)
    "pq_topk_exactint",       # hash-verifiable PQ codes ANN (new in r8)
    "ivfpq_topk_exactint",    # hash-verifiable IVF-PQ composition (new in r8)
    "cms_term_estimates",     # count-min sketch grid + point queries
    # streaming drains beyond events_hourly_streamed (VERDICT r7 ask #6)
    "winnow_fps_streamed",    # streamed winnowing fingerprints
    "cms_cells_streamed",     # streamed count-min cell aggregate
    "table_stats_streamed",   # streamed ANALYZE profile drain (new in r8)
    "ddsketch_value_quantiles",  # log-bucket quantile sketch (new in r8)
    "media_phash_pairs_exactint",  # integer-DCT pHash near-dup pairs (new in r9)
    "media_audio_pairs_exactint",  # integer-DFT audio fingerprint pairs (new in r9)
    "media_phash_stream",     # fingerprint-at-ingest streaming drain (new in r9)
    "events_multires_rollup", # hypertable minute→hour→day cascade (new in r9)
    "events_multires_streamed", # real-time continuous-aggregate drain (new in r9)
    "zipf_law_fit",           # fixed-point Zipf-exponent corpus diagnostic (new in r9)
    "copurchase_bfs_hops",    # bounded multi-source BFS frontier expansion (new in r9)
    "benford_price_digits",   # fixed-point Benford first-digit audit (new in r9)
    "table_checksums",        # anti-entropy order-insensitive fingerprints (new in r9)
    "orders_checksum_streamed",  # fingerprint-at-ingest checksum drain (new in r9)
    "key_skew_profile",       # join-key skew diagnostics, count-of-counts Gini (new in r9)
    "orders_partition_checksums",  # partition-grain anti-entropy fingerprints (new in r9)
    "orders_antientropy_sync", # detect->re-ship->verify repair capstone (new in r9)
    "lsh_tuning_curve",       # measured (bands,rows) banding trade-off table (new in r9)
    "part_stock_balance",     # clamped running balance via scan identity (new in r9)
    "bm25_topk",              # exact-integer Okapi BM25 retrieval (new in r9)
    "part_pareto_frontier",   # bucket-pruned 2-D skyline (new in r9)
    "segment_weighted_quantiles",  # exact weighted median/quartiles (new in r9)
    "ddsketch_quantiles_streamed",  # quantiles-at-ingest sketch drain (new in r9)
    "segment_priority_chisq",  # fixed-point chi-square independence test (new in r9)
    "order_interval_overlaps",  # per-key interval overlap join (new in r9)
    "bloom_semijoin_pushdown",  # runtime bloom-filter join pushdown (new in r9)
    "nation_revenue_trend",   # per-group fixed-point OLS slope (new in r9)
    "user_modal_event",       # sort-free mode aggregate (new in r9)
    "span_corruption_masks",  # T5-style denoising mask generator (new in r9)
    "source_quota_apportionment",  # largest-remainder budget allocation (new in r9)
    "user_behavior_entropy",  # per-user Markov entropy rate (new in r9)
    "user_modal_streamed",    # mode-at-ingest streaming drain (new in r9)
    "ngram_containment_top_pairs",  # asymmetric-overlap dedup twin (new in r9)
    "orders_merkle_root",     # hierarchical anti-entropy digest (new in r9)
    "events_rate_capped",     # deterministic ingestion throttle (new in r9)
    "retention_decay_fit",    # censored exponential retention fit (new in r9)
    "kanonymity_profile",     # privacy equivalence-class histogram (new in r9)
    "table_release_gate",     # one-report publish decision capstone (new in r9)
    "heaps_law_fit",          # vocabulary-growth corpus diagnostic (new in r9)
    "source_vocab_overlap",   # cross-source domain-similarity matrix (new in r9)
    "copurchase_adamic_adar", # degree-weighted link prediction (new in r9)
    "user_stickiness",        # WAU/MAU engagement ratio (new in r9)
    "copurchase_cosine_top",  # cosine link prediction (new in r9)
    "user_activity_streaks",  # gaps-and-islands engagement streaks (new in r9)
    "kaplan_meier_repeat",    # non-parametric survival curve (new in r9)
    "segment_price_ttest",    # Welch mean-comparison test (new in r9)
    "shard_rendezvous_stats", # HRW consistent-placement audit (new in r9)
    "zone_map_pruning",       # data-skipping effectiveness report (new in r9)
    "events_rate_capped_streamed",  # throttle-at-ingest stateful drain (new in r9)
    "part_price_band_join",   # bucket-decomposed numeric band join (new in r9)
    "status_bitmap_algebra",  # bitmap index build + word-grain set algebra (new in r9)
    "kaplan_meier_streamed",  # survival-at-ingest min-2 stateful drain (new in r9)
    "er_blocking_quality",    # blocking reduction-ratio / completeness audit (new in r9)
    "negative_sampling_table", # word2vec freq^(3/4) Hamilton table (new in r9)
    "ldiversity_profile",     # homogeneity-attack privacy guard (new in r9)
    "bootstrap_mean_ci",      # deterministic Poisson-bootstrap interval (new in r9)
    "copurchase_eval_hitrate", # leakage-free recommender backtest (new in r9)
    "price_drift_ks",         # exact two-sample Kolmogorov-Smirnov drift test (new in r9)
    "revenue_theil_sen",      # robust median-of-slopes trend (new in r9)
    "view_purchase_join_streamed",  # stream-stream event-time join drain (new in r9)
    "markov_conversion_prob", # absorbing-Markov funnel value iteration (new in r9)
    "segment_price_utest",    # Mann-Whitney rank-sum with tie correction (new in r9)
    "cuped_adjusted_diff",    # CUPED variance-reduced group comparison (new in r9)
    "bootstrap_mean_streamed", # resampling-at-ingest bootstrap drain (new in r9)
    "brand_price_elasticity", # log-log demand-curve OLS per brand (new in r9)
    "feature_hash_stats",     # hashing-trick collision audit (new in r9)
    "neyman_allocation",      # variance-optimal stratified sample design (new in r9)
    "term_burstiness",        # Fano-factor overdispersion audit (new in r9)
    "revenue_cusum",          # CUSUM level-shift detector via scan identity (new in r9)
    "knn_label_accuracy",     # kNN label-consistency embedding probe (new in r9)
    "join_cardinality_estimate",  # optimizer-stats quality diagnostic (new in r9)
    "window_funnel_strict",   # ClickHouse-style windowed ordered funnel (new in r9)
    "bbit_minhash_estimates", # 1-bit minhash compression trade-off study (new in r9)
    "fk_discovery",           # value-containment FK detection audit (new in r9)
    "range_partition_boundaries",  # equal-rows range-layout designer (new in r9)
    "shapley_channel_attribution", # game-theoretic multi-touch attribution (new in r9)
    "copurchase_kcore",       # bounded-round k-core density peel (new in r9)
    "lang_id_kappa",          # chance-corrected classifier agreement (new in r9)
    "brand_return_bayes_rank", # small-sample-safe Bayesian-average ranking (new in r9)
    "revenue_pareto_cut",     # exact 80/20 concentration cut (new in r9)
    "supplier_hhi",           # Herfindahl supply-concentration index (new in r9)
    "interpurchase_regularity", # CV^2 order-cadence behavioral feature (new in r9)
    "position_attribution",   # U-shaped rule-based multi-touch credit (new in r10)
    "time_decay_attribution", # per-day halving decay credit, shift-exact (new in r10)
    "temporal_gap_coalesce",  # temporal pack: gaps-and-islands interval union (new in r10)
    "hot_keys_top",           # key-grain salting candidates report (new in r10)
    "selectivity_audit",      # equi-width vs equi-depth histogram estimator audit (new in r10)
    "column_encoding_stats",  # dict/RLE encoding advisor over curated layout (new in r10)
    "randomization_test_diff", # splitmix60 Bernoulli label-shuffle inference (new in r10)
    "ann_ndcg_exactint",      # graded hash-verifiable retrieval quality (new in r10)
    "matryoshka_prefix_recall", # prefix-dim truncation trade-off table (new in r10)
    "info_gain_features",     # decision-tree split criterion feature ranking (new in r10)
    "deterministic_random_walks", # DeepWalk corpus via splitmix60 neighbor picks (new in r10)
    "label_propagation_communities", # sync min-tie-break LPA, mode without sort (new in r10)
    "fellegi_sunter_weights", # probabilistic record-linkage m/u model (new in r10)
    "incremental_topk_state", # top-k IVM over the maintained full-key state (new in r10)
    "sprt_decision",          # Wald sequential test walk over the day grid (new in r10)
    "sprt_streamed",          # sequential-test-at-ingest drain (new in r10)
    "rake_keyword_scores",    # phrase-degree keyword extraction (new in r10)
    "rrf_fusion_exactint",    # hash-verifiable reciprocal rank fusion (new in r10)
    "revenue_runs_test",      # Wald-Wolfowitz randomness test, sqrt-free z^2 (new in r10)
    "kmv_distinct_estimate",  # bottom-k distinct sketch next to the HLL (new in r10)
    "bloom_fpr_audit",        # one-pass Bloom k-sweep: occupancy vs FPR (new in r10)
    "mmr_rerank_exactint",    # diversity-aware greedy re-rank, unrolled (new in r10)
    "exactsubstr_spans",      # ExactSubstr maximal variable-length span dedup (new in r11)
    "domain_dedup_mixture",   # URL/domain dedup + quality-weighted Hamilton mixture (new in r11)
    "domain_dedup_streamed",  # URL-dedup-at-ingest min-1 state drain (new in r11)
    "dsir_importance",        # DSIR hashed-bigram importance weights (new in r11)
    "kneser_ney_bigrams",     # exact-rational interpolated KN smoothing (new in r11)
    "hyperball_neighborhood", # HLL-counter neighborhood function, 3 rounds (new in r11)
    "tokenizer_fertility",    # per-source pieces/token audit under the fixed BPE (new in r11)
    "kmv_set_algebra",        # bottom-k union/intersection estimators (new in r11)
    "calibration_report",     # kNN vote-share reliability table + ECE (new in r11)
    "dsir_streamed",          # importance-model-at-ingest DSIR drain (new in r11)
    "hyperball_closeness",    # truncated harmonic centrality top-20 (new in r11)
    "good_turing_smoothing",  # exact-rational GT adjusted counts + unseen mass (new in r11)
    "nb_lang_classifier",     # trained multinomial NB lang classifier, micro-nat rule (new in r11)
    "nb_lang_streamed",       # classify-at-ingest NB drain (new in r11)
    "mann_kendall_trend",     # tie-corrected monotone-trend test, calendar-bounded pairs (new in r11)
    "hilbert_curve_keys",     # Hamilton xy->d walk as one fold, 16-bit grid (new in r11)
    "community_modularity",   # Newman Q of the LPA partition, exact numerators (new in r11)
    "signbit_topk_exactint",  # binary-quantized ANN: sign-bit Hamming pool + exact rerank (new in r11)
    "clustering_coefficients",  # wedge-close local density + global transitivity (new in r11)
    "degree_assortativity",   # Newman degree-mixing correlation, exact numerators (new in r11)
    "kruskal_wallis_segments",  # k-group rank test on the value-domain grid (new in r11)
    "brand_return_woe_iv",    # credit-scoring WoE/IV feature audit (new in r11)
    "spearman_price_qty",     # doubled-rank monotone association, rho^2 ppm (new in r11)
    "gopher_quality_flags",   # thresholded quality rule card, one narrow scan (new in r11)
    "gopher_quality_streamed",  # filter-at-ingest rule-card drain (new in r11)
    "js_divergence_sources",  # JSD between source halves, signed ln_micro KL (new in r11)
    "compaction_plan",        # OPTIMIZE bin packing over day micro-files (new in r11)
    "copurchase_ktruss",      # edge-support truss peel, 4 unrolled rounds (new in r11)
    "silhouette_simplified",  # centroid-form clustering quality in ppm (new in r11)
    "twonn_intrinsic_dim",    # Two-NN intrinsic-dimension MLE, 50-query panel (new in r11)
    "revenue_acf",            # exact ACF lags 1..7 + Ljung-Box portmanteau (new in r11)
    "tcloseness_profile",     # ordered-domain EMD privacy profile (new in r11)
    "mcnemar_lang_classifiers",  # paired NB-vs-lexicon discordant-cell test (new in r11)
    "fleiss_kappa_langids",   # multi-rater label agreement, rational form (new in r11)
    "order_metric_correlations",  # pairwise Pearson matrix via unpivot join (new in r11)
    "cramers_v_matrix",       # categorical association screen, 3 pairs (new in r11)
    "revenue_changepoint",    # binary-segmentation mean-shift top-3 splits (new in r11)
    "fim_transform",          # FIM PSM/SPM corpus transform, map-only (new in r11)
    "vocab_richness",         # Chao1/Yule/Simpson bigram-type card (new in r11)
    "cochran_armitage_trend", # ordered dose-response trend test (new in r11)
    "logrank_segments",       # censoring-correct two-sample survival test (new in r11)
    "ams_f2_estimate",        # tug-of-war F2 sketch, bit-identical counters (new in r11)
    "priority_sample",        # Duffield-Thorup weighted sample + estimator (new in r11)
    "page_hinkley_drift",     # running-mean sequential drift ledger (new in r11)
    "page_hinkley_streamed",  # drift-at-ingest drain (new in r11)
    "hits_hubs_authorities",  # bipartite HITS, max-normalized rounds (new in r11)
    "query_likelihood_lm",    # Dirichlet-smoothed LM retrieval (new in r11)
    "effective_diameter",     # HyperBall 90% distance percentile (new in r11)
    "isotonic_calibration",   # PAVA minimax reliability fit (new in r11)
    "dp_event_histogram",     # eps-DP geometric-mechanism release (new in r11)
    "hard_negative_mining",   # ANN wrong-label margin mining (new in r11)
    "textrank_keywords",      # pagerank keyword graph over vocabulary (new in r11)
    "count_sketch_estimates", # unbiased signed-row frequency sketch (new in r11)
    "burrows_delta",          # stylometric z-profile source distances (new in r11)
    "cdc_chunks",             # content-defined chunk store audit (new in r11)
    "keyness_llr",            # Dunning G^2 corpus keyness (new in r11)
    "mlm_masks",              # BERT 80/10/10 masking transform (new in r11)
    "hill_tail_index",        # heavy-tail exponent over spend (new in r11)
    "theil_u_matrix",         # asymmetric uncertainty coefficients (new in r11)
    "cohort_ltv",             # first-order cohort LTV curves (new in r11)
    "packing_efficiency",     # pad-waste audit of 3 packing layouts (new in r11)
    "nelson_aalen_repeat",    # cumulative-hazard survival ledger (new in r11)
    "revenue_pacf",           # Durbin-Levinson partial autocorrelation (new in r11)
    "media_dedup_clusters",   # perceptual-cluster closure over pHash pairs (new in r11)
    "lorenz_customer_deciles",  # exact-ntile Lorenz concentration curve (new in r12)
    "ks_two_sample",          # two-sample KS on the bounded value grid (new in r12)
    "hurst_rs",               # rescaled-range Hurst exponent (new in r12)
    "media_phash_pairs_pngcodec",  # pHash THROUGH the real PNG codec (new in r12)
    "media_dedup_maintained", # MERGEd pHash index = rebuild IVM law (new in r12)
    "cliffs_delta",           # rank-derived effect size on the value grid (new in r12)
    "wilcoxon_signed_rank",   # paired signed-rank test, |d| grid ranks (new in r12)
    "holt_linear_forecast",   # exact-integer double exponential smoothing (new in r12)
    # --- new in r13 ---
    "quantile_sketches",           # graduated DDSketch register profile + boundary-grid fast path
    "media_phash_pairs_jpegcodec", # stdlib baseline JPEG decode -> exact-int pHash pairs
    "run_media_pipeline",          # multimodal capstone (ingest -> clusters -> published index)
    "ols_residual_diagnostics",    # R^2 / Durbin-Watson on the daily-revenue fit
    "jarque_bera_residuals",       # residual normality (moments + isqrt sd)
    "revenue_weekday_profile",     # classical weekday decomposition
]

#: ANN recall measurement: each index's top-5 vs the exact knn_brute
#: ground truth at bench SF — a refactor that silently costs recall
#: shows up here, not just in toy-scale pytest floors. The *_hi rows
#: are the high-recall configurations (more probes / bigger rerank
#: pool). Since r7 (VERDICT ask #5) index CONSTRUCTION is timed
#: separately from query SERVING: each index family is built and
#: materialized ONCE ("ann_build_sec", amortized over every batch a
#: production pipeline serves), then every configuration sharing that
#: index is served from it ("ann_serve_sec") — nprobe / rerank_factor /
#: probe radius are query-time dials. Previously "ann_cost_sec"
#: conflated the two, which made IVF's hi-recall point look nearly
#: free (+7% wall for 3x scored fraction).


def _topk_sets(rows) -> dict[int, set[int]]:
    out: dict[int, set[int]] = {}
    for r in rows:
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
    return out


def measure_ann(
    spark, sf_dir: str, queries
) -> tuple[dict[str, float], dict[str, float], dict[str, float]]:
    from pyspark.sql import functions as F

    from beauty_lakehouse_spark.catalog import load
    from beauty_lakehouse_spark.operators import similarity as S

    t = load(spark, sf_dir)
    corpus = t.embeddings
    qv = corpus.filter(F.col("vec_id") < 20)
    truth = _topk_sets(queries["knn_brute"](spark, sf_dir).collect())

    builds: dict[str, float] = {}

    def build(name, fn):
        t0 = time.perf_counter()
        idx = fn()
        builds[name] = round(time.perf_counter() - t0, 3)
        return idx

    # one index per family (the *_hi configs reuse it; only LSH-hi
    # needs its own — 16 tables means a different signature table)
    lsh = build("lsh", lambda: S.lsh_build(spark, corpus, 8, 6))
    lsh_hi = build("lsh_hi", lambda: S.lsh_build(spark, corpus, 8, 16))
    ivf = build("ivf", lambda: S.ivf_index(corpus))
    pq = build("pq", lambda: S.pq_build(corpus))
    ivfpq = build("ivfpq", lambda: S.ivfpq_build(corpus))

    serves = {
        "knn_lsh": lambda: S.ann_lsh_topk(spark, qv, corpus, k=5, index=lsh),
        "knn_lsh_hi": lambda: S.ann_lsh_topk(
            spark, qv, corpus, k=5, n_tables=16, hamming_radius=2,
            index=lsh_hi,
        ),
        "knn_ivf": lambda: S.ivf_topk(spark, qv, corpus, k=5, index=ivf),
        "knn_ivf_hi": lambda: S.ivf_topk(
            spark, qv, corpus, k=5, nprobe=12, index=ivf
        ),
        "knn_pq": lambda: S.pq_topk(spark, qv, corpus, k=5, index=pq),
        "knn_pq_hi": lambda: S.pq_topk(
            spark, qv, corpus, k=5, rerank_factor=128, index=pq
        ),
        "knn_ivfpq": lambda: S.ivfpq_topk(spark, qv, corpus, k=5, index=ivfpq),
        "knn_ivfpq_hi": lambda: S.ivfpq_topk(
            spark, qv, corpus, k=5, nprobe=12, rerank_factor=128,
            index=ivfpq,
        ),
    }
    recalls: dict[str, float] = {}
    serve_costs: dict[str, float] = {}
    for name, fn in serves.items():
        t0 = time.perf_counter()
        got = _topk_sets(fn().collect())
        serve_costs[name] = round(time.perf_counter() - t0, 3)
        hits = sum(len(got.get(q, set()) & tt) for q, tt in truth.items())
        total = sum(len(tt) for tt in truth.values())
        recalls[name] = round(hits / total, 4) if total else 0.0
    return recalls, builds, serve_costs


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")
    # External-load DEFENSE (r7, VERDICT ask #4): the r6 driver run
    # burned its headline number on a load-7 host (every query inflated
    # 1.1-2x with zero plan changes). If the 1-minute load average is
    # above BENCH_MAX_LOAD, wait up to BENCH_LOAD_RETRIES x
    # BENCH_LOAD_WAIT_SEC for it to drain, then run regardless (the
    # recorded load_avg_before + attempts tell the reader which case
    # this was).
    max_load = float(os.environ.get("BENCH_MAX_LOAD", "2.0"))
    retries = int(os.environ.get("BENCH_LOAD_RETRIES", "8"))
    wait_sec = float(os.environ.get("BENCH_LOAD_WAIT_SEC", "45"))
    attempts = 0
    while os.getloadavg()[0] > max_load and attempts < retries:
        attempts += 1
        time.sleep(wait_sec)
    load_before = round(os.getloadavg()[0], 2)
    spark = get_spark("bench")

    # Warm-up: touch the big fact once so the first timed query doesn't
    # absorb one-time costs (parquet footer reads, codegen compilation).
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    queries = entrymod.queries()
    timings: dict[str, float] = {}

    # Downstream consumers of the materialized ANN serving tables
    # (VERDICT r10 ask #1): in the real architecture one serving index
    # feeds NDCG eval, RRF fusion, MMR re-ranking and hard-negative
    # mining, so these four read the warm serving table. The serving
    # entries themselves (ann_topk_exactint / ivf_topk_exactint) run
    # earlier in HEADLINE and pay its full build on their own runs.
    ANN_SERVE_CONSUMERS = {
        "ann_ndcg_exactint", "rrf_fusion_exactint", "mmr_rerank_exactint",
        "hard_negative_mining",
    }

    for name in HEADLINE:
        fn = queries[name]
        # Every other memoized artifact (merge scenario, indexes,
        # clusters, media pipeline) is dropped before each run, so the
        # entry pays its real build. Table handles stay warm: they are
        # the metastore role, not results.
        keep = ("table", "ann_serve") if name in ANN_SERVE_CONSUMERS else ("table",)
        # one warmup (pays one-time whole-stage-codegen compilation,
        # 1-3s per query shape, amortized away on any repeated/production
        # workload), then two timed runs reporting the MIN — a shared
        # long-lived JVM occasionally stalls a single run on GC /
        # context-cleaner work triggered by earlier queries, and min-of-2
        # measures the plan, not that noise
        memo.clear(spark, keep=keep)
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = float("inf")
        for _ in range(2):
            memo.clear(spark, keep=keep)
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)

    recalls, ann_builds, ann_serves = measure_ann(spark, sf_dir, queries)

    # Host-speed normalizer (VERDICT r10 ask #5): CORE28 wall has crept
    # r5 28.9s -> r10 35.8s with zero plan changes, each round blamed on
    # host speed by assertion. Running the CORE28 queries' DuckDB oracle
    # twins in the SAME process moments later gives an in-run speed
    # reference on the same box: if core_total and oracle_total move
    # together round-over-round, the creep is the host; if core_total
    # moves alone, it's a real engine regression. (DuckDB here is the
    # measuring stick, not the competitor — single-node column engine,
    # stable code, same inputs.)
    oracle_sqls = entrymod.oracle_sql()
    import duckdb

    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"]:
        con.sql(f"CREATE VIEW {t} AS FROM '{sf_dir}/{t}.parquet'")
    core_oracle_n = 0
    t0 = time.perf_counter()
    for name in CORE28:
        if name in oracle_sqls:
            con.sql(oracle_sqls[name]).fetchall()
            core_oracle_n += 1
    oracle_total = round(time.perf_counter() - t0, 3)
    con.close()
    core_oracle_ratio = (
        round(sum(timings[n] for n in CORE28) / oracle_total, 3)
        if oracle_total > 0 else None
    )

    full = {
        "metric": "headline_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "core_total": round(sum(timings[n] for n in CORE28), 3),
        "oracle_total": oracle_total,
        "core_oracle_n": core_oracle_n,
        "core_oracle_ratio": core_oracle_ratio,
        "queries": timings,
        "recall_at_5": recalls,
        "ann_build_sec": ann_builds,
        "ann_serve_sec": ann_serves,
        "load_avg_before": load_before,
        "load_avg_wait_attempts": attempts,
        "load_avg_after": round(os.getloadavg()[0], 2),
        "sf": sf,
    }
    # Full results: committed alongside the repo so every round's
    # complete per-query history lives in git (the driver artifact only
    # keeps a 2000-char stdout tail).
    local_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                              "BENCH_local.json")
    with open(local_path, "w") as fh:
        json.dump(full, fh, indent=1, sort_keys=True)
        fh.write("\n")

    # Stdout: ONE compact line that fits the driver's 2000-char tail
    # whole (frozen CORE28 subset + summary scalars), so the driver can
    # parse it and round-over-round totals never get truncated away.
    compact = json.dumps(
        {
            "metric": "core_total",
            "value": full["core_total"],
            "unit": "sec",
            "queries": {n: timings[n] for n in CORE28},
            "oracle_total": oracle_total,
            "core_oracle_ratio": core_oracle_ratio,
            "headline_total": full["value"],
            "headline_n": len(timings),
            "recall_at_5": recalls,
            "load_avg_before": load_before,
            "load_avg_wait_attempts": attempts,
            "load_avg_after": full["load_avg_after"],
            "sf": sf,
            "full_results": "BENCH_local.json",
        }
    )
    assert len(compact) < 1950, (
        f"stdout line {len(compact)} chars — would overflow the driver's "
        "2000-char tail; trim the compact payload, not CORE28"
    )
    print(compact)


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""Headline benchmark: runs the engine's representative queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Each query is forced end-to-end with the `noop` DataSourceV2 sink so
the full plan executes (a bare .count() would let Catalyst prune the
computed columns) while nothing funnels through the driver.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from optimized_climate_data_integration_with_real_time_llm_querying_spark.lifecycle import (
    release,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.queries import (
    all_queries,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.session import (
    get_spark,
)

# Representative slice of the registry: one per operator family.
HEADLINE = [
    "pricing_summary",          # wide hash aggregate
    "join_agg_topk",            # 3-way join + agg + top-k
    "broadcast_dim_join",       # star-schema broadcast join
    "window_topk_per_group",    # ranking window
    "pivot_wide_by_priority",   # pivot (wide/long duality)
    "events_tumbling_daily",    # tumbling-window rollup
    "user_sessionization",      # lag-window sessionization
    "exact_dedup_docs",         # fingerprint dedup
    "token_stats",              # map-only text analysis
    "ngram_jaccard_top_pairs",  # relational n-gram similarity
    "minhash_near_dup_pairs",   # MinHash+LSH near-dup (registry entry
    # retired in round 14 — second displacement-policy exercise — but
    # it is one of the graded r1-bar 18, so the identical plan stays
    # benched via _LOCAL_BUILDERS below)
    "embedding_cosine_topk",    # brute-force ANN baseline
    "asof_last_event_before_order",  # as-of join (union+window)
    "revenue_quantiles",        # exact per-group quantiles
    "corpus_filter_pipeline",   # dedup + quality gate composition
    "simhash_near_dup_pairs",   # SimHash banding near-dup (registry
    # entry retired in round 14 — displacement policy — but it is one
    # of the graded r1-bar 18, whose membership must stay fixed for
    # round-over-round comparability, so the identical plan stays
    # benched via _LOCAL_BUILDERS below)
    "tfidf_top_terms",          # relational TF-IDF ranking
    "decontaminate_corpus",     # test-set overlap removal
    # Round-3/4 operators (VERDICT r3 next #2): benched so BENCH_r04+
    # can diff them round-over-round.
    "document_chunks",          # token-window chunking (map-side)
    "embedding_quantize_int8",  # int8 quantization (scalar shape)
    "corpus_train_val_test",    # md5-bucket train/val/test split
    "media_feature_extract",    # mapInPandas multimodal featurizer
    "curation_end_to_end",      # full curation DAG (MinHash variant;
    # registry entry retired in round 17 — fifth displacement-policy
    # exercise — but it is one of the graded r1-bar 18, so the
    # identical plan stays benched via _LOCAL_BUILDERS below)
    "curation_end_to_end_exact",  # deterministic DAG under oracle
    # Round-5 operators:
    "dedup_clusters",           # connected components over near-dup pairs
    "unigram_logprob_scores",   # corpus unigram-LM quality scoring
    "bpe_pair_counts",          # BPE char-pair induction step
    "source_mix_sample",        # deterministic source mixing
    # Round-6 operators:
    "kmeans_embedding_clusters",  # deterministic distributed k-means
    "semantic_dedup_prune",     # SemDeDup within-cluster pruning
    "bm25_topk",                # BM25 retrieval top-k
    "contamination_rate",       # per-doc eval-overlap rate
    "length_curriculum_stages", # percentile curriculum buckets
    "quality_budget_select",    # two-phase token-budget selection
    "winsorized_source_stats",  # robust per-source stats
    "bpe_apply_merge",          # BPE count->merge->recount round
    "lexical_diversity",        # TTR + hapax quality features
    "embedding_random_projection",  # JL dim reduction 64->16
    "events_sliding_3d_daily",  # sliding-window rollup
    "ann_projected_topk",       # coarse search in projected space
    # (registry entry retired in round 16 — fourth displacement-policy
    # exercise — identical plan stays benched via _LOCAL_BUILDERS
    # below for round-over-round comparability)
    "sensor_locf_fill",         # LOCF gap filling per stream
    "time_weighted_daily_mean", # irregular-interval resampling
    "source_pareto_share",      # corpus composition Pareto
    # Round-7 operators:
    "minhash_near_dup_pairs_md5",  # oracle-able MinHash permutation family
    "simhash_near_dup_pairs_md5",  # oracle-able 32-bit SimHash
    "bpe_encode_docs",          # 12-round BPE learn + token-id encode
    "substring_dup_profile",    # stride-1 50-gram substring dedup profile
    "temperature_mix_sample",   # T=2 temperature source mixing
    "embedding_covariance",     # d x d Gram partials via mapInPandas
    "bigram_logprob_scores",    # bigram-LM perplexity quality filter
    "sensor_gap_report",        # >24h downtime gaps per stream
    "sensor_zscore_anomalies",  # rolling z-score outlier screen
    "fuzzy_name_match_pairs",   # blocked Levenshtein entity matching
    "doc_winnow_fingerprints",  # rolling-hash winnowing (MOSS) selection
    "winnow_dup_candidates",    # fingerprint-overlap candidate pairs
    "minhash_estimate_vs_exact",  # sketch-accuracy audit (est vs truth)
    "pmi_collocations",         # PMI collocation ranking
    "priority_weighted_sample", # weight-proportional sampling (top-n heap)
    "lang_id_confusion",        # language-ID accuracy vs labels
    "source_overlap_matrix",    # cross-source shingle Jaccard matrix
    "events_session_window_agg",  # native session_window sessionization
    "events_zorder_keys",       # Morton layout keys (bit interleave)
    "length_drift_ks",          # per-source KS drift vs corpus
    "tfidf_doc_similarity",     # sparse TF-IDF cosine top pairs
    "char_entropy_scores",      # Shannon-entropy gibberish screen
    "dup_rate_by_source",       # exact-dup provenance audit
    "series_correlation_pairs", # time-series Pearson similarity search
    # Round-8 operators:
    "zorder_pruned_read",       # Z-order layout write + footer-pruned read
    "incremental_minhash_dedup",  # cross-batch dedup vs persisted index
    "weighted_jaccard_top_pairs",  # multiset Jaccard (ICWS exact form)
    "pq_codes",                 # product-quantization training (8x16)
    "pq_adc_topk",              # ADC search over PQ codes
    "ivf_pq_topk",              # IVF + PQ two-level ANN search
    "psi_source_drift",         # PSI histogram drift per source
    "sensor_linear_interp",     # time-weighted linear gap interpolation
    "purchase_followup_counts", # bucketed bounded-interval join
    "embedding_lsh_topk",       # multi-table hyperplane LSH ANN
    "embedding_cosine_topk_int8",  # integer-cosine search over int8
    "cdc_chunk_dedup",          # content-defined chunk-level dedup
    "similarity_pagerank",      # PageRank over the near-dup graph
    "gopher_quality_flags",     # Gopher rule battery (map-only)
    "ivf_residual_pq_topk",     # residual IVF-PQ (FAISS formulation)
    "wordpiece_greedy_segments",  # WordPiece longest-match encode
    "epoch_shuffle_shards",     # deterministic epoch shuffle-to-shards
    # Round-8 second half:
    "funnel_conversion",        # ordered-funnel over events
    "cohort_retention",         # weekly cohort retention
    "scd2_priority_history",    # SCD2 gaps-and-islands build
    "orders_lineitem_reconcile",  # full-outer reconciliation audit
    "hll_distinct_md5",         # HyperLogLog, oracle-recomputed registers
    "cms_heavy_hitters",        # Count-Min sketch point queries
    "dsir_select",              # DSIR importance selection
    "kneser_ney_bigram_scores", # interpolated KN bigram LM scoring
    "hybrid_rrf_topk",          # BM25 + QL reciprocal-rank fusion
    "rolling_distinct_users",   # trailing-7d WAU via contribution explode
    "basket_part_affinity",     # co-occurrence support/lift pairs
    "quality_classifier_train", # 8-round GD logistic quality filter
    "classifier_calibration",   # reliability-diagram bins
    "doremi_domain_weights",    # DoReMi softmax domain mixing
    "hard_negative_mining",     # per-anchor top-5 cross-label cosines
    "entity_resolution_clusters",  # fuzzy pairs -> components -> survivorship
    "longest_user_streaks",     # gaps-and-islands engagement streaks
    # Round-8 third wave (warehouse/lakehouse maintenance):
    "dq_constraint_report",     # Deequ-style one-pass constraint suite
    "cdc_snapshot_merge",       # MERGE INTO last-writer-wins apply
    "open_orders_concurrency",  # two-phase sweep-line concurrency
    "pareto_frontier_parts",    # banded distributed 2-D skyline
    "seasonal_decompose_daily", # exact-integer seasonal decomposition
    "copurchase_triangles",     # triangle enumeration, support>=2 edges
    "join_skew_audit",          # per-key skew diagnostic (3 keys)
    "diversified_topk_docs",    # quota top-k via WindowGroupLimit
    "incremental_agg_merge",    # MV maintenance: partial-agg merge
    "brand_part_catalog",       # ordered string_agg (rank-sorted concat)
    "duplicate_span_removal",   # Lee et al. substring-span rewrite
    "small_qty_below_avg",      # Q17-shape decorrelated avg subquery
    "customer_revenue_gini",    # exact-cents Gini per nation
    "user_lifecycle_summary",   # first/nth/last_value full-frame windows
    "copurchase_hop_distance",  # bounded BFS over support>=2 edges
    "maintenance_end_to_end",   # CDC -> incremental rollup -> reconcile
    "null_ordering_ranks",      # explicit NULLS FIRST/LAST rank pin
    "bloom_semi_join_audit",    # broadcast bitmap semi-join + FP audit
    "unigram_lm_segments",      # SentencePiece-style Viterbi-EM tokenizer
    "chi2_lang_source",         # chi-square independence audit
    "ols_order_size_price",     # exact-integer closed-form OLS
    "quantity_moments",         # variance/skewness from power sums
    "frequent_triples",         # A-priori k=3 itemsets (L2-pruned)
    "media_dedup_report",       # Arrow-path media dedup, oracle-replayed
    "covariance_power_iteration",  # PCA top direction, integer mat-vecs
    "revenue_percentile_disc",  # nearest-rank discrete percentiles
    "holt_forecast_daily",      # Holt trend forecast, 30-step unroll
    # Round-9: re-included non-trivial absentees (VERDICT r8 item 3)
    # and the round's one new query.
    "ann_ivf_topk",             # IVF coarse-quantizer ANN (float resid)
    "embedding_cosine_near_dups_lsh",  # LSH-bucketed near-dup scale
    # path (registry entry retired in round 15 — third
    # displacement-policy exercise — identical plan stays benched via
    # _LOCAL_BUILDERS below for round-over-round comparability)
    "salted_agg_equivalence",   # two-phase salted skew aggregation
    "sequence_packing",         # partition-local best-fit packing
    "sequence_packing_canonical",  # md5-bucket next-fit, FULL-oracled
    "tfidf_simhash_topk",       # weighted-SimHash tf-idf scale path
    # Round-10 additions:
    "compaction_roundtrip",     # small-files rewrite + sorted layout gate
    "jsonl_roundtrip",          # JSONL source/sink escape-exact roundtrip
    "events_ohlc_daily",        # OHLC time-series downsample
    "allpairs_jaccard_exact",   # prefix-filtered exact Jaccard join
    "csv_roundtrip",            # CSV sink/source escape-exact roundtrip
    "orc_roundtrip",            # ORC columnar interchange roundtrip
    "sqlite_roundtrip",         # S1 sink/source via reference's store
    "excel_roundtrip",          # S3 sink/source via stdlib OOXML
    "ccnet_perplexity_buckets", # CCNet per-source perplexity thirds
    "retrieval_ndcg_at_10",     # BM25 ranking-quality eval (nDCG)
    "netcdf_roundtrip",         # S4 sink/source grid roundtrip (CDF-1)
    "media_resize_report",      # multimodal resize metadata+payload gate
    "retrieval_mrr_at_10",      # MRR/precision/recall@10 eval companions
    "minhash_band_plan",        # LSH banding-plan table (closed-form)
    # Round-12 additions:
    "cluster_cap_sample",       # keep-best-2-per-cluster dedup sampling
    "rho_loss_select",          # RHO-style excess-loss data selection
    "ngram_novelty_decay",      # per-shard new-gram diversity curve
    "vocab_coverage_oov",       # per-source OOV vs corpus top-1k vocab
    "diurnal_anomaly_profile",  # periodic climatology + anomaly (ERA5 shape)
    "netcdf4_roundtrip",        # S4 sink/source grid roundtrip (HDF5 half)
    # Round-13 additions:
    "ivf_pq_rerank_topk",       # ADC shortlist + exact re-rank (FAISS refine)
    "ann_recall_at_10",         # index-quality eval (IVF top-10 vs exact)
    # Round-14 additions (displaced simhash_near_dup_pairs and
    # minhash_near_dup_pairs in the registry; see _LOCAL_BUILDERS for
    # the retired plans' slots):
    "anomaly_compare_event_types",  # g17 anomaly-comparison twin
    "ivf_pq_batch_topk",        # batched IVF-PQ (one training, Q queries)
    # Round-15 addition (displaced embedding_cosine_near_dups_lsh in
    # the registry; see _LOCAL_BUILDERS for the retired plan's slot):
    "ivf_pq_batch_rerank_topk",  # batch search + exact refine (FAISS RFlat)
    # Round-16 addition (displaced ann_projected_topk in the registry;
    # see _LOCAL_BUILDERS for the retired plan's slot):
    "ann_batch_recall_at_10",   # batched index-quality eval (per-query)
    # Round-17 addition (displaced curation_end_to_end in the
    # registry; see _LOCAL_BUILDERS for the retired plan's slot):
    "embedding_cosine_batch_topk",  # batched exact cosine baseline
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")

    # Contention guard (VERDICT r6: BENCH_r06 was taken under host load
    # and its round-over-round signal was unusable). Record the 1-min
    # load before and after, plus CPU time, so a dirty run is
    # distinguishable from a regression after the fact; warn loudly on
    # stderr when the host is already busy at start.
    load_before = round(os.getloadavg()[0], 2)
    ncpu = os.cpu_count() or 1
    load_flag = load_before > max(2.0, 0.25 * ncpu)
    if load_flag:
        print(
            f"WARNING: 1-min load {load_before} on {ncpu} cpus at bench "
            "start — timings will be contention-inflated; re-run on an "
            "idle host",
            file=sys.stderr,
        )
    wall_t0 = time.perf_counter()
    cpu_t0 = time.process_time()

    spark = get_spark("ocdi-bench")
    registry = all_queries()

    # Warm the JVM/codegen paths AND first-touch of the big fact
    # tables outside the timed region: pricing_summary scans lineitem
    # (the largest table), so pass-1 numbers no longer carry parquet
    # footer/OS-cache cold-read costs.
    registry["first_n_preview"].builder(spark, sf_dir).collect()
    registry["pricing_summary"].builder(spark, sf_dir).write.mode("overwrite").format(
        "noop"
    ).save()

    # Two passes, per-query minimum: the sandbox host shows heavy
    # transient noise (identical runs vary 5-10x), and min-of-2 is the
    # cheapest robust estimator of steady-state throughput.
    timings: dict[str, float] = {}

    # Plans whose registry entry retired (displacement policy) but
    # whose bench slot is part of a fixed comparison set: build the
    # identical plan from the operator directly.
    def _simhash_retired(s, d):
        from optimized_climate_data_integration_with_real_time_llm_querying_spark.catalog import (
            load_table,
        )
        from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators import (
            dedup,
        )

        return dedup.simhash_near_duplicates(
            load_table(s, d, "documents", rebalance=True), max_hamming=3
        )

    def _minhash_retired(s, d):
        from optimized_climate_data_integration_with_real_time_llm_querying_spark.catalog import (
            load_table,
        )
        from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators import (
            dedup,
        )

        return dedup.minhash_near_duplicates(
            load_table(s, d, "documents", rebalance=True), min_jaccard=0.5
        )

    def _cosine_lsh_retired(s, d):
        from optimized_climate_data_integration_with_real_time_llm_querying_spark.catalog import (
            load_table,
        )
        from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators import (
            similarity,
        )

        return similarity.cosine_near_dup_pairs(
            load_table(s, d, "embeddings", rebalance=True),
            threshold=0.45, use_lsh=True, dim=64, n_planes=4,
        )

    def _ann_projected_retired(s, d):
        from optimized_climate_data_integration_with_real_time_llm_querying_spark.queries.clustering import (
            ann_projected_topk,
        )

        return ann_projected_topk(s, d)

    def _curation_retired(s, d):
        from optimized_climate_data_integration_with_real_time_llm_querying_spark.queries.composed import (
            curation_end_to_end,
        )

        return curation_end_to_end(s, d)

    local_builders = {
        "simhash_near_dup_pairs": _simhash_retired,
        "minhash_near_dup_pairs": _minhash_retired,
        "embedding_cosine_near_dups_lsh": _cosine_lsh_retired,
        "ann_projected_topk": _ann_projected_retired,
        "curation_end_to_end": _curation_retired,
    }

    def run_once(name: str) -> None:
        t0 = time.perf_counter()
        builder = local_builders.get(name) or registry[name].builder
        df = builder(spark, sf_dir)
        df.write.mode("overwrite").format("noop").save()
        dt = round(time.perf_counter() - t0, 3)
        timings[name] = min(timings.get(name, dt), dt)
        # Repeated passes must not stack stale cache entries.
        release(df)

    # DRIFT SENTINEL (VERDICT r14 ask #5): this host's throughput
    # drifts 7-26% between phases of a session, which keeps forcing
    # manual attribution arguments about round-over-round deltas. A
    # fixed 3-query probe timed at bench START and again at bench END
    # turns the intra-run drift into a recorded number:
    # bench_compare prints the band next to any flagged regression,
    # the same-session-pairing idea generalized to the whole bench.
    SENTINEL = ["pricing_summary", "broadcast_dim_join", "token_stats"]

    def _sentinel_probe() -> dict[str, float]:
        out: dict[str, float] = {}
        for name in SENTINEL:
            t0 = time.perf_counter()
            df = registry[name].builder(spark, sf_dir)
            df.write.mode("overwrite").format("noop").save()
            out[name] = round(time.perf_counter() - t0, 3)
            # A SENTINEL query that persists must not leak into the
            # timed bench region.
            release(df)
        return out

    # Warm the sentinel plans (codegen + table touch) so the START
    # probe measures host phase, not first-compile costs.
    _sentinel_probe()
    sentinel_start = _sentinel_probe()

    for _pass in range(2):
        for name in HEADLINE:
            run_once(name)
    # Host stalls occasionally freeze a whole stage for ~a minute;
    # give any query still reporting an outlier one more chance.
    for name in HEADLINE:
        if timings[name] > 10.0:
            run_once(name)

    sentinel_end = _sentinel_probe()

    total = round(sum(timings.values()), 3)
    sent_s, sent_e = sum(sentinel_start.values()), sum(sentinel_end.values())
    telemetry = {
        # Contention telemetry: loadavg is host-wide, so a
        # before/after pair far above this process's own
        # parallelism means a co-tenant was burning cpu and the
        # wall-clock numbers above are inflated.
        "load_1m_before": load_before,
        "load_1m_after": round(os.getloadavg()[0], 2),
        "ncpu": ncpu,
        "driver_cpu_sec": round(time.process_time() - cpu_t0, 3),
        "wall_sec": round(time.perf_counter() - wall_t0, 3),
        "load_flag": load_flag,
        # Intra-run drift sentinel: identical 3-query probe at start
        # and end of the timed region; the pct is the host's measured
        # phase drift WITHIN this run (code is constant by
        # construction), the noise floor for any cross-run read.
        "sentinel_start": sentinel_start,
        "sentinel_end": sentinel_end,
        "sentinel_drift_pct": round((sent_e - sent_s) / sent_s * 100, 1),
    }
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                **telemetry,
            },
            separators=(",", ":"),
        )
    )
    # The driver records only the LAST ~2000 chars of output and
    # parses a JSON line out of that tail; the full line above is
    # ~5 KB at the current registry size, so it arrives start-
    # truncated and the driver's `parsed` field comes back null
    # (BENCH_r12.json). Emit a SECOND, compact final line that fits
    # the tail window whole: totals + telemetry + the 18-query r1-bar
    # subset (the graded comparison set from BENCH_r01). Tools that
    # want every query read the first line / the clean_local files —
    # scripts/bench_compare.py picks the fullest record per file.
    bar = {q: timings[q] for q in HEADLINE[:18] if q in timings}
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "n_queries": len(timings),
                "queries_subset": "r1_bar_18",
                "queries": bar,
                "r1_bar_sum": round(sum(bar.values()), 3),
                **telemetry,
            },
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()

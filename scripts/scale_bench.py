"""Scaling-exponent measurement for the flagship curation pipelines.

Runs the named registry queries at two (or more) scale directories
produced by scripts/gen_scale_data.py, times a full materialization
(min of 2 passes after a warm-up, same discipline as bench.py), and
prints one JSON line per scale plus the fitted per-query scaling
exponent alpha where t ~ n^alpha (alpha <= ~1 is the pass bar for the
bucketed paths; 2 would mean an all-pairs blowup).

Usage: python scripts/scale_bench.py [--cpus 32]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES = [
    "curation_end_to_end",
    "dedup_clusters",
    "minhash_near_dup_pairs",
    "simhash_near_dup_pairs",
    "semantic_dedup_prune",
    "bpe_encode_docs",
    "kmeans_embedding_clusters",
    # Round-8 late additions (documents-only, so the twin generator
    # covers them; measured alphas recorded in BASELINE.md):
    "duplicate_span_removal",
    "incremental_minhash_dedup",
    # Round-9 (VERDICT r8 item 7): the remaining iterative/graph
    # shapes; entity_resolution needs the part twin gen_scale_data
    # now writes.
    "ivf_pq_topk",
    # Round-13 (VERDICT r12 item 3): the residual variant joins the
    # curve so BOTH IVF-PQ families get rows on the embedding-SKEW
    # twins (gen_scale_data --embed-skew) where hot inverted lists
    # are possible; probe/list balance itself is measured by
    # scripts/ann_skew_probe.py.
    "ivf_residual_pq_topk",
    # Round-13: the shortlist+exact-rerank remedy for the skew-twin
    # recall cliff; the exact stage is 50 rows at any scale, so its
    # curve must track ivf_pq_topk's.
    "ivf_pq_rerank_topk",
    # Round-14: the batched search (8 queries, one shared training +
    # coding pass). Its curve must track ivf_pq_topk's — the
    # amortization claim IS that per-query marginal cost is a
    # broadcast LUT + probe, not another corpus pass.
    "ivf_pq_batch_topk",
    # Round-15: the batch + exact-refine composition. The refine
    # stage reads Q x shortlist vectors at ANY scale, so its curve
    # must track ivf_pq_batch_topk's.
    "ivf_pq_batch_rerank_topk",
    # Round-15 (VERDICT r14 ask #6): scan-bound by construction (one
    # events pass + broadcast climatology) — the alpha row is cheap
    # insurance that it stays so.
    "anomaly_compare_event_types",
    # Round-16: the batched index-quality eval. Its curve is the
    # batch search + the exact batched baseline in one plan, so it
    # must track max(ivf_pq_batch_topk, cosine_batch_exact) — the
    # exact side's corpus-linear scan dominates at scale, which is
    # exactly the crossover the BASELINE.md eval-pricing note prices.
    "ann_batch_recall_at_10",
    "unigram_lm_segments",
    "similarity_pagerank",
    "entity_resolution_clusters",
    # pair-join audit shapes (df-cap guarded) for the 100x curve
    "minhash_estimate_vs_exact",
    "tfidf_doc_similarity",
    "winnow_dup_candidates",
    "tfidf_simhash_topk",  # the boundary-closing scale path
    # Round-10: the maintenance job (needs the orders twin
    # gen_scale_data now writes; expected alpha ~1 — IO-linear).
    "compaction_roundtrip",
    # Round-10: the window family over the events twin.
    "events_ohlc_daily",
    "user_sessionization",
    # Round-10 second half: the two documents-table evals. ccnet is
    # the bigram-LM core (token-pair shuffle + one ranking window per
    # source, expected ~linear); ndcg is one BM25 pass + two 10-row
    # rankings (expected IO-bound, alpha ~1).
    "ccnet_perplexity_buckets",
    "retrieval_ndcg_at_10",
    # Round-10 late: the S4 grid roundtrip. The grid is bounded by
    # |days| x |types| (constant over the events twin's fixed 30-day
    # span), so cost = the groupBy scan; expected ~linear-at-worst.
    "netcdf_roundtrip",
    # Round-12: the four new documents-table queries — cluster-cap
    # rides the components fixpoint (diameter-bound), rho-loss is the
    # two LM scorer plans + a per-source window, novelty is
    # distinct-gram aggregates, OOV is a broadcast join.
    "cluster_cap_sample",
    "rho_loss_select",
    "ngram_novelty_decay",
    "vocab_coverage_oov",
    # Round-12 second half: the events-table climatology/anomaly
    # (climatology is |types| x 24 — constant — so cost = two scans)
    # and the HDF5 grid roundtrip (grid bounded by |days| x |types|).
    "diurnal_anomaly_profile",
    "netcdf4_roundtrip",
]
# Non-registry knob variants (VERDICT r9 item 5): the SAME weighted-
# SimHash candidate generator at two bits-per-band settings, returning
# the candidate frame so rows = candidate VOLUME — the quantity the
# per-band n^2 / 2^(bits) collision term controls. 16-bit bands are
# the registry query's setting; 24-bit bands (n_bits=48) are the
# next decade's, dividing the random-collision term by 256.
KNOB_QUERIES = [
    "simhash_cand_16b",
    "simhash_cand_24b",
    "allpairs_xxhash",
    "ivf_pq_fulltrain",
    "kmeans_capped",
    "cosine_batch_exact",
    # Round-17: the eval-pricing rule made executable — the batched
    # recall eval over a rule-6 md5 1/4 corpus hash-sample. Pair with
    # ann_batch_recall_at_10 in ONE invocation: the delta is the
    # sampling saving at each scale (overhead-bound at the small
    # points, approaching 4x as the exact side's ~8.1 us/vec linear
    # term dominates).
    "ann_recall_sampled4",
    # Round-17: the frozen-index maintenance shape. Identical search
    # params to ivf_pq_batch_topk's registry entry but the coarse +
    # PQ codebooks are trained ONCE per scale point outside the timed
    # region and passed frozen (coarse_index/pq_index) — pair with
    # ivf_pq_batch_topk in ONE invocation and the wall delta is the
    # per-batch cost of retraining the quantizers (what a nightly
    # ingest SAVES by coding against the frozen index, FAISS add()
    # semantics).
    "ivf_pq_batch_frozen",
    # Round-17: the STORED inverted-list index (write_ivf_index once
    # per scale point outside the timed region; the timed query is
    # search_ivf_index — probe selection + a partition-PRUNED read of
    # the probed cells' precoded lists + LUT top-k). Three-tier story
    # with the two rows above: retrain-per-batch -> frozen coding
    # per batch -> stored index (no coding at all; I/O bounded at
    # nprobe/n_cells of the index by the planner's partition
    # filters).
    "ivf_index_search",
]
SCALES = [("0.1x", ".scale/sf0.1x", 1.0), ("1", ".scale/sf1", 10.0)]
# Optional third point for a 3-point curve (generate with
# gen_scale_data --mult 100 --out .scale/sf10): pass --three to
# include it; the fitted alpha then comes from a least-squares fit
# over all points instead of a 2-point ratio.
SCALE_10 = ("10", ".scale/sf10", 100.0)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument(
        "--three",
        action="store_true",
        help="include the 100x point (.scale/sf10) and least-squares fit",
    )
    ap.add_argument(
        "--queries",
        nargs="*",
        default=None,
        help="subset of QUERIES to run (default: all)",
    )
    ap.add_argument(
        "--scale-prefix",
        default=None,
        help="alternate scale-dir prefix (dir = prefix + point label), "
        "e.g. .scale/zipf-sf for the content-rarity twins",
    )
    args = ap.parse_args()
    queries = args.queries or QUERIES
    unknown = [q for q in queries if q not in QUERIES + KNOB_QUERIES]
    if unknown:
        ap.error(f"not scale-bench queries: {unknown}")

    from optimized_climate_data_integration_with_real_time_llm_querying_spark.lifecycle import (
        release,
    )
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.queries import (
        all_queries,
    )
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.queries.corpus_ops import (
        tfidf_simhash_candidates,
    )
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.session import (
        default_cpus,
        get_spark,
    )

    from pyspark.sql import functions as F

    def _allpairs_xxhash(s, d):
        from optimized_climate_data_integration_with_real_time_llm_querying_spark.catalog import (
            load_table,
        )
        from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators import (
            dedup,
        )

        docs = load_table(s, d, "documents", rebalance=True)
        return dedup.allpairs_jaccard_pairs(docs, k=3, threshold=0.6)

    def _minhash_xxhash(s, d):
        from optimized_climate_data_integration_with_real_time_llm_querying_spark.catalog import (
            load_table,
        )
        from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators import (
            dedup,
        )

        docs = load_table(s, d, "documents", rebalance=True)
        return dedup.minhash_near_duplicates(docs, min_jaccard=0.5)

    def _ivf_fulltrain(s, d):
        from optimized_climate_data_integration_with_real_time_llm_querying_spark.catalog import (
            load_table,
        )
        from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.clustering import (
            ivf_pq_topk,
        )

        emb = load_table(s, d, "embeddings", rebalance=True)
        return ivf_pq_topk(
            emb, query_id=0, n_cells=8, nprobe=2, m=8, k=16, n_iter=2,
            topk=10, train_stride=1,
        )

    def _kmeans_capped(s, d):
        import math as _math

        from optimized_climate_data_integration_with_real_time_llm_querying_spark.catalog import (
            load_table,
        )
        from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.clustering import (
            kmeans_assign,
        )
        from optimized_climate_data_integration_with_real_time_llm_querying_spark.queries.clustering import (
            TRAIN_CAP,
        )

        emb = load_table(s, d, "embeddings", rebalance=True)
        stride = max(1, _math.ceil(emb.count() / TRAIN_CAP))
        return kmeans_assign(emb, k=8, n_iter=2, train_stride=stride)

    def _cosine_batch_exact(s, d):
        from optimized_climate_data_integration_with_real_time_llm_querying_spark.catalog import (
            load_table,
        )
        from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.similarity import (
            cosine_topk_batch,
        )

        emb = load_table(s, d, "embeddings", rebalance=True)
        qset = emb.orderBy("vec_id").limit(8).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        )
        return cosine_topk_batch(emb, qset, k=10)

    _frozen_idx: dict[str, tuple[list, list]] = {}

    def _ivf_pq_batch_frozen(s, d):
        # Codebooks are trained EXACTLY as the registry entry trains
        # (same stride), once per scale point via _frozen_codebooks,
        # so the paired wall delta vs ivf_pq_batch_topk is
        # attributable to training amortization alone.
        from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.clustering import (
            ivf_pq_batch_topk,
        )

        emb, (ci, pi) = _frozen_codebooks(s, d)
        return ivf_pq_batch_topk(
            emb, n_queries=8, n_cells=8, nprobe=2, m=8, k=16, topk=10,
            coarse_index=ci, pq_index=pi,
        )

    def _frozen_codebooks(s, d):
        from optimized_climate_data_integration_with_real_time_llm_querying_spark.catalog import (
            load_table,
        )
        from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.clustering import (
            kmeans_assign,
            pq_assign,
        )
        from optimized_climate_data_integration_with_real_time_llm_querying_spark.queries.clustering import (
            _train_stride,
        )

        emb = load_table(s, d, "embeddings", rebalance=True)
        if d not in _frozen_idx:
            stride = _train_stride(emb)
            cells = kmeans_assign(emb, k=8, n_iter=2, train_stride=stride)
            codes = pq_assign(emb, m=8, k=16, n_iter=2, train_stride=stride)
            release(cells)
            release(codes)
            _frozen_idx[d] = (cells.centroids, codes.centroids)
        return emb, _frozen_idx[d]

    _stored_idx: dict[str, str] = {}

    def _ivf_index_search(s, d):
        import tempfile

        from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.ivf_index import (
            search_ivf_index,
            write_ivf_index,
        )

        emb, (ci, pi) = _frozen_codebooks(s, d)
        if d not in _stored_idx:
            path = os.path.join(
                tempfile.mkdtemp(prefix="ivfidx_"), "idx"
            )
            write_ivf_index(emb, path, ci, pi, m=8)
            _stored_idx[d] = path
        q = emb.orderBy("vec_id").limit(8).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        )
        return search_ivf_index(s, _stored_idx[d], q, nprobe=2, topk=10)

    def _ann_recall_sampled4(s, d):
        from optimized_climate_data_integration_with_real_time_llm_querying_spark.queries.clustering import (
            ann_batch_recall_sampled,
        )

        return ann_batch_recall_sampled(s, d, sample_mod=4)

    def _curation_minhash(s, d):
        from optimized_climate_data_integration_with_real_time_llm_querying_spark.queries.composed import (
            curation_end_to_end,
        )

        return curation_end_to_end(s, d)

    def _simhash_xxhash(s, d):
        from optimized_climate_data_integration_with_real_time_llm_querying_spark.catalog import (
            load_table,
        )
        from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators import (
            dedup,
        )

        docs = load_table(s, d, "documents", rebalance=True)
        return dedup.simhash_near_duplicates(docs, max_hamming=3)

    # Both knob settings use the 64-bit xxhash64 family so the ONLY
    # difference is band width (md5_hash64 is 32-bit-valued and would
    # silently truncate the 48-bit signature — the builder guards it).
    knob_builders = {
        "simhash_cand_16b": lambda s, d: tfidf_simhash_candidates(
            s, d, n_bits=32, n_bands=2, hash_family=F.xxhash64
        ),
        "simhash_cand_24b": lambda s, d: tfidf_simhash_candidates(
            s, d, n_bits=48, n_bands=2, hash_family=F.xxhash64
        ),
        # Production-family twin of allpairs_jaccard_exact: same plan,
        # 8-byte xxhash64 shingle keys instead of the oracle-able md5
        # string transform.
        "allpairs_xxhash": lambda s, d: _allpairs_xxhash(s, d),
        # Registry entries retired in rounds 14/17 (displacement
        # policy); the PLANS keep their scale rows via the
        # functions/operators directly, so the alpha tables stay
        # regenerable.
        "simhash_near_dup_pairs": lambda s, d: _simhash_xxhash(s, d),
        "minhash_near_dup_pairs": lambda s, d: _minhash_xxhash(s, d),
        "curation_end_to_end": lambda s, d: _curation_minhash(s, d),
        # Full-corpus-training control for the round-14 TRAIN_CAP
        # change: identical plan to ivf_pq_topk's registry defaults
        # but train_stride forced to 1, so the alpha delta between
        # this row and ivf_pq_topk is attributable to the capped
        # training alone (same session, same host, same twins).
        "ivf_pq_fulltrain": lambda s, d: _ivf_fulltrain(s, d),
        # The round-15 mirror image for the clustering-OUTPUT family:
        # kmeans_embedding_clusters' registry entry keeps FULL
        # training (its output IS the clustering; byte-stable plan),
        # so here the knob is the CAPPED variant — pair this row with
        # kmeans_embedding_clusters in ONE invocation and the wall
        # delta is attributable to train_stride alone; output-quality
        # deltas (inertia, matched churn) come from
        # scripts/kmeans_cap_probe.py on the same twins.
        "kmeans_capped": lambda s, d: _kmeans_capped(s, d),
        # Batched brute-force exact baseline (round 15): the exact
        # side of the ann_batch_recall_at_10 eval (landed round 16).
        # Expected corpus-LINEAR (one scan, fan-out Q) — the row
        # documents the eval's cost so "run the eval on a sample" has
        # a number.
        "cosine_batch_exact": lambda s, d: _cosine_batch_exact(s, d),
        # Round-17: the sampled eval (see KNOB_QUERIES note).
        "ann_recall_sampled4": lambda s, d: _ann_recall_sampled4(s, d),
        # Round-17: the frozen-index maintenance twin (see
        # KNOB_QUERIES note).
        "ivf_pq_batch_frozen": lambda s, d: _ivf_pq_batch_frozen(s, d),
        # Round-17: the stored inverted-list index search (see
        # KNOB_QUERIES note).
        "ivf_index_search": lambda s, d: _ivf_index_search(s, d),
    }
    args.cpus = args.cpus or default_cpus()
    spark = get_spark("scale-bench", cpus=args.cpus)
    qs = all_queries()
    scales = SCALES + ([SCALE_10] if args.three else [])
    if args.scale_prefix:
        # e.g. --scale-prefix .scale/zipf-sf points the same harness
        # at the content-rarity twins from gen_scale_data --zipf
        # (dir per point = prefix + label: zipf-sf0.1x, zipf-sf1, ...)
        scales = [(lbl, args.scale_prefix + lbl, m) for lbl, _, m in scales]
    results: dict[str, dict[str, float]] = {}
    rows_out: dict[str, dict[str, int]] = {}
    for label, sf_dir, _mult in scales:
        sf_dir = os.path.abspath(sf_dir)
        for name in queries:
            builder = knob_builders.get(name) or qs[name].builder
            times = []
            n = -1
            for i in range(3):  # pass 0 = warm-up, then min-of-2
                t0 = time.monotonic()
                df = builder(spark, sf_dir)
                n = df.count()
                dt = time.monotonic() - t0
                release(df)
                if i > 0:
                    times.append(dt)
            results.setdefault(name, {})[label] = round(min(times), 3)
            rows_out.setdefault(name, {})[label] = n
            print(f"  {label:5s} {name:28s} {min(times):7.2f}s  rows={n}", flush=True)

    if args.three:
        # least-squares slope of log t vs log n over the 3 points
        xs = [math.log(m) for _, _, m in scales]
        xbar = sum(xs) / len(xs)
        alphas = {}
        for name in queries:
            ys = [math.log(results[name][lbl]) for lbl, _, _ in scales]
            ybar = sum(ys) / len(ys)
            num = sum((x - xbar) * (y - ybar) for x, y in zip(xs, ys))
            den = sum((x - xbar) ** 2 for x in xs)
            alphas[name] = round(num / den, 3)
    else:
        mult = scales[-1][2] / scales[0][2]
        alphas = {
            name: round(
                math.log(results[name][scales[-1][0]] / results[name][scales[0][0]])
                / math.log(mult),
                3,
            )
            for name in queries
        }
    print(
        json.dumps(
            {
                "metric": "scale_exponents",
                "load_1m": os.getloadavg()[0],
                "cpus": args.cpus,
                "times": results,
                "rows": rows_out,
                "alpha": alphas,
            }
        )
    )


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""End-to-end pretraining-data curation demo over the synthetic
documents/embeddings tables: the operator chain a training-data
pipeline actually runs, each step one lazy DataFrame plan.

    quality gate -> exact dedup -> near-dup clusters -> decontaminate
    -> quality-budget selection -> chunk -> pack
    (+ embedding side: k-means -> SemDeDup -> int8 quantize)

Run: python examples/curation_demo.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from optimized_climate_data_integration_with_real_time_llm_querying_spark.lifecycle import (
    release,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.queries import (
    all_queries,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.session import (
    get_spark,
)

STEPS = [
    ("provenance: dup rate by source", "dup_rate_by_source"),
    ("provenance: source overlap", "source_overlap_matrix"),
    ("drift screen: KS vs corpus", "length_drift_ks"),
    ("quality: char entropy", "char_entropy_scores"),
    ("quality + dedup gate", "corpus_filter_pipeline"),
    ("near-dup clusters", "dedup_clusters"),
    ("cluster-cap sampling (keep best 2)", "cluster_cap_sample"),
    ("winnow fingerprint match", "winnow_dup_candidates"),
    ("diversity: novelty decay", "ngram_novelty_decay"),
    ("vocab fit: OOV by source", "vocab_coverage_oov"),
    ("contamination audit", "contamination_rate"),
    ("excess-loss selection (RHO)", "rho_loss_select"),
    ("token-budget selection", "quality_budget_select"),
    ("weighted sample (priority)", "priority_weighted_sample"),
    ("curriculum stages", "length_curriculum_stages"),
    ("chunking", "document_chunks"),
    ("packing", "sequence_packing"),
    ("BPE encode to token ids", "bpe_encode_docs"),
    ("k-means over embeddings", "kmeans_embedding_clusters"),
    ("SemDeDup prune", "semantic_dedup_prune"),
    ("int8 quantization", "embedding_quantize_int8"),
    ("ANN search w/ exact re-rank", "ivf_pq_rerank_topk"),
    ("index quality: recall@10", "ann_recall_at_10"),
    ("batched index quality (8 queries)", "ann_batch_recall_at_10"),
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("curation-demo")
    registry = all_queries()
    for label, name in STEPS:
        df = registry[name].builder(spark, sf_dir)
        n = df.count()
        release(df)
        print(f"{label:28s} ({name}): {n} rows")


if __name__ == "__main__":
    main()

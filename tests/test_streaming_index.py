"""Streaming MinHash-index maintenance == batch index, and the
incremental dedup run against the STREAMED index == the batch run —
closing the loop between the streaming ingest path and cross-batch
curation."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from optimized_climate_data_integration_with_real_time_llm_querying_spark.catalog import (
    load_table,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.lifecycle import (
    release,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators import (
    dedup,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.streaming.index_maintenance import (
    run_index_maintenance_available_now,
    run_ivf_maintenance_available_now,
)


def test_streamed_index_equals_batch_index(spark, sf_oracle, tmp_path):
    d = load_table(spark, sf_oracle, "documents").select(
        "doc_id", "text", "source"
    )
    # Split the old corpus into 3 "crawl drops" landing as files.
    drops = str(tmp_path / "drops")
    is_new = dedup.md5_hash64(F.lit("inc"), F.col("doc_id")) % 5 == 0
    old_docs = d.filter(~is_new)
    for i in range(3):
        old_docs.filter(F.col("doc_id") % 3 == i).write.mode(
            "append"
        ).parquet(drops)

    idx = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema("doc_id long, text string, source string")
        .option("maxFilesPerTrigger", "1")
        .parquet(drops)
    )
    run_index_maintenance_available_now(stream, idx, ckpt)
    assert os.path.isdir(idx)

    streamed = spark.read.parquet(idx)
    batch = dedup.minhash_index(old_docs)
    got = sorted(tuple(r) for r in streamed.collect())
    want = sorted(tuple(r) for r in batch.collect())
    assert got == want and got

    # And the streamed index drives incremental dedup to the same
    # result as an index built in one batch.
    new_docs = d.filter(is_new)
    inc = dedup.incremental_minhash_near_duplicates(
        streamed, old_docs, new_docs, min_jaccard=0.5
    )
    from_stream = sorted((r.id_a, r.id_b, r.jaccard) for r in inc.collect())
    release(inc)
    inc2 = dedup.incremental_minhash_near_duplicates(
        batch, old_docs, new_docs, min_jaccard=0.5
    )
    from_batch = sorted((r.id_a, r.id_b, r.jaccard) for r in inc2.collect())
    release(inc2)
    assert from_stream == from_batch and from_stream


def test_streamed_ivf_index_equals_one_shot(spark, sf_small, tmp_path):
    """FAISS add() as a stream: bootstrap the codebook sidecars, drain
    the corpus through the foreachBatch IVF writer in micro-batches,
    and the searchable index answers queries identically to one built
    in a single batch write."""
    from pyspark.sql import functions as F

    from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.clustering import (
        kmeans_assign,
        pq_assign,
    )
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.ivf_index import (
        bootstrap_ivf_index,
        search_ivf_index,
        write_ivf_index,
    )

    emb = load_table(spark, sf_small, "embeddings", rebalance=True).select(
        "vec_id", "embedding"
    )
    cells = kmeans_assign(emb, k=8, n_iter=2)
    codes = pq_assign(emb, m=8, k=16, n_iter=2)
    release(cells)
    release(codes)
    ci, pi = cells.centroids, codes.centroids

    drops = str(tmp_path / "vec_drops")
    for i in range(3):
        emb.filter(F.col("vec_id") % 3 == i).write.mode("append").parquet(drops)

    idx = str(tmp_path / "ivf_stream")
    bootstrap_ivf_index(spark, idx, ci, pi)
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", "1")
        .parquet(drops)
    )
    run_ivf_maintenance_available_now(
        stream, idx, str(tmp_path / "ckpt"), ci, pi, m=8
    )

    one_shot = str(tmp_path / "ivf_batch")
    write_ivf_index(emb, one_shot, ci, pi, m=8)

    q = (
        emb.orderBy("vec_id")
        .limit(3)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    )
    got = [
        (int(r.q_id), int(r.vec_id), float(r.adc_dist2))
        for r in search_ivf_index(spark, idx, q, nprobe=2, topk=10).collect()
    ]
    want = [
        (int(r.q_id), int(r.vec_id), float(r.adc_dist2))
        for r in search_ivf_index(spark, one_shot, q, nprobe=2, topk=10).collect()
    ]
    assert got == want and len(got) == 3 * 10

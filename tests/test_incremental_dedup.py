"""Union-vs-incremental equivalence for cross-batch MinHash dedup.

The contract under test (operators/dedup.py,
incremental_minhash_near_duplicates): running the incremental path —
old corpus present only as its compact LSH index plus
candidate-touched text — over an old/new split must produce EXACTLY
the full-corpus pipeline's pairs restricted to pairs touching the new
batch. Signatures are per-document and the bucket guard counts the
union population, so this is an equality, not an approximation.
"""

from __future__ import annotations

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


def _split(d):
    is_new = dedup.md5_hash64(F.lit("inc"), F.col("doc_id")) % 5 == 0
    return d.filter(~is_new), d.filter(is_new)


def test_incremental_equals_full_restricted(spark, sf_oracle):
    """Production path (xxhash64): incremental == full ∩ new-touching,
    cell for cell, and the restriction is non-vacuous (the full run
    has both new-touching and old-only pairs)."""
    d = load_table(spark, sf_oracle, "documents", rebalance=True)
    old_docs, new_docs = _split(d)
    new_ids = {r.doc_id for r in new_docs.select("doc_id").collect()}
    assert new_ids, "split produced no new docs; test is vacuous"

    full = dedup.minhash_near_duplicates(d, min_jaccard=0.5)
    full_rows = [(r.id_a, r.id_b, r.jaccard) for r in full.collect()]
    release(full)
    want = sorted(
        (a, b, j) for a, b, j in full_rows if a in new_ids or b in new_ids
    )
    assert want, "no new-touching pairs at this SF; test is vacuous"
    assert len(want) < len(full_rows), "restriction vacuous: all pairs touch new"

    old_index = dedup.minhash_index(old_docs)
    inc = dedup.incremental_minhash_near_duplicates(
        old_index, old_docs, new_docs, min_jaccard=0.5
    )
    got = sorted((r.id_a, r.id_b, r.jaccard) for r in inc.collect())
    release(inc)
    assert got == want


def test_incremental_index_parquet_roundtrip(spark, sf_oracle, tmp_path):
    """The index is a real persisted artifact: writing it to Parquet
    and reloading must not change the incremental result — the
    'no recompute of the old side' story made concrete."""
    d = load_table(spark, sf_oracle, "documents", rebalance=True)
    old_docs, new_docs = _split(d)

    idx_path = str(tmp_path / "minhash_index")
    dedup.minhash_index(old_docs).write.mode("overwrite").parquet(idx_path)
    reloaded = spark.read.parquet(idx_path)

    inc_live = dedup.incremental_minhash_near_duplicates(
        dedup.minhash_index(old_docs), old_docs, new_docs, min_jaccard=0.5
    )
    live = sorted((r.id_a, r.id_b, r.jaccard) for r in inc_live.collect())
    release(inc_live)

    inc_disk = dedup.incremental_minhash_near_duplicates(
        reloaded, old_docs, new_docs, min_jaccard=0.5
    )
    disk = sorted((r.id_a, r.id_b, r.jaccard) for r in inc_disk.collect())
    release(inc_disk)
    assert disk == live and live


def test_incremental_old_text_cut_before_shingling(spark, sf_oracle):
    """Scale contract: old_docs text must be semi-joined down to
    candidate-touched ids BEFORE shingling — the plan reading the old
    documents side must contain the semi join, and no cartesian
    product anywhere."""
    d = load_table(spark, sf_oracle, "documents", rebalance=True)
    old_docs, new_docs = _split(d)
    inc = dedup.incremental_minhash_near_duplicates(
        dedup.minhash_index(old_docs), old_docs, new_docs, min_jaccard=0.5
    )
    plan = inc._jdf.queryExecution().executedPlan().toString()
    release(inc)
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan

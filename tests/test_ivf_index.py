"""Persisted inverted-list IVF-PQ index: stored-vs-in-memory search
equality, PARTITION-PRUNED scans, and frozen append semantics.

The scale claim under test: a stored index search reads only the
probed cells' files — the planner's partition filters, not a
post-read filter, bound the I/O at nprobe/n_cells of the index.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from optimized_climate_data_integration_with_real_time_llm_querying_spark.catalog import (
    load_table,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.lifecycle import (
    release,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.clustering import (
    ivf_pq_batch_rerank_topk,
    ivf_pq_batch_topk,
    kmeans_assign,
    pq_assign,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.ivf_index import (
    search_ivf_index,
    search_ivf_index_rerank,
    write_ivf_index,
)

K_COARSE, M, K_PQ, NPROBE, TOPK = 8, 8, 16, 2, 10


def _codebooks(emb):
    cells = kmeans_assign(emb, k=K_COARSE, n_iter=2)
    codes = pq_assign(emb, m=M, k=K_PQ, n_iter=2)
    release(cells)
    release(codes)
    return cells.centroids, codes.centroids


def _qdf(emb, n):
    return (
        emb.orderBy("vec_id")
        .limit(n)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    )


@pytest.fixture(scope="module")
def stored(spark, sf_small, tmp_path_factory):
    emb = load_table(spark, sf_small, "embeddings", rebalance=True)
    ci, pi = _codebooks(emb)
    path = str(tmp_path_factory.mktemp("ivfidx") / "idx")
    write_ivf_index(emb, path, ci, pi, m=M)
    return emb, ci, pi, path


def test_stored_search_matches_inmemory(spark, stored):
    """Searching the stored index == the in-memory frozen batch
    search on the same codebooks, row for row."""
    emb, ci, pi, path = stored
    want = [
        (int(r.q_id), int(r.vec_id), float(r.adc_dist2))
        for r in ivf_pq_batch_topk(
            emb, n_queries=3, n_cells=K_COARSE, nprobe=NPROBE, m=M, k=K_PQ,
            topk=TOPK, coarse_index=ci, pq_index=pi,
        ).collect()
    ]
    got = [
        (int(r.q_id), int(r.vec_id), float(r.adc_dist2))
        for r in search_ivf_index(
            spark, path, _qdf(emb, 3), nprobe=NPROBE, topk=TOPK
        ).collect()
    ]
    assert got == want and len(got) == 3 * TOPK


def test_partition_pruned_scan(spark, stored):
    """The probed cells arrive as PartitionFilters on the codes scan:
    unprobed cells' files are never listed or read (the inverted-list
    I/O bound, enforced by the planner)."""
    emb, ci, pi, path = stored
    out = search_ivf_index(spark, path, _qdf(emb, 3), nprobe=NPROBE, topk=TOPK)
    plan = out._jdf.queryExecution().executedPlan().toString()
    scan = next(
        (
            ln
            for ln in plan.splitlines()
            if "PartitionFilters" in ln and "codes" in plan
        ),
        "",
    )
    assert "PartitionFilters: [" in plan
    assert "PartitionFilters: []" not in plan.replace("PartitionFilters: [],", "X")
    # the cluster partition column is the filtered one
    import re

    m = re.search(r"PartitionFilters: \[([^\]]+)\]", plan)
    assert m and "cluster" in m.group(1), (scan, m and m.group(1))
    # and the search plan keeps the batch family's discipline
    assert "CartesianProduct" not in plan
    assert "Python" not in plan


def test_stored_rerank_matches_inmemory(spark, stored):
    """The full deployment endpoint: stored-index shortlist + exact
    re-rank over the corpus table == the in-memory frozen batch
    rerank composition, row for row."""
    emb, ci, pi, path = stored
    want = [
        (int(r.q_id), int(r.vec_id), float(r.dist2))
        for r in ivf_pq_batch_rerank_topk(
            emb, n_queries=2, n_cells=K_COARSE, nprobe=NPROBE, m=M, k=K_PQ,
            topk=5, shortlist=25, coarse_index=ci, pq_index=pi,
        ).collect()
    ]
    got = [
        (int(r.q_id), int(r.vec_id), float(r.dist2))
        for r in search_ivf_index_rerank(
            spark, path, _qdf(emb, 2), emb, nprobe=NPROBE, topk=5, shortlist=25
        ).collect()
    ]
    assert got == want and len(got) == 2 * 5


def test_append_matches_one_shot(spark, sf_small, tmp_path):
    """FAISS add(): write the base corpus, append the ingest batch
    frozen — the grown index answers queries identically to an index
    written over the full corpus in one shot."""
    emb = load_table(spark, sf_small, "embeddings", rebalance=True)
    base = emb.filter(F.col("vec_id") < 350)
    rest = emb.filter(F.col("vec_id") >= 350)
    ci, pi = _codebooks(base)  # trained on the base, as in production

    p_grown = str(tmp_path / "grown")
    write_ivf_index(base, p_grown, ci, pi, m=M)
    write_ivf_index(rest, p_grown, ci, pi, m=M, mode="append")

    p_full = str(tmp_path / "oneshot")
    write_ivf_index(emb, p_full, ci, pi, m=M)

    q = _qdf(emb, 3)
    a = [
        (int(r.q_id), int(r.vec_id), float(r.adc_dist2))
        for r in search_ivf_index(spark, p_grown, q, nprobe=NPROBE, topk=TOPK).collect()
    ]
    b = [
        (int(r.q_id), int(r.vec_id), float(r.adc_dist2))
        for r in search_ivf_index(spark, p_full, q, nprobe=NPROBE, topk=TOPK).collect()
    ]
    assert a == b and len(a) == 3 * TOPK


def test_append_rejects_foreign_codebook(spark, sf_small, tmp_path):
    """Appending with a codebook other than the stored one corrupts
    every list — it must refuse loudly (that operation is a rebuild,
    priced by the churn audit)."""
    emb = load_table(spark, sf_small, "embeddings", rebalance=True)
    base = emb.filter(F.col("vec_id") < 350)
    ci, pi = _codebooks(base)
    path = str(tmp_path / "idx")
    write_ivf_index(base, path, ci, pi, m=M)
    ci2 = [(c, d, v + 1.0) for c, d, v in ci]
    with pytest.raises(ValueError, match="coarse codebook"):
        write_ivf_index(emb, path, ci2, pi, m=M, mode="append")


def test_permuted_index_pretransform(spark, sf_small, tmp_path):
    """An OPQ-lite index persists its permutation and applies it to
    queries itself (FAISS IndexPreTransform): searching with RAW
    queries equals searching a pre-permuted index with permuted
    queries; the exact re-rank is permutation-invariant; appends that
    drop or change the permutation refuse."""
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.clustering import (
        apply_dim_permutation,
    )
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.ivf_index import (
        search_ivf_index_rerank,
    )

    emb = load_table(spark, sf_small, "embeddings", rebalance=True)
    perm = list(reversed(range(64)))  # fixed, clearly non-identity
    pemb = apply_dim_permutation(emb, perm)
    ci, pi = _codebooks(pemb)  # codebooks train on the PERMUTED frame

    p_raw = str(tmp_path / "with_sidecar")
    write_ivf_index(emb, p_raw, ci, pi, m=M, dim_perm=perm)
    p_pre = str(tmp_path / "prepermuted")
    write_ivf_index(pemb, p_pre, ci, pi, m=M)

    q_raw = _qdf(emb, 3)
    q_perm = (
        pemb.orderBy("vec_id")
        .limit(3)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    )
    a = [
        (int(r.q_id), int(r.vec_id), float(r.adc_dist2))
        for r in search_ivf_index(spark, p_raw, q_raw, nprobe=NPROBE, topk=TOPK).collect()
    ]
    b = [
        (int(r.q_id), int(r.vec_id), float(r.adc_dist2))
        for r in search_ivf_index(spark, p_pre, q_perm, nprobe=NPROBE, topk=TOPK).collect()
    ]
    assert a == b and len(a) == 3 * TOPK

    # exact re-rank over the RAW corpus: permutation-invariant L2
    want = [
        (int(r.q_id), int(r.vec_id), float(r.dist2))
        for r in ivf_pq_batch_rerank_topk(
            pemb, n_queries=2, n_cells=K_COARSE, nprobe=NPROBE, m=M, k=K_PQ,
            topk=5, shortlist=25, coarse_index=ci, pq_index=pi,
        ).collect()
    ]
    got = [
        (int(r.q_id), int(r.vec_id), float(r.dist2))
        for r in search_ivf_index_rerank(
            spark, p_raw, _qdf(emb, 2), emb, nprobe=NPROBE, topk=5, shortlist=25
        ).collect()
    ]
    assert got == want and len(got) == 2 * 5

    # appends must carry the SAME permutation
    batch = emb.filter(F.col("vec_id") >= 480)
    with pytest.raises(ValueError, match="dim permutation"):
        write_ivf_index(batch, p_raw, ci, pi, m=M, mode="append")
    with pytest.raises(ValueError, match="dim permutation"):
        write_ivf_index(
            batch, p_raw, ci, pi, m=M, mode="append",
            dim_perm=list(range(64)),
        )
    # and the matching one works
    write_ivf_index(batch, p_raw, ci, pi, m=M, mode="append", dim_perm=perm)


def test_ivf_list_stats(spark, stored):
    """List-size monitoring over the stored index: per-cell counts
    conserve the corpus, match the coding assignment exactly, and the
    FAISS imbalance factor computes on the driver."""
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.clustering import (
        kmeans_code_frozen,
    )
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.ivf_index import (
        ivf_list_stats,
    )

    emb, ci, pi, path = stored
    stats = ivf_list_stats(spark, path, m=M)
    rows = {int(r.cluster): int(r.n_vectors) for r in stats.collect()}
    assert sum(rows.values()) == 500
    coded = kmeans_code_frozen(emb, ci)
    want: dict[int, int] = {}
    for r in coded.collect():
        want[int(r.cluster)] = want.get(int(r.cluster), 0) + 1
    assert rows == want
    assert stats.imbalance >= 1.0  # 1.0 iff perfectly balanced


def test_compact_ivf_index(spark, sf_small, tmp_path):
    """Compaction after appends: one file per cell at the
    destination (the probe-time open floor), search equality
    preserved, sidecars — including the optional pre-transform —
    carried over."""
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.clustering import (
        apply_dim_permutation,
    )
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.ivf_index import (
        compact_ivf_index,
    )

    emb = load_table(spark, sf_small, "embeddings", rebalance=True)
    perm = list(reversed(range(64)))
    ci, pi = _codebooks(apply_dim_permutation(emb, perm))

    src = str(tmp_path / "src")
    write_ivf_index(
        emb.filter(F.col("vec_id") < 300), src, ci, pi, m=M, dim_perm=perm
    )
    for lo, hi in ((300, 400), (400, 500)):
        write_ivf_index(
            emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)),
            src, ci, pi, m=M, mode="append", dim_perm=perm,
        )

    dst = str(tmp_path / "dst")
    rep = compact_ivf_index(spark, src, dst)
    assert rep["files_after"] == rep["cells"]  # exactly one file/cell
    assert rep["files_before"] > rep["files_after"]

    q = _qdf(emb, 3)
    a = [
        (int(r.q_id), int(r.vec_id), float(r.adc_dist2))
        for r in search_ivf_index(spark, src, q, nprobe=NPROBE, topk=TOPK).collect()
    ]
    b = [
        (int(r.q_id), int(r.vec_id), float(r.adc_dist2))
        for r in search_ivf_index(spark, dst, q, nprobe=NPROBE, topk=TOPK).collect()
    ]
    assert a == b and len(a) == 3 * TOPK
    # the compacted index still accepts appends under the same contract
    with pytest.raises(ValueError, match="dim permutation"):
        write_ivf_index(emb.limit(5), dst, ci, pi, m=M, mode="append")

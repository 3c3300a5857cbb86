"""ANN index MAINTENANCE: coding vectors against FROZEN codebooks.

The operational complement of the capped-training/churn findings
(BASELINE.md): at 100 TB you retrain a quantizer on a schedule, not
per ingest batch — new vectors are quantized against the codebook
frozen at train time (FAISS ``IndexIVF.add()`` / ``IndexIVFPQ.add()``
semantics). These tests pin the two contracts that make that safe:

1. ROUND-TRIP: coding a corpus against its OWN trained codebook
   reproduces the training assignment row-for-row (same distance
   expression, 6-dp grid, lowest-cluster/code tie-break) — so the
   frozen path is a strict generalization, not a near-miss, of the
   trained path.
2. SEARCH EQUALITY: ``ivf_pq_batch_topk(coarse_index=…, pq_index=…)``
   with the trained codebooks returns exactly the trained search's
   rows (and forwards through the re-rank composition).
3. MAINTENANCE SEMANTICS: train on a BASE prefix, then code the grown
   corpus (base + new batch) frozen — base rows are unchanged and
   every new vector lands on its true nearest frozen centroid
   (driver-verified brute force).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from optimized_climate_data_integration_with_real_time_llm_querying_spark.catalog import (
    load_table,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.lifecycle import (
    release,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.clustering import (
    codebook_churn_flows,
    ivf_pq_batch_rerank_topk,
    ivf_pq_batch_topk,
    kmeans_assign,
    kmeans_code_frozen,
    matched_churn_from_flows,
    pq_assign,
    pq_code_frozen,
)

K_COARSE, M, K_PQ = 8, 8, 16
BASE_N = 350  # train on vec_id < 350, "ingest" the remaining 150


def test_kmeans_code_frozen_roundtrip(spark, sf_small):
    emb = load_table(spark, sf_small, "embeddings", rebalance=True)
    trained = kmeans_assign(emb, k=K_COARSE, n_iter=2)
    want = sorted(
        (int(r.vec_id), int(r.cluster), float(r.dist2)) for r in trained.collect()
    )
    release(trained)
    coded = kmeans_code_frozen(emb, trained.centroids)
    got = sorted(
        (int(r.vec_id), int(r.cluster), float(r.dist2)) for r in coded.collect()
    )
    assert got == want
    # the frozen list passes through unchanged
    assert coded.centroids == [
        (int(c), int(d), float(v)) for c, d, v in trained.centroids
    ]
    assert release(coded) == []  # a frozen-codebook scan persists nothing


def test_pq_code_frozen_roundtrip(spark, sf_small):
    emb = load_table(spark, sf_small, "embeddings", rebalance=True)
    trained = pq_assign(emb, m=M, k=K_PQ, n_iter=2)
    want = sorted(
        (int(r.vec_id), int(r.sub), int(r.code), float(r.dist2))
        for r in trained.collect()
    )
    release(trained)
    coded = pq_code_frozen(emb, trained.centroids, m=M)
    got = sorted(
        (int(r.vec_id), int(r.sub), int(r.code), float(r.dist2))
        for r in coded.collect()
    )
    assert got == want


def test_frozen_index_search_matches_trained(spark, sf_small):
    """ivf_pq_batch_topk against the corpus's own trained codebooks ==
    the train-inline call: the frozen path changes the PLAN (no Lloyd
    iterations, no driver round-trips) but not one output row."""
    emb = load_table(spark, sf_small, "embeddings", rebalance=True)
    kw = dict(n_queries=3, n_cells=K_COARSE, nprobe=2, m=M, k=K_PQ, topk=10)
    trained = ivf_pq_batch_topk(emb, **kw)
    want = [
        (int(r.q_id), int(r.vec_id), float(r.adc_dist2)) for r in trained.collect()
    ]
    release(trained)
    cells = kmeans_assign(emb, k=K_COARSE, n_iter=2)
    cells.collect()
    codes = pq_assign(emb, m=M, k=K_PQ, n_iter=2)
    codes.collect()
    release(cells)
    release(codes)
    frozen = ivf_pq_batch_topk(
        emb, coarse_index=cells.centroids, pq_index=codes.centroids, **kw
    )
    got = [
        (int(r.q_id), int(r.vec_id), float(r.adc_dist2)) for r in frozen.collect()
    ]
    release(frozen)
    assert got == want and len(got) == 3 * 10


def test_frozen_index_rerank_forwards(spark, sf_small):
    emb = load_table(spark, sf_small, "embeddings", rebalance=True)
    kw = dict(
        n_queries=2, n_cells=K_COARSE, nprobe=2, m=M, k=K_PQ, topk=5, shortlist=25
    )
    trained = ivf_pq_batch_rerank_topk(emb, **kw)
    want = [(int(r.q_id), int(r.vec_id), float(r.dist2)) for r in trained.collect()]
    release(trained)
    cells = kmeans_assign(emb, k=K_COARSE, n_iter=2)
    cells.collect()
    codes = pq_assign(emb, m=M, k=K_PQ, n_iter=2)
    codes.collect()
    release(cells)
    release(codes)
    frozen = ivf_pq_batch_rerank_topk(
        emb, coarse_index=cells.centroids, pq_index=codes.centroids, **kw
    )
    got = [(int(r.q_id), int(r.vec_id), float(r.dist2)) for r in frozen.collect()]
    release(frozen)
    assert got == want and len(got) == 2 * 5


def test_frozen_coding_of_ingest_batch(spark, sf_small):
    """The nightly-ingest scenario: train on the BASE prefix, freeze,
    then code base + new batch. Base assignments are IDENTICAL to the
    base-trained run (adding vectors never moves existing ones — the
    property FAISS add() guarantees and retraining deliberately
    breaks), and every new vector lands on its true nearest frozen
    centroid (brute-force verified on the driver)."""
    emb = load_table(spark, sf_small, "embeddings", rebalance=True)
    base = emb.filter(F.col("vec_id") < BASE_N)
    trained = kmeans_assign(base, k=K_COARSE, n_iter=2)
    base_want = {int(r.vec_id): (int(r.cluster), float(r.dist2)) for r in trained.collect()}
    release(trained)
    assert len(base_want) == BASE_N

    coded = kmeans_code_frozen(emb, trained.centroids)
    rows = {int(r.vec_id): (int(r.cluster), float(r.dist2)) for r in coded.collect()}
    assert len(rows) == 500
    # (a) base rows byte-identical
    assert {i: rows[i] for i in base_want} == base_want

    # (b) new rows: nearest frozen centroid, brute force. Replays the
    # operator's 6-dp grid + lowest-cluster tie-break exactly.
    cent = {}
    for c, d, v in trained.centroids:
        cent.setdefault(int(c), {})[int(d)] = float(v)
    new_vecs = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id") >= BASE_N).collect()
    }
    assert len(new_vecs) == 500 - BASE_N
    for vid, vec in new_vecs.items():
        best = min(
            (
                (round(sum((vec[d] - cv) ** 2 for d, cv in dims.items()), 6), c)
                for c, dims in cent.items()
            )
        )
        assert rows[vid] == (best[1], best[0]), vid


def test_frozen_search_plan_shape(spark, sf_small):
    """The frozen-index search keeps the batch pipeline's plan
    discipline (broadcast codebooks, no cartesian, no Python) AND
    drops the training stage entirely: building the frame triggers
    zero Spark jobs (no Lloyd collects, no seed collect — the frozen
    path must be lazily composable into a nightly ingest DAG)."""
    emb = load_table(spark, sf_small, "embeddings", rebalance=True)
    cells = kmeans_assign(emb, k=K_COARSE, n_iter=2)
    codes = pq_assign(emb, m=M, k=K_PQ, n_iter=2)
    release(cells)
    release(codes)
    sc = spark.sparkContext
    sc.setJobGroup("frozen-build", "index-maintenance plan pin")
    try:
        # the two dim-sniff .first() calls are the ONLY allowed
        # actions (the batch search's own + pq_code_frozen's)
        frozen = ivf_pq_batch_topk(
            emb, n_queries=3, n_cells=K_COARSE, nprobe=2, m=M, k=K_PQ, topk=10,
            coarse_index=cells.centroids, pq_index=codes.centroids,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("frozen-build")
    # measured: 4 (each dim sniff is 2 AQE stage-jobs); the trained
    # build runs 39 — any training sneaking back in blows way past 6
    assert len(jobs) <= 6, (
        f"frozen path ran {len(jobs)} jobs — it must not train "
        "(no Lloyd collects, no seed collect)"
    )
    plan = frozen._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "Python" not in plan
    assert "partial" in plan


def test_churn_flows_identity(spark, sf_small):
    """Same codebook on both sides: every flow is diagonal, matched
    churn 0, zero distance delta."""
    emb = load_table(spark, sf_small, "embeddings", rebalance=True)
    trained = kmeans_assign(emb, k=K_COARSE, n_iter=2)
    trained.collect()
    release(trained)
    flows = codebook_churn_flows(emb, trained.centroids, trained.centroids)
    rows = [
        (int(r.cluster_old), int(r.cluster_new), int(r.n), float(r.mean_dist2_delta))
        for r in flows.collect()
    ]
    assert all(o == n for o, n, _, _ in rows)
    assert all(d == 0.0 for _, _, _, d in rows)
    assert sum(n for _, _, n, _ in rows) == 500
    assert matched_churn_from_flows([(o, n, c) for o, n, c, _ in rows]) == 0.0


def test_churn_flows_relabel_invariant(spark, sf_small):
    """A cold retrain relabels clusters arbitrarily; permuting the
    NEW codebook's labels must leave matched churn at 0 even though
    raw label disagreement is near-total — the correction
    scripts/kmeans_cap_probe.py applies, here on the flow table."""
    emb = load_table(spark, sf_small, "embeddings", rebalance=True)
    trained = kmeans_assign(emb, k=K_COARSE, n_iter=2)
    trained.collect()
    release(trained)
    realized = sorted({c for c, _, _ in trained.centroids})
    shift = {c: realized[(i + 1) % len(realized)] for i, c in enumerate(realized)}
    permuted = [(shift[c], d, v) for c, d, v in trained.centroids]
    flows = codebook_churn_flows(emb, trained.centroids, permuted)
    rows = [
        (int(r.cluster_old), int(r.cluster_new), int(r.n)) for r in flows.collect()
    ]
    # raw disagreement: every row is off-diagonal (cyclic shift)
    assert all(o != n for o, n, _ in rows)
    assert matched_churn_from_flows(rows) == 0.0


def test_churn_flows_retrain(spark, sf_small):
    """Base-trained vs full-trained codebooks — the real scheduled-
    retrain audit. Totals conserve, and the flow table's weighted
    distance delta equals the independently-computed difference of
    mean assigned dist2 under each codebook."""
    emb = load_table(spark, sf_small, "embeddings", rebalance=True)
    base = emb.filter(F.col("vec_id") < BASE_N)
    old = kmeans_assign(base, k=K_COARSE, n_iter=2)
    old.collect()
    release(old)
    new = kmeans_assign(emb, k=K_COARSE, n_iter=2)
    new.collect()
    release(new)
    flows = codebook_churn_flows(emb, old.centroids, new.centroids)
    rows = [
        (int(r.cluster_old), int(r.cluster_new), int(r.n), float(r.mean_dist2_delta))
        for r in flows.collect()
    ]
    assert sum(n for _, _, n, _ in rows) == 500
    churn = matched_churn_from_flows([(o, nw, c) for o, nw, c, _ in rows])
    assert 0.0 <= churn <= 1.0
    # independent check of the quality-delta column
    d_old = sum(
        float(r.dist2) for r in kmeans_code_frozen(emb, old.centroids).collect()
    )
    d_new = sum(
        float(r.dist2) for r in kmeans_code_frozen(emb, new.centroids).collect()
    )
    got = sum(c * d for _, _, c, d in rows)
    assert abs(got - (d_new - d_old)) < 1e-2
    # full training saw the new vectors; it cannot fit the corpus
    # WORSE than the base-only codebook does
    assert d_new <= d_old + 1e-6


def test_frozen_coding_of_balanced_codebook(spark):
    """Freezing a BALANCED (hot-list-split) codebook: coding is the
    flat FAISS add() rule — every vector on its true nearest FINAL
    cell (brute-force verified) — which may legitimately differ from
    the hierarchical training assignment at split boundaries (the
    kmeans_code_frozen docstring's trade)."""
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"
        ),
    )
    from gen_scale_data import gen_embeddings_skew

    from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.clustering import (
        kmeans_assign_balanced,
    )

    tbl = gen_embeddings_skew(600)
    pdf = tbl.to_pandas()
    pdf["embedding"] = pdf["embedding"].map(lambda v: [float(x) for x in v])
    emb = spark.createDataFrame(pdf)

    bal = kmeans_assign_balanced(emb, k=K_COARSE, n_iter=2, split_factor=1.2)
    bal.collect()
    release(bal)
    realized = {c for c, _, _ in bal.centroids}
    assert len(realized) > K_COARSE  # the skew twin must actually split

    coded = kmeans_code_frozen(emb, bal.centroids)
    rows = {int(r.vec_id): (int(r.cluster), float(r.dist2)) for r in coded.collect()}
    assert len(rows) == 600

    cent = {}
    for c, d, v in bal.centroids:
        cent.setdefault(int(c), {})[int(d)] = float(v)
    vecs = {
        int(r.vec_id): [float(x) for x in r.embedding] for r in emb.collect()
    }
    for vid, vec in vecs.items():
        best = min(
            (
                (round(sum((vec[d] - cv) ** 2 for d, cv in dims.items()), 6), c)
                for c, dims in cent.items()
            )
        )
        assert rows[vid] == (best[1], best[0]), vid

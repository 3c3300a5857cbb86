"""Product-quantization properties: code structure, determinism, and
ADC recall floors on both adversarial (isotropic) and favorable
(clustered) distributions.
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
    pq_adc_topk,
    pq_assign,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.similarity import (
    cosine_topk,
)

from conftest import collect_released

M, K = 8, 16


def test_pq_code_structure(spark, sf_oracle):
    emb = load_table(spark, sf_oracle, "embeddings", rebalance=True)
    n = emb.count()
    codes = pq_assign(emb, m=M, k=K, n_iter=2)
    rows = codes.collect()
    release(codes)
    # one row per (vector, subspace); codes within [0, K)
    assert len(rows) == n * M
    assert all(0 <= r.code < K and 0 <= r.sub < M for r in rows)
    # the whole corpus is represented by at most m*k distinct cells
    assert len({(r.sub, r.code) for r in rows}) <= M * K


def test_pq_adc_deterministic(spark, sf_oracle):
    emb = load_table(spark, sf_oracle, "embeddings", rebalance=True)
    a = pq_adc_topk(emb, query_id=0, m=M, k=K, topk=10)
    r1 = [(r.vec_id, r.adc_dist2) for r in a.collect()]
    release(a)
    b = pq_adc_topk(emb, query_id=0, m=M, k=K, topk=10)
    r2 = [(r.vec_id, r.adc_dist2) for r in b.collect()]
    release(b)
    assert r1 == r2 and len(r1) == 10


def test_pq_adc_recall_isotropic_floor(spark, sf_oracle):
    """The synthetic embeddings table is unit-norm isotropic noise —
    the theoretical WORST case for any coarse quantizer (top cosines
    barely exceed the bulk; same caveat as ann_projected_topk).
    Random 10-of-499 would hit 0.02 expected recall; PQ-ADC measures
    0.3 — floor at 0.2."""
    emb = load_table(spark, sf_oracle, "embeddings", rebalance=True)
    adc = pq_adc_topk(emb, query_id=0, m=M, k=K, topk=10)
    got = {r.vec_id for r in adc.collect()}
    release(adc)
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = {r.vec_id for r in cosine_topk(emb, qv, k=10).collect()}
    assert len(got & exact) / 10 >= 0.2


def test_pq_adc_recall_clustered(spark):
    """On data WITH cluster structure (what real embedding corpora
    have), PQ-ADC must route to the right REGION: 200 vectors in 8
    tight clusters, query = vector 0. Every ADC top-10 hit must come
    from the query's own cluster (the claim PQ actually makes — codes
    discriminate between clusters), and recall@10 vs exact must beat
    the isotropic floor decisively (>= 0.5; within-cluster RANKING is
    inherently fuzzy once all members share near-identical codes)."""
    import numpy as np

    rng = np.random.default_rng(7)
    centers = rng.standard_normal((8, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = []
    for i in range(200):
        v = centers[i % 8] + 0.05 * rng.standard_normal(64)
        v /= np.linalg.norm(v)
        vecs.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    adc = pq_adc_topk(emb, query_id=0, m=M, k=K, topk=10)
    got = {r.vec_id for r in adc.collect()}
    release(adc)
    assert all(v % 8 == 0 for v in got), "ADC strayed outside the query's cluster"
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = {r.vec_id for r in cosine_topk(emb, qv, k=10).collect()}
    assert len(got & exact) / 10 >= 0.5


def test_ivf_pq_results_from_probed_cells_only(spark, sf_oracle):
    """Every IVF-PQ hit must come from one of the query's nprobe
    nearest cells, and the search must be deterministic."""
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.clustering import (
        ivf_pq_topk,
        kmeans_assign,
    )

    emb = load_table(spark, sf_oracle, "embeddings", rebalance=True)
    out = ivf_pq_topk(emb, query_id=0, n_cells=8, nprobe=2, m=M, k=K, topk=10)
    hits = [(r.vec_id, r.adc_dist2) for r in out.collect()]
    release(out)
    assert len(hits) == 10

    cells = kmeans_assign(emb, k=8, n_iter=2)
    cell_of = {r.vec_id: r.cluster for r in cells.collect()}
    release(cells)
    # nprobe=2: all hits must come from at most 2 distinct cells.
    hit_cells = {cell_of[v] for v, _ in hits}
    assert len(hit_cells) <= 2, f"hits span {len(hit_cells)} cells > nprobe"

    out2 = ivf_pq_topk(emb, query_id=0, n_cells=8, nprobe=2, m=M, k=K, topk=10)
    hits2 = [(r.vec_id, r.adc_dist2) for r in out2.collect()]
    release(out2)
    assert hits == hits2


def test_residual_pq_dominates_plain(spark, sf_oracle):
    """The reason FAISS encodes residuals: at equal bits, residual-PQ
    recall must be at least plain-PQ recall on BOTH the isotropic
    (worst-case) corpus and clustered data, with its own floors
    (measured 0.5 iso / 0.7 clustered vs plain 0.3 / 0.6)."""
    import numpy as np

    from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.clustering import (
        ivf_pq_topk,
        ivf_residual_pq_topk,
    )

    def recall(emb, fn):
        out = fn(emb, query_id=0, n_cells=8, nprobe=2, m=M, k=K, topk=10)
        got = {r.vec_id for r in out.collect()}
        release(out)
        qv = emb.filter(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        )
        exact = {r.vec_id for r in cosine_topk(emb, qv, k=10).collect()}
        return len(got & exact) / 10

    iso = load_table(spark, sf_oracle, "embeddings", rebalance=True)
    r_plain_iso = recall(iso, ivf_pq_topk)
    r_res_iso = recall(iso, ivf_residual_pq_topk)
    assert r_res_iso >= max(0.4, r_plain_iso), (r_res_iso, r_plain_iso)

    rng = np.random.default_rng(7)
    centers = rng.standard_normal((8, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = []
    for i in range(200):
        v = centers[i % 8] + 0.05 * rng.standard_normal(64)
        v /= np.linalg.norm(v)
        vecs.append((i, [float(x) for x in v]))
    clustered = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    r_plain_cl = recall(clustered, ivf_pq_topk)
    r_res_cl = recall(clustered, ivf_residual_pq_topk)
    assert r_res_cl >= max(0.6, r_plain_cl), (r_res_cl, r_plain_cl)


def test_ivf_pq_rerank_beats_adc_on_registry_data(spark, sf_small):
    """The re-rank stage (50-row exact refine) must recover most of
    what ADC quantization loses at the registry parameters: measured
    on the driver's own embeddings, ADC-ranked recall@10 is 0.3 and
    re-ranked is 0.9. Floors sit below with slack."""
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.queries import (
        all_queries,
    )

    qs = all_queries()
    exact = {
        r["vec_id"]
        for r in qs["embedding_cosine_topk"].builder(spark, sf_small).collect()
    }
    adc = {
        r["vec_id"] for r in collect_released(qs["ivf_pq_topk"].builder(spark, sf_small))
    }
    rr = {
        r["vec_id"]
        for r in collect_released(qs["ivf_pq_rerank_topk"].builder(spark, sf_small))
    }
    r_adc = len(exact & adc) / len(exact)
    r_rr = len(exact & rr) / len(exact)
    print(f"registry-data recall@10: adc={r_adc:.2f} rerank={r_rr:.2f}")
    assert r_rr >= 0.7
    assert r_rr > r_adc


def test_ivf_pq_batch_matches_single_query(spark, sf_oracle):
    """The batched search (one shared training, Q queries) must
    return EXACTLY ivf_pq_topk(query_id=q) for every query in the
    batch — the amortization cannot change any result. Uses
    train_stride=2 so the equivalence also covers the capped-training
    path (both sides sample identically)."""
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.clustering import (
        ivf_pq_batch_topk,
        ivf_pq_topk,
    )

    emb = load_table(spark, sf_oracle, "embeddings", rebalance=True)
    out = ivf_pq_batch_topk(
        emb, n_queries=3, n_cells=8, nprobe=2, m=M, k=K, topk=10,
        train_stride=2,
    )
    rows = out.collect()
    release(out)
    assert len(rows) == 30
    got = {}
    for r in rows:
        got.setdefault(r.q_id, []).append((r.vec_id, r.adc_dist2))
    assert sorted(got) == [0, 1, 2]  # the 3 lowest ids
    for q in sorted(got):
        single = ivf_pq_topk(
            emb, query_id=q, n_cells=8, nprobe=2, m=M, k=K, topk=10,
            train_stride=2,
        )
        want = [(r.vec_id, r.adc_dist2) for r in single.collect()]
        release(single)
        assert got[q] == want, f"batch != single for query {q}"


def test_ivf_pq_batch_query_ids_override(spark, sf_oracle):
    """query_ids (round 16) swaps the lowest-id default for an
    explicit query set without touching the index: per-query rows
    must still be EXACTLY ivf_pq_topk(query_id=q) for arbitrary,
    non-contiguous ids (the recall sweeps batch hot/cold samples
    this way)."""
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.clustering import (
        ivf_pq_batch_topk,
        ivf_pq_topk,
    )

    emb = load_table(spark, sf_oracle, "embeddings", rebalance=True)
    ids = [5, 17, 203]
    out = ivf_pq_batch_topk(
        emb, n_cells=8, nprobe=2, m=M, k=K, topk=10, query_ids=ids
    )
    rows = out.collect()
    release(out)
    got = {}
    for r in rows:
        got.setdefault(r.q_id, []).append((r.vec_id, r.adc_dist2))
    assert sorted(got) == sorted(ids)
    for q in ids:
        single = ivf_pq_topk(
            emb, query_id=q, n_cells=8, nprobe=2, m=M, k=K, topk=10
        )
        want = [(r.vec_id, r.adc_dist2) for r in single.collect()]
        release(single)
        assert got[q] == want, f"query_ids batch != single for query {q}"


def test_ivf_pq_batch_partitioning_independent(spark, sf_oracle):
    """The batch search's phase-1 partial top-k partitions by
    (q_id, spark_partition_id()) — a pruning SUPERSET: any true
    top-k row beats all but < topk rows globally, hence < topk rows
    in its own partition, so it survives phase 1 under ANY physical
    partitioning. If that argument were wrong, results would vary
    with partitioning and the driver hash would flake intermittently
    — this pins it: 1-partition and 13-partition inputs must produce
    identical batch results."""
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.clustering import (
        ivf_pq_batch_topk,
    )

    emb = load_table(spark, sf_oracle, "embeddings", rebalance=True)

    def run(frame):
        out = ivf_pq_batch_topk(
            frame, n_queries=3, n_cells=8, nprobe=2, m=M, k=K, topk=10
        )
        rows = [(r.q_id, r.vec_id, r.adc_dist2) for r in out.collect()]
        release(out)
        return rows

    a = run(emb.repartition(1))
    b = run(emb.repartition(13, "vec_id"))
    assert a == b and len(a) == 30


def test_ivf_pq_batch_rerank_matches_single_query(spark, sf_oracle):
    """The batch + exact-refine composition (the FAISS
    IndexRefineFlat.search call path) must return EXACTLY
    ivf_pq_rerank_topk(query_id=q) for every query in the batch.
    Uses train_stride=2 so the equivalence also covers the
    capped-training path (both sides sample identically)."""
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.clustering import (
        ivf_pq_batch_rerank_topk,
        ivf_pq_rerank_topk,
    )

    emb = load_table(spark, sf_oracle, "embeddings", rebalance=True)
    out = ivf_pq_batch_rerank_topk(
        emb, n_queries=3, n_cells=8, nprobe=2, m=M, k=K, topk=10,
        shortlist=50, train_stride=2,
    )
    rows = out.collect()
    release(out)
    assert len(rows) == 30
    got = {}
    for r in rows:
        got.setdefault(r.q_id, []).append((r.vec_id, r.dist2))
    assert sorted(got) == [0, 1, 2]  # the 3 lowest ids
    for q in sorted(got):
        single = ivf_pq_rerank_topk(
            emb, query_id=q, n_cells=8, nprobe=2, m=M, k=K, topk=10,
            shortlist=50, train_stride=2,
        )
        want = [(r.vec_id, r.dist2) for r in single.collect()]
        release(single)
        assert got[q] == want, f"batch rerank != single for query {q}"


def test_ivf_pq_batch_rerank_partitioning_independent(spark, sf_oracle):
    """The re-rank stage's per-query rank windows over at most
    Q x shortlist rows (the broadcast shortlist bounds the input by
    construction — unlike the ADC candidate set it cannot grow with
    the corpus), so the final output must be identical under any
    physical partitioning; 1-partition vs 13-partition inputs pin
    it, same discipline as the batch-search pin above."""
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.clustering import (
        ivf_pq_batch_rerank_topk,
    )

    emb = load_table(spark, sf_oracle, "embeddings", rebalance=True)

    def run(frame):
        out = ivf_pq_batch_rerank_topk(
            frame, n_queries=3, n_cells=8, nprobe=2, m=M, k=K, topk=10,
            shortlist=50,
        )
        rows = [(r.q_id, r.vec_id, r.dist2) for r in out.collect()]
        release(out)
        return rows

    a = run(emb.repartition(1))
    b = run(emb.repartition(13, "vec_id"))
    assert a == b and len(a) == 30


def test_batch_sql_byte_stable():
    """Factoring the batched-search CTE chain into _BATCH_SEARCH_CTES
    (shared by ivf_pq_batch_topk and ivf_pq_batch_rerank_topk) must
    not change the batch entry's historical oracle SQL by a byte —
    untouched registry entries keep byte-stable plans (the
    registry-change discipline). The md5 below is the round-14 SQL."""
    import hashlib

    from optimized_climate_data_integration_with_real_time_llm_querying_spark.queries import (
        all_queries,
    )

    qs = all_queries()
    batch = qs["ivf_pq_batch_topk"].oracle
    assert (
        hashlib.md5(batch.encode()).hexdigest()
        == "c8529b16e991e5df5b4d01e5b563c6e8"
    )
    # and the rerank entry composes on the IDENTICAL shared chain
    rerank = qs["ivf_pq_batch_rerank_topk"].oracle
    prefix = batch[: batch.index("    SELECT q_id, vec_id, adc_dist2 FROM scored")]
    assert rerank.startswith(prefix)


def test_batch_recall_eval_matches_single_query_eval(spark, sf_oracle):
    """The round-16 registry addition ann_batch_recall_at_10 must be
    the batched generalization of ann_recall_at_10, not a different
    metric: its q_id=0 row equals the single-query eval's one value
    (identical index parameters, identical exact baseline), every
    query gets exactly one row, and recalls are valid fractions of
    tenths."""
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.queries import (
        all_queries,
    )

    qs = all_queries()
    batch_df = qs["ann_batch_recall_at_10"].builder(spark, sf_oracle)
    rows = {r.q_id: r.recall_at_10 for r in batch_df.collect()}
    release(batch_df)
    assert sorted(rows) == list(range(8))  # the 8 lowest vec_ids
    assert all(0.0 <= v <= 1.0 and round(v * 10) == v * 10 for v in rows.values())

    single_df = qs["ann_recall_at_10"].builder(spark, sf_oracle)
    [single] = [r.recall_at_10 for r in single_df.collect()]
    release(single_df)
    assert rows[0] == single


def test_balanced_batch_rerank_composes(spark):
    """balanced=True (the hot-list-splitting quantizer) now plugs
    into the BATCH call path too — completing the remedy stack for
    skewed corpora: batched search + balanced cells + exact refine.
    Contract pin: per-query rows of the balanced batch composition
    equal ivf_pq_rerank_topk(query_id=q, balanced=True) exactly on
    the skew twin (same trainings, same splits, same refine)."""
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
        ivf_pq_batch_rerank_topk,
        ivf_pq_rerank_topk,
    )

    tbl = gen_embeddings_skew(600)
    pdf = tbl.to_pandas()
    pdf["embedding"] = pdf["embedding"].map(lambda v: [float(x) for x in v])
    emb = spark.createDataFrame(pdf)

    out = ivf_pq_batch_rerank_topk(
        emb, n_queries=2, n_cells=8, nprobe=3, m=M, k=K, topk=10,
        shortlist=50, balanced=True,
    )
    rows = out.collect()
    release(out)
    assert len(rows) == 20
    got = {}
    for r in rows:
        got.setdefault(r.q_id, []).append((r.vec_id, r.dist2))
    assert sorted(got) == [0, 1]
    for q in sorted(got):
        single = ivf_pq_rerank_topk(
            emb, query_id=q, n_cells=8, nprobe=3, m=M, k=K, topk=10,
            shortlist=50, balanced=True,
        )
        want = [(r.vec_id, r.dist2) for r in single.collect()]
        release(single)
        assert got[q] == want, f"balanced batch rerank != single for query {q}"


def test_variance_balanced_pq_recall(spark):
    """OPQ-lite pre-transform (round 17): on a decaying-spectrum
    corpus (PCA-like, scale 0.92^j — the shape real embedding spectra
    take), contiguous subspace grouping starves low-energy subspaces
    and FAILS OUTRIGHT on some queries (recall@10 = 0.0), while the
    variance-balanced snake permutation lifts mean recall ~1.5x and
    floors every query. On isotropic data every ordering is
    equivalent — this corpus is the one that exposes the difference.
    Fully deterministic (fixed seed + the operators' 6-dp grid):
    measured plain per-query [0.7 0.6 0.0 0.1 0.4 0.5] mean 0.383,
    snake [0.8 0.6 0.5 0.5 0.5 0.6] mean 0.583."""
    import numpy as np

    from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.clustering import (
        apply_dim_permutation,
        variance_balanced_permutation,
    )

    rng = np.random.default_rng(7)
    n, dim = 600, 64
    scales = 0.92 ** np.arange(dim)
    x = rng.standard_normal((n, dim)) * scales
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )

    perm = variance_balanced_permutation(emb, M)
    assert sorted(perm) == list(range(dim))  # a true permutation
    pemb = apply_dim_permutation(emb, perm)

    def recall(df, q):
        a = pq_adc_topk(df, query_id=q, m=M, k=K, topk=10)
        ids = {int(r.vec_id) for r in a.collect()}
        release(a)
        d2 = ((x - x[q]) ** 2).sum(axis=1)
        d2[q] = np.inf
        exact = set(np.argsort(d2)[:10].tolist())
        return len(ids & exact) / 10

    plain = [recall(emb, q) for q in range(6)]
    snake = [recall(pemb, q) for q in range(6)]
    assert min(snake) >= 0.4  # no catastrophic queries after balancing
    assert min(plain) == 0.0  # ...which contiguous grouping HAS
    assert sum(snake) / 6 >= sum(plain) / 6 + 0.15
    assert sum(snake) / 6 >= 0.5


def test_python_round6_matches_spark_round(spark, sf_oracle):
    """Probe/LUT cells, Lloyd seeds and means are computed on the
    driver (operators.trend.round6) instead of through a distributed
    F.round plan; this pins the two roundings bit-identical, sign of
    zero included, over (a) every probe/LUT sum actually produced by
    registry-parameter trainings on the real corpus and (b) an
    adversarial grid of half-way points, so the driver-side arithmetic
    can never drift off the oracle's HALF_UP 6-dp grid."""
    import math

    from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.clustering import (
        _coarse_cells,
        _query_vecs,
        kmeans_assign,
        pq_assign,
    )
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.trend import (
        round6,
    )

    emb = load_table(spark, sf_oracle, "embeddings", rebalance=True)
    cells = kmeans_assign(emb, k=8, n_iter=2)
    codes = pq_assign(emb, m=M, k=K, n_iter=2)
    qvec = _query_vecs(emb, [0], 1, "embedding", "vec_id")[0]
    # every probe sum (unrounded) + every LUT sum (unrounded)
    raw: list[float] = []
    by_c = _coarse_cells(cells.centroids)
    for c in sorted(by_c):
        raw.append(sum((qvec[d] - v) ** 2 for d, v in enumerate(by_c[c])))
    d_sub = len(qvec) // M
    lut_cells: dict[tuple[int, int], dict[int, float]] = {}
    for code, sub, sdim, cval in codes.centroids:
        lut_cells.setdefault((sub, code), {})[sdim] = cval
    for (sub, code), vals in sorted(lut_cells.items()):
        raw.append(
            sum(
                (qvec[sub * d_sub + sd] - vals[sd]) ** 2
                for sd in sorted(vals)
            )
        )
    release(cells)
    release(codes)
    # adversarial grid: exact half-way points, negatives, tiny/huge
    raw.extend(
        [
            0.0000005, 1.0000005, -0.0000005, -1.0000005, 2.5e-7,
            0.1234565, 0.12345649999, 123456.7890125, -42.0000015,
            1e-12, -1e-12, 7.0, 0.9999995,
        ]
    )
    sdf = spark.createDataFrame([(float(v),) for v in raw], "x double")
    spark_rounded = [r[0] for r in sdf.select(F.round("x", 6)).collect()]
    py_rounded = [round6(v) for v in raw]
    assert spark_rounded == py_rounded
    assert [math.copysign(1.0, v) for v in spark_rounded] == [
        math.copysign(1.0, v) for v in py_rounded
    ]

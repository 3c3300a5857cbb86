"""Invariant + plan-shape tests for the round-6 operators: k-means,
SemDeDup, BM25, contamination rate. Cross-engine value equality is
covered by tests/test_oracle_parity.py (all four carry full DuckDB
oracles); these tests pin the algorithmic contracts the oracle can't
express and the physical plan shapes that matter at 100 TB.
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
    kmeans_assign,
    semantic_dedup,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.retrieval import (
    bm25_scores,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.text import (
    tokens,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.queries import (
    all_queries,
)


def test_kmeans_partitions_all_vectors(spark, sf_small):
    emb = load_table(spark, sf_small, "embeddings")
    n = emb.count()
    out = kmeans_assign(emb, k=4, n_iter=2)
    rows = out.collect()
    release(out)
    assert len(rows) == n  # every vector assigned exactly once
    assert len({r["vec_id"] for r in rows}) == n
    assert all(0 <= r["cluster"] < 4 for r in rows)
    assert all(r["dist2"] >= 0.0 for r in rows)


def test_kmeans_iterations_do_not_increase_inertia(spark, sf_small):
    """Lloyd's is monotone: total within-cluster distance after 2
    iterations can't exceed the 1-iteration total (on the same seeds,
    up to the 6-dp rounding grid)."""
    emb = load_table(spark, sf_small, "embeddings")
    one = kmeans_assign(emb, k=4, n_iter=1)
    i1 = one.agg(F.sum("dist2")).collect()[0][0]
    release(one)
    two = kmeans_assign(emb, k=4, n_iter=2)
    i2 = two.agg(F.sum("dist2")).collect()[0][0]
    release(two)
    assert i2 <= i1 + 1e-3


def test_semantic_dedup_keeps_min_id_and_cluster_consistency(spark, sf_small):
    emb = load_table(spark, sf_small, "embeddings")
    out = semantic_dedup(emb, k=4, n_iter=2, threshold=0.45)
    rows = out.collect()
    release(out)
    assert len(rows) == emb.count()
    # The globally-lowest id can never be dropped (drops are always
    # the higher id of a pair).
    min_id = min(r["vec_id"] for r in rows)
    assert next(r for r in rows if r["vec_id"] == min_id)["is_kept"] == 1
    assert all(r["is_kept"] in (0, 1) for r in rows)


def test_bm25_scores_match_single_doc_hand_computation(spark, sf_small):
    """One-term query over a tiny frame: BM25 reduces to
    idf * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl)) — hand-check it."""
    import math

    df = spark.createDataFrame(
        [(1, "x x y"), (2, "y z"), (3, "z z z z")],
        "doc_id long, text string",
    )
    tok = df.select("doc_id", F.explode(tokens("text")).alias("token"))
    out = {r["doc_id"]: r["bm25"] for r in bm25_scores(tok, ["x"]).collect()}
    assert set(out) == {1}
    n_docs, dfc, tf, dl, avgdl = 3, 1, 2, 3, 3.0
    idf = math.log(1 + (n_docs - dfc + 0.5) / (dfc + 0.5))
    expected = idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    assert abs(out[1] - round(expected, 4)) < 1e-9


def test_contamination_rate_bounds(spark, sf_small):
    q = all_queries()["contamination_rate"]
    rows = q.builder(spark, sf_small).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_hit"] <= r["n_shingles"]
        assert 0.0 <= r["hit_rate"] <= 1.0


def test_plan_shapes(spark, sf_small):
    """No CartesianProduct anywhere; the BM25 stats/idf joins
    broadcast; the SemDeDup pair join is an equi-join on cluster."""
    qs = all_queries()
    for name in ["bm25_topk", "contamination_rate"]:
        plan = qs[name].builder(spark, sf_small)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, name
    sd = qs["semantic_dedup_prune"].builder(spark, sf_small)
    plan = sd._jdf.queryExecution().executedPlan().toString()
    release(sd)
    assert "CartesianProduct" not in plan


def test_budget_select_matches_naive_global_window(spark, sf_small):
    """The two-phase (histogram -> cutoff grade -> per-grade window)
    selection must equal the naive single-partition running-sum rule
    it replaces at scale."""
    from pyspark.sql import Window as W

    from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.sampling import (
        select_by_quality_budget,
    )
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.text import (
        quality_features,
        token_count,
    )

    d = load_table(spark, sf_small, "documents")
    scored = d.select(
        "doc_id",
        F.round(quality_features("text")["alpha_ratio"], 3).alias("quality"),
        token_count("text").cast("long").alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)
    total = scored.agg(F.sum("n_tokens")).collect()[0][0]
    for frac in (0.1, 0.4, 0.9):
        budget = int(frac * total)
        two_phase = {
            (r["doc_id"], r["cum_weight"])
            for r in select_by_quality_budget(scored, budget).collect()
        }
        w = W.orderBy(F.col("quality").desc(), "doc_id").rowsBetween(
            W.unboundedPreceding, W.currentRow
        )
        naive = {
            (r["doc_id"], r["cum"])
            for r in scored.withColumn("cum", F.sum("n_tokens").over(w))
            .filter(F.col("cum") <= budget)
            .collect()
        }
        assert two_phase == naive, f"frac={frac}"


def test_budget_select_zero_budget_empty(spark, sf_small):
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.sampling import (
        select_by_quality_budget,
    )

    scored = spark.createDataFrame(
        [(1, 0.5, 10), (2, 0.4, 5)], "doc_id long, quality double, n_tokens long"
    )
    assert select_by_quality_budget(scored, 0).count() == 0
    # budget smaller than the first doc: nothing fits
    assert select_by_quality_budget(scored, 9).count() == 0
    # exactly the first doc
    kept = select_by_quality_budget(scored, 10).collect()
    assert [(r["doc_id"], r["cum_weight"]) for r in kept] == [(1, 10)]


def test_random_projection_distance_distortion(spark, sf_small):
    """JL contract: squared distances are preserved in expectation
    (planes scaled by sqrt(in/out)); per-pair distortion at out=16 is
    loose, so bound the MEAN ratio tightly and individuals broadly."""
    import numpy as np

    from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.similarity import (
        random_projection,
    )

    emb = load_table(spark, sf_small, "embeddings")
    orig = {
        r["vec_id"]: np.array(r["embedding"], dtype=float)
        for r in emb.select("vec_id", "embedding").collect()
    }
    proj_rows = random_projection(emb, in_dim=64, out_dim=16, seed=11).collect()
    proj: dict[int, np.ndarray] = {}
    for r in proj_rows:
        proj.setdefault(r["vec_id"], np.zeros(16))[r["out_dim"]] = r["value"]
    ids = sorted(orig)[:30]
    ratios = []
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            d_orig = float(np.sum((orig[a] - orig[b]) ** 2))
            d_proj = float(np.sum((proj[a] - proj[b]) ** 2))
            if d_orig > 0:
                ratios.append(d_proj / d_orig)
    assert ratios
    mean = sum(ratios) / len(ratios)
    assert 0.8 < mean < 1.25, mean
    assert all(0.15 < r < 3.5 for r in ratios)


def test_projected_topk_recall_vs_exact(spark, sf_oracle):
    """Coarse-search + re-rank must beat random candidate selection
    decisively. The synthetic embeddings are isotropic noise (top
    cosines ~0.3, barely above the bulk) — the worst case for any
    coarse ranker: random 100-of-500 candidates would capture 2/10
    of the true top-10 in expectation (P(>=4) < 8%). Measured: the
    16-dim projection captures 6/10. Floor at 0.4."""
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.queries.clustering import (
        ann_projected_topk,
    )

    qs = all_queries()
    exact = [r["vec_id"] for r in qs["embedding_cosine_topk"].builder(spark, sf_oracle).collect()]
    # Registry row retired in round 16 (displacement policy #4); the
    # plan itself — and this recall floor at its exact parameters —
    # stays, called directly.
    proj = [r["vec_id"] for r in ann_projected_topk(spark, sf_oracle).collect()]
    recall = len(set(exact) & set(proj)) / len(exact)
    assert recall >= 0.4, recall


def test_power_iteration_matches_numpy_recipe(spark, sf_small):
    """covariance_power_iteration computes exactly its defined recipe:
    numpy re-runs the same integer-grid power steps from the same
    6-dp covariance and must agree to the printed precision."""
    import numpy as np

    from optimized_climate_data_integration_with_real_time_llm_querying_spark.queries import (
        all_queries,
    )

    vecs = np.array(
        [
            list(r.embedding)
            for r in spark.read.parquet(f"{sf_small}/embeddings.parquet")
            .orderBy("vec_id")
            .collect()
        ],
        dtype=np.float64,
    )
    n, d = vecs.shape
    mean = vecs.sum(axis=0) / n
    cov = (vecs.T @ vecs) / n - np.outer(mean, mean)
    cint = np.round(np.round(cov, 6) * 1e6).astype(np.int64)
    q = np.full(d, 1_000_000, dtype=np.int64)
    for _ in range(3):
        w = cint @ q
        q = np.round(w.astype(np.float64) * 1e6 / np.abs(w).max()).astype(
            np.int64
        )
    nrm = np.sqrt(float((q.astype(object) ** 2).sum()))
    flip = 1.0 if q[np.argmax(np.abs(q))] >= 0 else -1.0
    expected = {i: round(float(q[i]) * flip / nrm, 6) for i in range(d)}

    df = all_queries()["covariance_power_iteration"].builder(spark, sf_small)
    got = {r.dim: r.loading for r in df.collect()}
    release(df)
    assert set(got) == set(expected)
    for i in expected:
        assert abs(got[i] - expected[i]) < 2e-6, (i, got[i], expected[i])
    # Unit norm and sign convention hold.
    assert abs(sum(v * v for v in got.values()) - 1.0) < 1e-6
    top = max(got, key=lambda i: abs(got[i]))
    assert got[top] >= 0


def test_balanced_kmeans_splits_hot_lists(spark):
    """Hot-list splitting (kmeans_assign_balanced) on the embedding-
    skew twin: the straggler list shrinks several-fold, every vector
    stays assigned exactly once, the attached centroids cover exactly
    the realized cells, and the whole trajectory is deterministic."""
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
        kmeans_assign,
        kmeans_assign_balanced,
    )

    tbl = gen_embeddings_skew(2000)
    pdf = tbl.to_pandas()
    pdf["embedding"] = pdf["embedding"].map(lambda v: [float(x) for x in v])
    emb = spark.createDataFrame(pdf)

    def occupancy(cells):
        rows = cells.groupBy("cluster").agg(F.count(F.lit(1)).alias("n")).collect()
        return {r["cluster"]: r["n"] for r in rows}

    plain = occupancy(kmeans_assign(emb, 8, 2))
    bal_cells = kmeans_assign_balanced(emb, 8, 2)
    bal = occupancy(bal_cells)

    # every vector assigned exactly once, before and after
    assert sum(plain.values()) == sum(bal.values()) == 2000
    # measured on this twin: max list 567 -> 187 (plain imbalance
    # 2.27); require a solid straggler reduction with slack
    assert max(plain.values()) > 450
    assert max(bal.values()) < max(plain.values()) / 2
    imb = max(bal.values()) / (2000 / len(bal))
    assert imb < 1.7, (imb, sorted(bal.values(), reverse=True))
    # centroids cover exactly the realized cells
    cent_cells = {c for c, _, _ in bal_cells.centroids}
    assert cent_cells == set(bal)
    # determinism: a second run reproduces the assignment
    again = occupancy(kmeans_assign_balanced(emb, 8, 2))
    assert again == bal


def test_cosine_batch_topk_oracle_ready(spark, sf_oracle):
    """Cross-engine proof, AHEAD of registration, that the round-17
    pre-registered entry's builder and oracle agree cell-exactly at
    the driver's scale factor — so the r17 landing is a pure
    registration, with the falsification already done."""
    import duckdb

    from optimized_climate_data_integration_with_real_time_llm_querying_spark.queries.llm_pipeline import (
        _cosine_batch_topk_oracle,
        embedding_cosine_batch_topk,
    )

    sdf = embedding_cosine_batch_topk(spark, sf_oracle)
    # + 0.0 normalizes signed zero before formatting: round(-eps, 6)
    # is -0.0 and formats as "-0.000000" on one engine only (rule 8).
    got = sorted(
        (int(r.q_id), int(r.vec_id), f"{r.cosine_sim + 0.0:.6f}")
        for r in sdf.collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_oracle}/embeddings.parquet')"
    )
    want = sorted(
        (int(q), int(v), f"{c + 0.0:.6f}")
        for q, v, c in con.sql(_cosine_batch_topk_oracle(8, 10)).fetchall()
    )
    assert got == want and len(got) == 80


def test_sampled_eval_cross_engine(spark, sf_oracle):
    """The eval-pricing sampling rule, executable and falsifiable
    (round 17): ann_batch_recall_sampled runs the batched
    index-quality eval on a rule-6 md5 hash-sample of the corpus —
    index, exact baseline, and query set all over the SAME sample.
    Because the composition is byte-identical, pointing the oracle's
    `embeddings` view at the sampled subset must replay the builder
    with the UNCHANGED full-eval oracle SQL, cell-exactly."""
    import duckdb

    from optimized_climate_data_integration_with_real_time_llm_querying_spark.queries import (
        all_queries,
    )
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.queries.clustering import (
        ann_batch_recall_sampled,
        eval_sample_pred_sql,
    )

    sdf = ann_batch_recall_sampled(spark, sf_oracle, sample_mod=2)
    rows = sdf.collect()
    release(sdf)
    got = sorted((int(r.q_id), f"{r.recall_at_10 + 0.0:.6f}") for r in rows)

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_oracle}/embeddings.parquet') "
        f"WHERE {eval_sample_pred_sql(2)}"
    )
    oracle = all_queries()["ann_batch_recall_at_10"].oracle
    want = sorted(
        (int(q), f"{v + 0.0:.6f}") for q, v in con.sql(oracle).fetchall()
    )
    assert got == want and len(got) == 8
    # the sample actually engaged: the 8 lowest SAMPLED ids are not
    # the full corpus's 0..7 (the md5 bucket drops some of them)
    assert any(q >= 8 for q, _ in got)


def test_cosine_topk_batch_matches_single_query(spark, sf_oracle):
    """The batched brute-force baseline (round 15): per-query rows
    must be EXACTLY cosine_topk with that query — batching cannot
    change any result — and the two-phase per-query rank must be
    partitioning-independent (1 vs 13 partitions identical), the
    same pins the batched IVF-PQ search carries."""
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_batch,
    )

    emb = load_table(spark, sf_oracle, "embeddings", rebalance=True)
    qset = (
        emb.orderBy("vec_id")
        .limit(3)
        .select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        )
    )
    out = cosine_topk_batch(emb, qset, k=10)
    rows = out.collect()
    assert len(rows) == 30
    got = {}
    for r in rows:
        got.setdefault(r.q_id, []).append((r.vec_id, r.cosine_sim))
    assert sorted(got) == [0, 1, 2]
    for q in sorted(got):
        qv = qset.filter(F.col("q_id") == q)
        want = [
            (r.vec_id, r.cosine_sim)
            for r in cosine_topk(emb, qv, k=10).collect()
        ]
        assert got[q] == want, f"batch != single for query {q}"
    # partitioning independence
    a = [tuple(r) for r in cosine_topk_batch(emb.repartition(1), qset, k=10).collect()]
    b = [
        tuple(r)
        for r in cosine_topk_batch(
            emb.repartition(13, "vec_id"), qset, k=10
        ).collect()
    ]
    assert a == b == [tuple(r) for r in rows]

"""Bounded-sample quantizer training (round 14, TRAIN_CAP).

FAISS never trains a quantizer on the corpus — it caps the training
set (max_points_per_centroid) and samples once the corpus exceeds
the cap. The engine's twin is stride = ceil(n / TRAIN_CAP) with the
deterministic md5-bucket hash sample (rule-6 md5/conv trick), so the
whole sampled trajectory replays in DuckDB. These tests pin:

1. byte-stability: stride=1 emits the historical SQL, so the
   full-training entries (kmeans_embedding_clusters,
   semantic_dedup_prune) keep byte-stable oracles;
2. the stride arithmetic agrees between the Spark builders and the
   oracle's COUNT(*) scalar subquery at both test scales;
3. the ENGAGED sampled path is cross-engine exact (the registry
   parity sweep at sf0.01 resolves stride=1, so without this test
   the sampled trajectory would only be proven by the manual sf0.1
   parity run);
4. the final assignment still covers every vector;
5. the hash sample is NOT id-correlated (the raw ``id % stride``
   pathology: on a corpus whose cluster equals id % 8, a stride-4
   raw-modulo sample sees 2 of 8 clusters — the hash sample sees
   nearly all of them) and recall on clustered data survives the
   cap (measured 0.7 ivf / 1.0 re-rank vs 0.6 / 1.0 full-training).
"""

from __future__ import annotations

import duckdb
import numpy as np
from pyspark.sql import functions as F

from optimized_climate_data_integration_with_real_time_llm_querying_spark.catalog import (
    load_table,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.lifecycle import (
    release,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.clustering import (
    _train_sample_pred,
    ivf_pq_rerank_topk,
    ivf_pq_topk,
    kmeans_assign,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.similarity import (
    cosine_topk,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.queries.clustering import (
    _kmeans_cte,
    _pq_cte,
    _sample_pred_sql,
    _train_stride,
    _STRIDE_SQL,
    K,
    N_ITER,
    TRAIN_CAP,
)


def test_stride1_emits_historical_sql():
    """stride=1 (and omitting stride) must contain no sample CTE —
    the byte-stable-plan guarantee for full-training entries."""
    plain_km = _kmeans_cte(K, N_ITER)
    assert plain_km == _kmeans_cte(K, N_ITER, stride=1)
    assert "et AS MATERIALIZED" not in plain_km
    assert "md5('tcap" not in plain_km
    plain_pq = _pq_cte(8, 16, 2, 8)
    assert plain_pq == _pq_cte(8, 16, 2, 8, stride=1)
    assert "et AS MATERIALIZED" not in plain_pq

    sampled = _kmeans_cte(K, N_ITER, stride=_STRIDE_SQL)
    assert "et AS MATERIALIZED" in sampled
    assert "md5('tcap:'" in sampled


def test_registry_split_full_vs_capped():
    """The index-family entries sample; the clustering-as-deliverable
    entries keep full training (their output IS the clustering)."""
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.queries import (
        all_queries,
    )

    qs = all_queries()
    for name in (
        "pq_codes",
        "pq_adc_topk",
        "ivf_pq_topk",
        "ivf_pq_rerank_topk",
        "ann_recall_at_10",
        "ivf_residual_pq_topk",
    ):
        assert "md5('tcap:'" in qs[name].oracle, name
        assert "CEIL(COUNT(*)" in qs[name].oracle, name
    for name in ("kmeans_embedding_clusters", "semantic_dedup_prune"):
        assert "md5('tcap:'" not in qs[name].oracle, name


def test_stride_arithmetic_matches_oracle(spark, sf_oracle, sf_small):
    """max(1, ceil(n / TRAIN_CAP)) on the driver == the oracle's
    COUNT(*) scalar subquery, at both test scales (sf0.01 is at the
    cap -> stride 1, no sampling; sf0.1 -> stride 4)."""
    con = duckdb.connect()
    for sf_dir in (sf_small, "/root/testdata/sf0.1"):
        emb = load_table(spark, sf_dir, "embeddings")
        con.execute(
            "CREATE OR REPLACE VIEW embeddings AS "
            f"SELECT * FROM read_parquet('{sf_dir}/embeddings.parquet')"
        )
        sql_stride = con.execute(f"SELECT {_STRIDE_SQL}").fetchone()[0]
        assert _train_stride(emb) == sql_stride
    assert _train_stride(load_table(spark, sf_small, "embeddings")) == 1
    assert _train_stride(load_table(spark, "/root/testdata/sf0.1", "embeddings")) == 4


def test_engaged_sampled_training_cross_engine(spark, sf_oracle):
    """The ENGAGED sampled trajectory (stride=2 at sf0.01, where the
    registry default resolves to 1) must be cell-exact vs DuckDB."""
    emb = load_table(spark, sf_oracle, "embeddings", rebalance=True)
    out = kmeans_assign(emb, k=K, n_iter=N_ITER, train_stride=2)
    got = sorted((r.vec_id, r.cluster, r.dist2) for r in out.collect())
    release(out)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS "
        f"SELECT * FROM read_parquet('{sf_oracle}/embeddings.parquet')"
    )
    want = sorted(
        con.execute(
            _kmeans_cte(K, N_ITER, stride=2)
            + " SELECT vec_id, cluster, dist2 FROM bfinal"
        ).fetchall()
    )
    assert len(got) == len(want)
    for (gi, gc, gd), (wi, wc, wd) in zip(got, want):
        assert gi == wi and gc == wc and abs(gd - wd) < 1e-9


def test_engaged_sampled_pq_training_cross_engine(spark, sf_oracle):
    """The PQ twin of the kmeans test above (ADVICE r14): the engaged
    sampled-PQ oracle (_pq_cte with stride>1 — sampled et CTE,
    DISTINCT-seed subquery) must be cell-exact vs pq_assign at the
    same explicit stride. The registry parity sweep at sf0.01
    resolves stride=1, so without this pin a regression in the
    sampled-PQ SQL would only surface in manual sf0.1 parity runs."""
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.clustering import (
        pq_assign,
    )

    emb = load_table(spark, sf_oracle, "embeddings", rebalance=True)
    out = pq_assign(emb, m=8, k=16, n_iter=2, train_stride=2)
    got = sorted((r.vec_id, r.sub, r.code, r.dist2) for r in out.collect())
    release(out)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS "
        f"SELECT * FROM read_parquet('{sf_oracle}/embeddings.parquet')"
    )
    want = sorted(
        con.execute(
            _pq_cte(8, 16, 2, 8, stride=2)
            + " SELECT vec_id, sub, code, dist2 FROM bfinal"
        ).fetchall()
    )
    assert len(got) == len(want)
    for (gi, gs, gc, gd), (wi, ws, wc, wd) in zip(got, want):
        assert gi == wi and gs == ws and gc == wc and abs(gd - wd) < 1e-9


def test_semantic_dedup_capped_training_cross_engine(spark, sf_oracle):
    """The round-15 train_stride flag on semantic_dedup (the
    clustering-OUTPUT family's opt-in TRAIN_CAP): the capped
    trajectory must stay DuckDB-replayable end-to-end — sampled
    k-means, within-cluster pair stage, drop set, and keep flags.
    The registry entry keeps stride=1 (byte-stable plan); this pins
    the flag path at an explicit stride=2."""
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.clustering import (
        semantic_dedup,
    )
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.queries.clustering import (
        SEMDEDUP_THRESHOLD,
    )

    emb = load_table(spark, sf_oracle, "embeddings", rebalance=True)
    out = semantic_dedup(
        emb, k=K, n_iter=N_ITER, threshold=SEMDEDUP_THRESHOLD, train_stride=2
    )
    got = sorted((r.vec_id, r.cluster, r.is_kept) for r in out.collect())
    release(out)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS "
        f"SELECT * FROM read_parquet('{sf_oracle}/embeddings.parquet')"
    )
    want = sorted(
        con.execute(
            _kmeans_cte(K, N_ITER, stride=2)
            + f"""
            , p AS (
              SELECT x.vec_id AS id_a, y.vec_id AS id_b
              FROM bfinal x JOIN bfinal y
                ON x.cluster = y.cluster AND x.vec_id < y.vec_id
            ), d AS (
              SELECT p.id_a, p.id_b,
                     ROUND(SUM(ea.val * eb.val)
                           / SQRT(SUM(ea.val * ea.val) * SUM(eb.val * eb.val)), 6) AS cos
              FROM p
              JOIN e ea ON ea.vec_id = p.id_a
              JOIN e eb ON eb.vec_id = p.id_b AND eb.dim = ea.dim
              GROUP BY p.id_a, p.id_b
            ), drops AS (
              SELECT DISTINCT id_b FROM d WHERE cos >= {SEMDEDUP_THRESHOLD}
            )
            SELECT m.vec_id, m.cluster,
                   CAST(m.vec_id NOT IN (SELECT id_b FROM drops) AS INT) AS is_kept
            FROM bfinal m
            """
        ).fetchall()
    )
    assert got == [(int(i), int(c), int(k_)) for i, c, k_ in want]
    assert len(got) == emb.count()


def test_sampled_final_assignment_covers_every_vector(spark, sf_oracle):
    emb = load_table(spark, sf_oracle, "embeddings", rebalance=True)
    n = emb.count()
    out = kmeans_assign(emb, k=K, n_iter=N_ITER, train_stride=4)
    rows = out.collect()
    release(out)
    assert len(rows) == n
    assert len({r.vec_id for r in rows}) == n


def _clustered_corpus(spark, n=200, n_clusters=8):
    rng = np.random.default_rng(7)
    centers = rng.standard_normal((n_clusters, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = []
    for i in range(n):
        v = centers[i % n_clusters] + 0.05 * rng.standard_normal(64)
        v /= np.linalg.norm(v)
        vecs.append((i, [float(x) for x in v]))
    return spark.createDataFrame(vecs, "vec_id long, embedding array<float>")


def test_hash_sample_not_id_correlated(spark):
    """The reason the sample hashes the id: on the clustered corpus
    (cluster == id % 8) the stride-4 RAW-modulo sample contains
    exactly 2 clusters; the hash sample must cover nearly all of
    them. Also pins Spark/DuckDB agreement on the predicate itself."""
    emb = _clustered_corpus(spark)
    sampled = emb.filter(_train_sample_pred("vec_id", 4))
    ids = [r.vec_id for r in sampled.select("vec_id").collect()]
    clusters = {i % 8 for i in ids}
    assert len(clusters) >= 6, f"hash sample covers only {clusters}"
    raw = {i % 8 for i in range(0, 200, 4)}
    assert len(raw) == 2  # the documented pathology
    con = duckdb.connect()
    want = {
        r[0]
        for r in con.execute(
            "SELECT v FROM (SELECT UNNEST(range(0, 200)) AS v) "
            f"WHERE {_sample_pred_sql(4).replace('vec_id', 'v')}"
        ).fetchall()
    }
    assert set(ids) == want


def test_capped_training_recall_floor_clustered(spark):
    """Recall on clustered data (the realistic regime) must survive
    the cap: measured ivf 0.7 / re-rank 1.0 at stride 4 vs 0.6 / 1.0
    full-training; floors below with slack. Same-cluster routing must
    hold exactly."""
    emb = _clustered_corpus(spark)
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = {r.vec_id for r in cosine_topk(emb, qv, k=10).collect()}
    out = ivf_pq_topk(
        emb, query_id=0, n_cells=8, nprobe=2, m=8, k=16, topk=10, train_stride=4
    )
    got = {r.vec_id for r in out.collect()}
    release(out)
    assert all(v % 8 == 0 for v in got), "capped training broke routing"
    assert len(got & exact) / 10 >= 0.5
    rr = ivf_pq_rerank_topk(
        emb,
        query_id=0,
        n_cells=8,
        nprobe=2,
        m=8,
        k=16,
        topk=10,
        shortlist=50,
        train_stride=4,
    )
    got_rr = {r.vec_id for r in rr.collect()}
    release(rr)
    assert len(got_rr & exact) / 10 >= 0.9

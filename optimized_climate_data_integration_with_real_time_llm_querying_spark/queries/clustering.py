"""Embedding-clustering queries: deterministic k-means and SemDeDup
semantic dedup, both under full DuckDB oracles.

The iterative Lloyd loop is made falsifiable the same way the
connected-components query is: the algorithm is pinned deterministic (no
RNG — lowest-id seeds, 6-dp rounding grid, lowest-cluster tie-break)
and the oracle UNROLLS the iterations as a CTE chain, so DuckDB
recomputes the exact fixpoint trajectory. See the ORACLE-HYGIENE
RULES in ``queries/__init__`` (rules 2/4/7 apply here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..lifecycle import hold
from ..operators.clustering import kmeans_assign, semantic_dedup
from ..operators.dedup import md5_hash64
from . import register

K = 8
N_ITER = 2
# Tuned to the synthetic embedding distribution (max pairwise cosine
# ~0.51, same rationale as embedding_cosine_near_dups) so the drop
# set is non-empty and the check non-trivial; production ~0.95.
SEMDEDUP_THRESHOLD = 0.45


def _sample_pred_sql(stride: int | str) -> str:
    """DuckDB twin of operators/clustering._train_sample_pred: the
    md5-bucket hash-sample keep predicate (rule-6 md5/conv trick, so
    the sample is identical in both engines and uncorrelated with id
    structure). ``stride`` is an int literal or a SQL scalar
    expression (``_STRIDE_SQL``)."""
    return (
        "CAST(('0x' || substr(md5('tcap:' || CAST(vec_id AS VARCHAR)), 1, 8)) "
        f"AS BIGINT) % {stride} = 0"
    )


def _kmeans_cte(k: int, n_iter: int, stride: int | str = 1) -> str:
    """The WITH-chain computing ``n_iter`` deterministic Lloyd
    iterations over the embeddings table, ending at ``bfinal`` =
    (vec_id, cluster, dist2), the assignment under the final
    centroids. Mirrors operators/clustering.kmeans_assign exactly:
    same seeds, same 6-dp rounding, same tie-break.

    ``stride`` mirrors the operator's ``train_stride`` (bounded
    training set, FAISS-style): seeds and Lloyd iterations read only
    the ``vec_id % stride = 0`` sample (CTE ``et``); the final
    assignment (``afinal``/``bfinal``) still covers every vector.
    ``stride`` may be an int literal or a SQL scalar expression
    (``_STRIDE_SQL`` — the count-derived cap form the registry uses).
    ``stride=1`` emits the historical full-corpus SQL byte-for-byte,
    so entries that keep full training keep byte-stable plans."""
    if isinstance(stride, str) or stride > 1:
        # "et e": the sampled CTE aliased to e, so every downstream
        # expression text is shared with the stride=1 branch.
        train = "et e"
        sample = f""", et AS MATERIALIZED (
      SELECT vec_id, dim, val FROM e WHERE {_sample_pred_sql(stride)}
    )"""
        seed_src = f"embeddings WHERE {_sample_pred_sql(stride)}"
    else:
        train = "e"
        sample = ""
        seed_src = "embeddings"
    parts = [
        f"""e0 AS (
      SELECT vec_id, embedding, UNNEST(range(0, len(embedding))) AS dim
      FROM embeddings
    ), e AS (
      SELECT vec_id, dim, CAST(embedding[dim + 1] AS DOUBLE) AS val FROM e0
    ){sample}, seeds AS (
      SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster
      FROM (SELECT vec_id FROM {seed_src} ORDER BY vec_id LIMIT {k})
    ), c0 AS (
      SELECT s.cluster, e.dim, ROUND(e.val, 6) AS cval
      FROM seeds s JOIN {train} ON e.vec_id = s.vec_id
    )"""
    ]
    for i in range(1, n_iter + 1):
        parts.append(
            f""", a{i} AS (
      SELECT e.vec_id, c.cluster,
             ROUND(SUM((e.val - c.cval) * (e.val - c.cval)), 6) AS dist2
      FROM {train} JOIN c{i - 1} c ON e.dim = c.dim
      GROUP BY e.vec_id, c.cluster
    ), b{i} AS (
      SELECT vec_id, cluster, dist2 FROM a{i}
      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, cluster) = 1
    ), c{i} AS (
      SELECT b.cluster, e.dim, ROUND(AVG(e.val), 6) AS cval
      FROM b{i} b JOIN {train} ON e.vec_id = b.vec_id
      GROUP BY b.cluster, e.dim
    )"""
        )
    parts.append(
        f""", afinal AS (
      SELECT e.vec_id, c.cluster,
             ROUND(SUM((e.val - c.cval) * (e.val - c.cval)), 6) AS dist2
      FROM e JOIN c{n_iter} c ON e.dim = c.dim
      GROUP BY e.vec_id, c.cluster
    ), bfinal AS (
      SELECT vec_id, cluster, dist2 FROM afinal
      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, cluster) = 1
    )"""
    )
    return "WITH " + "".join(parts)


@register(
    "kmeans_embedding_clusters",
    _kmeans_cte(K, N_ITER)
    + """
    SELECT vec_id, cluster, dist2 FROM bfinal
    """,
    doc=f"Distributed k-means over the embedding table (k={K}, "
    f"{N_ITER} Lloyd iterations), pinned deterministic: lowest-id "
    "seeds, 6-dp centroid/distance grid, lowest-cluster tie-break. "
    "Spark runs the MLlib shape — driver-held k x dim centroids "
    "broadcast into a join against the exploded vectors, one "
    "(vec_id, cluster) scalar shuffle per iteration after map-side "
    "partial aggregation; the oracle unrolls the same iterations as "
    "a CTE chain, so the iterative trajectory itself is "
    "hash-checked, not just the final shape.",
)
def kmeans_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    return kmeans_assign(emb, k=K, n_iter=N_ITER)


@register(
    "semantic_dedup_prune",
    _kmeans_cte(K, N_ITER)
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
    """,
    doc="SemDeDup (arXiv:2303.09540) under a full oracle: k-means "
    "partition, exact pairwise cosine WITHIN clusters only, drop the "
    "higher id of any pair >= "
    f"{SEMDEDUP_THRESHOLD} (threshold tuned to the synthetic "
    "distribution so drops are non-empty; production ~0.95). "
    "The clustering bounds the quadratic pair "
    "stage to sum(cluster_size^2) — the scale path for semantic "
    "dedup at corpus size, with the all-pairs cosine twin "
    "(embedding_cosine_near_dups) as the labeled exact baseline. "
    "Cosines run the codegen'd posexplode shape (no HOF lambdas).",
)
def semantic_dedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    return semantic_dedup(emb, k=K, n_iter=N_ITER, threshold=SEMDEDUP_THRESHOLD)


def _projection_oracle(in_dim: int, out_dim: int, seed: int) -> str:
    """VALUES-table oracle for the JL projection: the exact plane
    floats (repr round-trips to identical doubles in DuckDB) joined
    long-form against the exploded vectors — same arithmetic, same
    6-dp rounding as the Spark plan."""
    from ..operators.similarity import random_projection_planes

    values = ",\n      ".join(
        f"({j}, {i}, {w!r})" for j, i, w in random_projection_planes(in_dim, out_dim, seed)
    )
    return f"""
    WITH planes(out_dim, dim, w) AS (
      VALUES
      {values}
    ), e0 AS (
      SELECT vec_id, embedding, UNNEST(range(0, len(embedding))) AS dim
      FROM embeddings
    ), e AS (
      SELECT vec_id, dim, CAST(embedding[dim + 1] AS DOUBLE) AS val FROM e0
    )
    SELECT e.vec_id, p.out_dim, ROUND(SUM(e.val * p.w), 6) AS value
    FROM e JOIN planes p ON e.dim = p.dim
    GROUP BY e.vec_id, p.out_dim
    """


@register(
    "embedding_random_projection",
    _projection_oracle(64, 16, 11),
    doc="Johnson-Lindenstrauss random projection 64 -> 16 dims "
    "(deterministic seeded planes, norm-preserving in expectation) — "
    "the dimension-side compression twin of int8 quantization. "
    "Posexplode + broadcast matrix join + partial/final sum: the "
    "shuffle carries one scalar per output component; the oracle "
    "inlines the identical plane floats as a VALUES table. Distance "
    "distortion measured in tests/test_clustering_retrieval.py.",
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import random_projection

    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    return random_projection(emb, in_dim=64, out_dim=16, seed=11)


def ann_projected_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN: coarse top-100 by cosine in the 16-dim
    JL-projected space (4x fewer bytes per distance), then exact
    full-dimension re-rank of only those candidates for the final
    top-10 — the standard coarse-search + re-rank recipe. The
    corpus-wide scan touches projected vectors only; full vectors
    are read for 100 rows.

    REGISTRY ROW RETIRED (#4 in the pinned displacement
    order in __spark_entry__.py), displaced by the FULL-oracled
    ann_batch_recall_at_10: this entry was rows-only by construction
    (JL distortion), while its coarse stage has the oracled twin
    ann_projected_coarse and its re-rank stage is the already-oracled
    exact-cosine shape — retiring the row loses no oracle coverage.
    The plan itself stays: recall@10 vs the exact twin stays floored
    in tests/test_clustering_retrieval.py at these exact parameters,
    and its bench slot survives via the local builder in
    bench.py."""
    from ..operators.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    coarse = _coarse_projected_topk(emb, k=100).select("vec_id")
    cands = emb.join(coarse, "vec_id", "left_semi")
    full_qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return cosine_topk(cands, full_qv, k=10)


def _coarse_projected_topk(emb: DataFrame, k: int) -> DataFrame:
    """The coarse stage of the two-stage ANN: exact cosine top-k in
    the 16-dim JL-projected space (vec 0 as the query). Shared by
    ``ann_projected_topk`` and its oracled ``ann_projected_coarse``
    registration."""
    from ..operators.similarity import cosine_topk, random_projection

    proj = random_projection(emb, in_dim=64, out_dim=16, seed=11)
    vecs = proj.groupBy("vec_id").agg(
        F.sort_array(F.collect_list(F.struct("out_dim", "value")))
        .getField("value")
        .alias("embedding")
    )
    qv = vecs.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return cosine_topk(vecs, qv, k=k)


def _coarse_oracle(in_dim: int, out_dim: int, seed: int, k: int) -> str:
    """The coarse stage is EXACT given the (deterministic, separately
    oracled) projection, so it is fully SQL-expressible: rebuild the
    6-dp-rounded projected vectors from the same VALUES-table planes,
    then exact cosine top-k with the vec_id tie-break (rule 4)."""
    from ..operators.similarity import random_projection_planes

    values = ",\n      ".join(
        f"({j}, {i}, {w!r})" for j, i, w in random_projection_planes(in_dim, out_dim, seed)
    )
    return f"""
    WITH planes(out_dim, dim, w) AS (
      VALUES
      {values}
    ), e0 AS (
      SELECT vec_id, embedding, UNNEST(range(0, len(embedding))) AS dim
      FROM embeddings
    ), e AS (
      SELECT vec_id, dim, CAST(embedding[dim + 1] AS DOUBLE) AS val FROM e0
    ), pr AS (
      SELECT e.vec_id, pl.out_dim, ROUND(SUM(e.val * pl.w), 6) AS value
      FROM e JOIN planes pl ON e.dim = pl.dim
      GROUP BY e.vec_id, pl.out_dim
    ), v AS (
      SELECT vec_id, list(value ORDER BY out_dim) AS pv FROM pr GROUP BY vec_id
    ), q AS (
      SELECT pv AS q_vec FROM v WHERE vec_id = 0
    )
    SELECT v.vec_id,
           ROUND(list_cosine_similarity(v.pv, q.q_vec), 6) AS cosine_sim
    FROM v, q
    WHERE v.vec_id <> 0
    ORDER BY cosine_sim DESC, v.vec_id
    LIMIT {k}
    """


@register(
    "ann_projected_coarse",
    _coarse_oracle(64, 16, 11, 100),
    doc="The coarse stage of ann_projected_topk as its own ORACLED "
    "query: given the deterministic JL projection (itself under a "
    "VALUES-table oracle), the top-100 by cosine in 16-dim projected "
    "space is exact and fully SQL-expressible — DuckDB rebuilds the "
    "projected vectors from the identical plane floats and replays "
    "the ranked cut with the vec_id tie-break. This pins the only "
    "stage of the two-stage ANN that was previously unfalsified "
    "(the re-rank is the already-oracled exact-cosine shape), "
    "leaving nothing rows-only in the projected-ANN path but the "
    "recall floor itself.",
)
def ann_projected_coarse(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    return _coarse_projected_topk(emb, k=100)


@register(
    "embedding_covariance",
    """
    WITH e0 AS (
      SELECT vec_id, embedding, UNNEST(range(0, len(embedding))) AS dim
      FROM embeddings
    ), e AS (
      SELECT vec_id, dim, CAST(embedding[dim + 1] AS DOUBLE) AS val FROM e0
    ), st AS (
      SELECT dim,
             SUM(CAST(FLOOR(val * 1e12 + 0.5) AS BIGINT)) AS t,
             COUNT(*) AS n
      FROM e GROUP BY dim
    ), sij AS (
      SELECT a.dim AS dim_i, b.dim AS dim_j,
             SUM(CAST(FLOOR(a.val * b.val * 1e12 + 0.5) AS BIGINT)) AS s
      FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.dim <= b.dim
      GROUP BY a.dim, b.dim
    )
    SELECT s.dim_i, s.dim_j,
           ROUND((s.s / 1e12) / si.n
                 - (si.t / 1e12 / si.n) * (sj.t / 1e12 / sj.n), 6) + 0.0 AS cov
    FROM sij s
    JOIN st si ON si.dim = s.dim_i
    JOIN st sj ON sj.dim = s.dim_j
    """,
    doc="Population covariance of the embedding distribution, "
    "long-form upper triangle (dim_i <= dim_j) — the Gram-matrix "
    "building block of PCA / whitening / Mahalanobis outlier scoring "
    "over a vector corpus. Spark reduces each partition to ONE d x d "
    "numpy outer-product block inside Arrow-batched mapInPandas (the "
    "treeAggregate shape MLlib RowMatrix uses), so the shuffle "
    "carries d^2 scalars per partition, independent of corpus size. "
    "Every per-element product is quantized to the 1e-12 grid before "
    "int64 summation, so S_ij is EXACT and partition/accumulation-"
    "order-free (test: same cells at 1 vs 17 partitions); the oracle "
    "replays the identical integer arithmetic relationally. The one "
    "mapInPandas here is the RIGHT Python "
    "boundary: a d x d matrix product per batch is exactly what "
    "numpy's BLAS does orders faster than codegen'd per-row exprs.",
)
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import embedding_covariance as cov

    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    return cov(emb)


PQ_M, PQ_K, PQ_ITER, PQ_DSUB = 8, 16, 2, 8
# Bounded-sample quantizer training for the PQ/IVF index family:
# FAISS never trains a quantizer on the corpus — it CAPS
# the training set (max_points_per_centroid=256 by default; sampling
# engages only when the corpus exceeds the cap) because codebooks
# converge on a sample and the corpus-sized training scan is pure
# waste. Our equivalent: stride = ceil(n / TRAIN_CAP), training reads
# only the deterministic md5-bucket hash sample (_sample_pred_sql /
# operators' _train_sample_pred — a HASH of the id so ingestion-order
# id structure cannot bias the sample; RNG-free, so DuckDB replays
# the exact trajectory, with the oracle computing the SAME stride
# from a scalar COUNT(*) subquery); the final
# assignment/coding still covers every vector. At 100 TB this turns
# the dominant index-build cost — per-iteration training scans +
# shuffles — into O(cap) while the search path is unchanged.
# Cap semantics (not a fixed fraction) matter at BOTH ends: at
# sf0.01 (500 rows <= cap) the stride is 1 and results are
# bit-identical to full training — a fixed stride there would
# undertrain a 125-row sample under the m x k codebook (measured:
# single-query re-rank recall 0.9 -> 0.5) exactly where FAISS would
# refuse to sample; at sf0.1+ sampling engages and the measured mean
# recall@10 over 20 queries is statistically unchanged (ADC
# 0.145 -> 0.175, re-rank 0.385 -> 0.350, SE ~0.05; BASELINE.md
# train-cap table). TRAIN_CAP=500 puts the demonstration knee between
# the two test scales; production would set FAISS's 256 x k (~4k) —
# a parameter, not a different plan. The clustering-as-deliverable
# entries (kmeans_embedding_clusters, semantic_dedup_prune) keep
# full-data training: their OUTPUT is the clustering, not an index
# in front of an exact re-rank.
TRAIN_CAP = 500
# The oracle-side stride: identical arithmetic to the builders'
# max(1, ceil(n / TRAIN_CAP)) on the driver.
_STRIDE_SQL = (
    f"(SELECT GREATEST(1, CAST(CEIL(COUNT(*) / {TRAIN_CAP}.0) AS BIGINT)) "
    "FROM embeddings)"
)


def _train_stride(emb) -> int:
    """max(1, ceil(n / TRAIN_CAP)) — the driver-side twin of
    _STRIDE_SQL (one metadata-cheap count; at cluster scale the
    pipeline knows its corpus size)."""
    import math

    return max(1, math.ceil(emb.count() / TRAIN_CAP))


def _pq_cte(
    m: int,
    k: int,
    n_iter: int,
    d_sub: int,
    prefix: str = "",
    standalone: bool = True,
    source: str | None = None,
    stride: int | str = 1,
) -> str:
    """WITH-chain training all ``m`` subspace k-means of product
    quantization at once, ending at {prefix}bfinal = (vec_id, sub,
    code, dist2) under the final codebook {prefix}c{n_iter}. The
    _kmeans_cte shape with (sub, sdim) keys — mirrors
    operators/clustering.pq_assign exactly (same per-subspace
    lowest-id seeds, 6-dp grid, lowest-code tie-break). MATERIALIZED
    per hygiene rule 9: e and the codebooks have multiple readers
    across the chain. ``prefix`` renames every CTE so the chain can
    compose with _kmeans_cte in one statement (the IVF-PQ oracle);
    ``standalone=False`` emits a continuation (leading comma) instead
    of the WITH keyword; ``source`` trains over an existing
    (vec_id, sub, sdim, val) CTE (the residual-PQ oracle) instead of
    exploding the embeddings table. ``stride`` mirrors the operator's
    ``train_stride`` (seeds + iterations over the
    ``vec_id % stride = 0`` sample, final coding over every vector);
    int literal or SQL scalar expression (``_STRIDE_SQL``);
    ``stride=1`` emits the historical SQL byte-for-byte."""
    P = prefix
    if source is not None:
        head = f"""{P}e AS MATERIALIZED (
      SELECT vec_id, sub, sdim, val FROM {source}
    )"""
    else:
        head = f"""{P}e0 AS (
      SELECT vec_id, embedding, UNNEST(range(0, len(embedding))) AS dim
      FROM embeddings
    ), {P}e AS MATERIALIZED (
      SELECT vec_id, CAST(dim // {d_sub} AS INT) AS sub,
             CAST(dim % {d_sub} AS INT) AS sdim,
             CAST(embedding[dim + 1] AS DOUBLE) AS val FROM {P}e0
    )"""
    if isinstance(stride, str) or stride > 1:
        train = f"{P}et e"
        head += f""", {P}et AS MATERIALIZED (
      SELECT vec_id, sub, sdim, val FROM {P}e WHERE {_sample_pred_sql(stride)}
    )"""
        # Seeds = the k lowest ids IN THE TRAINING SAMPLE — exactly
        # _pq_lloyd's et.select(id).distinct().orderBy().limit(k).
        seed_rel = f"(SELECT DISTINCT vec_id FROM {P}et ORDER BY vec_id LIMIT {k})"
    else:
        train = f"{P}e e"
        seed_rel = f"(SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {k})"
    parts = [
        head
        + f""", {P}seeds AS (
      SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS code
      FROM {seed_rel}
    ), {P}c0 AS MATERIALIZED (
      SELECT s.code, e.sub, e.sdim, ROUND(e.val, 6) AS cval
      FROM {P}seeds s JOIN {train} ON e.vec_id = s.vec_id
    )"""
    ]
    for i in range(1, n_iter + 1):
        parts.append(
            f""", {P}a{i} AS (
      SELECT e.vec_id, e.sub, c.code,
             ROUND(SUM((e.val - c.cval) * (e.val - c.cval)), 6) AS dist2
      FROM {train} JOIN {P}c{i - 1} c ON c.sub = e.sub AND c.sdim = e.sdim
      GROUP BY e.vec_id, e.sub, c.code
    ), {P}b{i} AS (
      SELECT vec_id, sub, code, dist2 FROM {P}a{i}
      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist2, code) = 1
    ), {P}c{i} AS MATERIALIZED (
      SELECT b.code, e.sub, e.sdim, ROUND(AVG(e.val), 6) AS cval
      FROM {P}b{i} b JOIN {train} ON e.vec_id = b.vec_id AND e.sub = b.sub
      GROUP BY b.code, e.sub, e.sdim
    )"""
        )
    parts.append(
        f""", {P}afinal AS (
      SELECT e.vec_id, e.sub, c.code,
             ROUND(SUM((e.val - c.cval) * (e.val - c.cval)), 6) AS dist2
      FROM {P}e e JOIN {P}c{n_iter} c ON c.sub = e.sub AND c.sdim = e.sdim
      GROUP BY e.vec_id, e.sub, c.code
    ), {P}bfinal AS MATERIALIZED (
      SELECT vec_id, sub, code, dist2 FROM {P}afinal
      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist2, code) = 1
    )"""
    )
    return ("WITH " if standalone else ", ") + "".join(parts)


@register(
    "pq_codes",
    _pq_cte(PQ_M, PQ_K, PQ_ITER, PQ_DSUB, stride=_STRIDE_SQL)
    + """
    SELECT vec_id, sub, code, dist2 FROM bfinal
    """,
    doc=f"Product quantization (Jegou et al., TPAMI 2011): {PQ_M} "
    f"subspaces x {PQ_K} centroids over the embedding table — each "
    "vector compressed to m 4-bit codes (16-32x smaller than floats, "
    "the representation billion-vector ANN indexes store). All m "
    "subspace k-means train as ONE distributed Lloyd pipeline keyed "
    "by (sub, sdim): per iteration one broadcast codebook join + two "
    "scalar aggregates TOTAL, not per subspace; same determinism "
    "contract as kmeans_embedding_clusters, so the DuckDB oracle "
    "unrolls the full multi-subspace training trajectory. Training "
    "is capped at TRAIN_CAP points — stride = ceil(n/cap), reading "
    "only the deterministic vec_id % stride = 0 sample (the FAISS "
    "bounded-training-set pattern; the oracle derives the same "
    "stride from COUNT(*)); the final coding covers every vector.",
)
def pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import pq_assign

    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    return pq_assign(
        emb, m=PQ_M, k=PQ_K, n_iter=PQ_ITER, train_stride=_train_stride(emb)
    )


@register(
    "pq_adc_topk",
    _pq_cte(PQ_M, PQ_K, PQ_ITER, PQ_DSUB, stride=_STRIDE_SQL)
    + f"""
    , q AS (
      SELECT CAST(dim // {PQ_DSUB} AS INT) AS sub,
             CAST(dim % {PQ_DSUB} AS INT) AS sdim,
             CAST(embedding[dim + 1] AS DOUBLE) AS qval
      FROM (
        SELECT embedding, UNNEST(range(0, len(embedding))) AS dim
        FROM embeddings WHERE vec_id = 0
      )
    ), lut AS (
      SELECT c.sub, c.code,
             ROUND(SUM((q.qval - c.cval) * (q.qval - c.cval)), 6) AS lut_d
      FROM c{PQ_ITER} c JOIN q ON q.sub = c.sub AND q.sdim = c.sdim
      GROUP BY c.sub, c.code
    )
    SELECT b.vec_id, ROUND(SUM(l.lut_d), 6) AS adc_dist2
    FROM bfinal b JOIN lut l ON l.sub = b.sub AND l.code = b.code
    WHERE b.vec_id <> 0
    GROUP BY b.vec_id
    ORDER BY adc_dist2, b.vec_id
    LIMIT 10
    """,
    doc="ADC (asymmetric distance) search over the PQ codes: the "
    "query keeps its full vector, every database vector is only its "
    "m-byte code, and distance is m lookup-table adds — lut[sub]"
    "[code] = ||q_sub - centroid||^2, the (m x k)-entry table "
    "broadcast into an equi-join on (sub, code). At corpus scale the "
    "scan never touches a float vector. Deterministic given the "
    "(oracled) PQ training, so the top-10 is exactly replayable in "
    "DuckDB; recall vs exact search is separately floored in "
    "tests/test_pq.py. Codebook training capped at TRAIN_CAP "
    "points, stride = ceil(n/cap) (FAISS bounded-training pattern).",
)
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import pq_adc_topk as adc

    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    return adc(
        emb, query_id=0, m=PQ_M, k=PQ_K, n_iter=PQ_ITER, topk=10,
        train_stride=_train_stride(emb),
    )


NPROBE = 2


@register(
    "ivf_pq_topk",
    _kmeans_cte(K, N_ITER, stride=_STRIDE_SQL)
    + _pq_cte(
        PQ_M, PQ_K, PQ_ITER, PQ_DSUB, prefix="p", standalone=False,
        stride=_STRIDE_SQL,
    )
    + f"""
    , qfull AS (SELECT dim, val FROM e WHERE vec_id = 0)
    , qd AS (
      SELECT c.cluster,
             ROUND(SUM((q.val - c.cval) * (q.val - c.cval)), 6) AS d2
      FROM c{N_ITER} c JOIN qfull q ON q.dim = c.dim
      GROUP BY c.cluster
    ), probe AS (SELECT cluster FROM qd ORDER BY d2, cluster LIMIT {NPROBE})
    , cand AS (
      SELECT vec_id FROM bfinal
      WHERE cluster IN (SELECT cluster FROM probe) AND vec_id <> 0
    ), pq_q AS (
      SELECT CAST(dim // {PQ_DSUB} AS INT) AS sub,
             CAST(dim % {PQ_DSUB} AS INT) AS sdim,
             CAST(embedding[dim + 1] AS DOUBLE) AS qval
      FROM (
        SELECT embedding, UNNEST(range(0, len(embedding))) AS dim
        FROM embeddings WHERE vec_id = 0
      )
    ), lut AS (
      SELECT c.sub, c.code,
             ROUND(SUM((q.qval - c.cval) * (q.qval - c.cval)), 6) AS lut_d
      FROM pc{PQ_ITER} c JOIN pq_q q ON q.sub = c.sub AND q.sdim = c.sdim
      GROUP BY c.sub, c.code
    )
    SELECT b.vec_id, ROUND(SUM(l.lut_d), 6) AS adc_dist2
    FROM pbfinal b
    JOIN cand ON cand.vec_id = b.vec_id
    JOIN lut l ON l.sub = b.sub AND l.code = b.code
    GROUP BY b.vec_id
    ORDER BY adc_dist2, b.vec_id
    LIMIT 10
    """,
    doc=f"IVF-PQ two-level ANN (the FAISS IndexIVFPQ structure): the "
    f"k-means coarse quantizer (k={K}) partitions the corpus into "
    f"inverted lists, the query probes its {NPROBE} nearest cells, "
    "and within the probed lists distance is PQ-ADC over m-byte "
    "codes with a broadcast LUT — row count cut by nprobe/n_cells "
    "AND per-row cost cut from d floats to m table adds. Fully "
    "oracled: DuckDB replays BOTH training trajectories (the "
    "_kmeans_cte chain and the p-prefixed _pq_cte chain composed in "
    "one statement), the cell probe, and the candidate-restricted "
    "ADC ranking. Recall floors in tests/test_pq.py. Both quantizer "
    "trainings are capped at TRAIN_CAP points (stride = ceil(n/cap), "
    "FAISS bounded-training pattern — recall measured unchanged, "
    "BASELINE.md r14).",
)
def ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import ivf_pq_topk as ivfpq

    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    return ivfpq(
        emb, query_id=0, n_cells=K, nprobe=NPROBE,
        m=PQ_M, k=PQ_K, n_iter=PQ_ITER, topk=10,
        train_stride=_train_stride(emb),
    )


SHORTLIST = 50


@register(
    "ivf_pq_rerank_topk",
    _kmeans_cte(K, N_ITER, stride=_STRIDE_SQL)
    + _pq_cte(
        PQ_M, PQ_K, PQ_ITER, PQ_DSUB, prefix="p", standalone=False,
        stride=_STRIDE_SQL,
    )
    + f"""
    , qfull AS (SELECT dim, val FROM e WHERE vec_id = 0)
    , qd AS (
      SELECT c.cluster,
             ROUND(SUM((q.val - c.cval) * (q.val - c.cval)), 6) AS d2
      FROM c{N_ITER} c JOIN qfull q ON q.dim = c.dim
      GROUP BY c.cluster
    ), probe AS (SELECT cluster FROM qd ORDER BY d2, cluster LIMIT {NPROBE})
    , cand AS (
      SELECT vec_id FROM bfinal
      WHERE cluster IN (SELECT cluster FROM probe) AND vec_id <> 0
    ), pq_q AS (
      SELECT CAST(dim // {PQ_DSUB} AS INT) AS sub,
             CAST(dim % {PQ_DSUB} AS INT) AS sdim,
             CAST(embedding[dim + 1] AS DOUBLE) AS qval
      FROM (
        SELECT embedding, UNNEST(range(0, len(embedding))) AS dim
        FROM embeddings WHERE vec_id = 0
      )
    ), lut AS (
      SELECT c.sub, c.code,
             ROUND(SUM((q.qval - c.cval) * (q.qval - c.cval)), 6) AS lut_d
      FROM pc{PQ_ITER} c JOIN pq_q q ON q.sub = c.sub AND q.sdim = c.sdim
      GROUP BY c.sub, c.code
    ), short AS (
      SELECT b.vec_id, ROUND(SUM(l.lut_d), 6) AS adc_dist2
      FROM pbfinal b
      JOIN cand ON cand.vec_id = b.vec_id
      JOIN lut l ON l.sub = b.sub AND l.code = b.code
      GROUP BY b.vec_id
      ORDER BY adc_dist2, b.vec_id
      LIMIT {SHORTLIST}
    )
    SELECT e.vec_id, ROUND(SUM((e.val - q.val) * (e.val - q.val)), 6) AS dist2
    FROM e
    JOIN short s ON s.vec_id = e.vec_id
    JOIN qfull q ON q.dim = e.dim
    GROUP BY e.vec_id
    ORDER BY dist2, e.vec_id
    LIMIT 10
    """,
    doc=f"IVF-PQ with an exact re-rank stage (the FAISS refine "
    f"pattern): the ADC ranking keeps a {SHORTLIST}-row SHORTLIST "
    "instead of top-10, then only those rows' full vectors are "
    "scored exactly against the query (a left-semi join + one "
    "broadcast-query distance each) and the true top-10 is taken. "
    "Exists because PQ quantization error is the binding recall "
    "limit on clustered corpora — on the embedding-skew twin, "
    "hot-cluster ADC recall@10 is 0.3 and the re-rank lifts it to "
    "0.7 (tests/test_lsh_recall.py pins both). The exact stage "
    f"touches exactly {SHORTLIST} vectors at ANY corpus scale. "
    "Fully oracled: DuckDB replays both trainings, the probe, the "
    "ADC shortlist, and the exact re-rank in one statement. Both "
    "quantizer trainings are capped at TRAIN_CAP points "
    "(stride = ceil(n/cap), FAISS bounded-training pattern).",
)
def ivf_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import ivf_pq_rerank_topk as rerank

    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    return rerank(
        emb, query_id=0, n_cells=K, nprobe=NPROBE,
        m=PQ_M, k=PQ_K, n_iter=PQ_ITER, topk=10, shortlist=SHORTLIST,
        train_stride=_train_stride(emb),
    )


@register(
    "ann_recall_at_10",
    _kmeans_cte(K, N_ITER, stride=_STRIDE_SQL)
    + _pq_cte(
        PQ_M, PQ_K, PQ_ITER, PQ_DSUB, prefix="p", standalone=False,
        stride=_STRIDE_SQL,
    )
    + f"""
    , qfull AS (SELECT dim, val FROM e WHERE vec_id = 0)
    , qd AS (
      SELECT c.cluster,
             ROUND(SUM((q.val - c.cval) * (q.val - c.cval)), 6) AS d2
      FROM c{N_ITER} c JOIN qfull q ON q.dim = c.dim
      GROUP BY c.cluster
    ), probe AS (SELECT cluster FROM qd ORDER BY d2, cluster LIMIT {NPROBE})
    , cand AS (
      SELECT vec_id FROM bfinal
      WHERE cluster IN (SELECT cluster FROM probe) AND vec_id <> 0
    ), pq_q AS (
      SELECT CAST(dim // {PQ_DSUB} AS INT) AS sub,
             CAST(dim % {PQ_DSUB} AS INT) AS sdim,
             CAST(embedding[dim + 1] AS DOUBLE) AS qval
      FROM (
        SELECT embedding, UNNEST(range(0, len(embedding))) AS dim
        FROM embeddings WHERE vec_id = 0
      )
    ), lut AS (
      SELECT c.sub, c.code,
             ROUND(SUM((q.qval - c.cval) * (q.qval - c.cval)), 6) AS lut_d
      FROM pc{PQ_ITER} c JOIN pq_q q ON q.sub = c.sub AND q.sdim = c.sdim
      GROUP BY c.sub, c.code
    ), ivf AS (
      SELECT b.vec_id, ROUND(SUM(l.lut_d), 6) AS adc_dist2
      FROM pbfinal b
      JOIN cand ON cand.vec_id = b.vec_id
      JOIN lut l ON l.sub = b.sub AND l.code = b.code
      GROUP BY b.vec_id
      ORDER BY adc_dist2, b.vec_id
      LIMIT 10
    ), exact AS (
      SELECT e2.vec_id
      FROM embeddings e2, (SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0) q
      WHERE e2.vec_id <> 0
      ORDER BY ROUND(list_cosine_similarity(CAST(e2.embedding AS DOUBLE[]),
                                            CAST(q.q_vec AS DOUBLE[])), 6) DESC,
               e2.vec_id
      LIMIT 10
    )
    SELECT ROUND(COUNT(*) / 10.0, 6) AS recall_at_10
    FROM ivf JOIN exact ON exact.vec_id = ivf.vec_id
    """,
    doc="Index-quality EVAL as a first-class query — 'what recall is "
    "my ANN index actually getting?' is a number a pipeline team "
    "recomputes after every retrain: the IVF-PQ top-10 (the oracled "
    "two-level search, replayed in full) joined against the exact "
    "cosine top-10, one recall@10 row out. Both rankings are "
    "deterministic, so the eval itself is hash-checkable — the same "
    "falsifiability discipline the recall-floor pytest suite applies, "
    "now inside the engine's own query surface. At corpus scale the "
    "exact side is the brute-force baseline (one scan + heap top-k); "
    "the eval is run on a sample in production, which is a parameter "
    "of the caller, not a different plan.",
)
def ann_recall_at_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import ivf_pq_topk as ivfpq
    from ..operators.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = cosine_topk(emb, q, k=10).select("vec_id")
    approx = ivfpq(
        emb, query_id=0, n_cells=K, nprobe=NPROBE,
        m=PQ_M, k=PQ_K, n_iter=PQ_ITER, topk=10,
        train_stride=_train_stride(emb),
    )
    out = (
        approx.select("vec_id")
        .join(exact, "vec_id", "left_semi")
        .agg(F.round(F.count(F.lit(1)) / F.lit(10.0), 6).alias("recall_at_10"))
    )
    return hold(out, approx)


BATCH_Q = 8

# The batched-search CTE chain (qset -> probes -> batched LUT ->
# scored), shared VERBATIM by ivf_pq_batch_topk and its re-rank
# composition so the two entries cannot drift apart (the batch entry's
# historical SQL is byte-stable under this factoring —
# tests/test_pq.py::test_batch_sql_byte_stable pins it).
_BATCH_SEARCH_CTES = f"""
    , qset AS (
      SELECT vec_id AS q_id, dim, val AS qval FROM e
      WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {BATCH_Q})
    ), qd AS (
      SELECT q.q_id, c.cluster,
             ROUND(SUM((q.qval - c.cval) * (q.qval - c.cval)), 6) AS d2
      FROM c{N_ITER} c JOIN qset q ON q.dim = c.dim
      GROUP BY q.q_id, c.cluster
    ), probe AS (
      SELECT q_id, cluster FROM qd
      QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d2, cluster) <= {NPROBE}
    ), cand AS (
      SELECT p.q_id, b.vec_id
      FROM bfinal b JOIN probe p ON p.cluster = b.cluster
      WHERE b.vec_id <> p.q_id
    ), qsub AS (
      SELECT q_id, CAST(dim // {PQ_DSUB} AS INT) AS sub,
             CAST(dim % {PQ_DSUB} AS INT) AS sdim, qval
      FROM qset
    ), lut AS (
      SELECT q.q_id, c.sub, c.code,
             ROUND(SUM((q.qval - c.cval) * (q.qval - c.cval)), 6) AS lut_d
      FROM pc{PQ_ITER} c JOIN qsub q ON q.sub = c.sub AND q.sdim = c.sdim
      GROUP BY q.q_id, c.sub, c.code
    ), scored AS (
      SELECT cand.q_id, b.vec_id, ROUND(SUM(l.lut_d), 6) AS adc_dist2
      FROM pbfinal b
      JOIN cand ON cand.vec_id = b.vec_id
      JOIN lut l ON l.q_id = cand.q_id AND l.sub = b.sub AND l.code = b.code
      GROUP BY cand.q_id, b.vec_id
    )"""


@register(
    "ivf_pq_batch_topk",
    _kmeans_cte(K, N_ITER, stride=_STRIDE_SQL)
    + _pq_cte(
        PQ_M, PQ_K, PQ_ITER, PQ_DSUB, prefix="p", standalone=False,
        stride=_STRIDE_SQL,
    )
    + _BATCH_SEARCH_CTES
    + """
    SELECT q_id, vec_id, adc_dist2 FROM scored
    QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc_dist2, vec_id) <= 10
    ORDER BY q_id, adc_dist2, vec_id
    """,
    doc=f"BATCHED IVF-PQ search — production drives an ANN index with "
    f"a query MATRIX (FAISS Index.search(xq, k)): {BATCH_Q} queries "
    "(lowest ids; the single-query entries' query-0 convention "
    "generalized) share ONE coarse training, ONE PQ training, and ONE "
    "coding pass; per-query marginal cost is an (m x k)-row broadcast "
    "LUT and a probe. Per-query results are exactly "
    "ivf_pq_topk(query_id=q) — equivalence pinned in tests. The "
    "per-query top-k is TWO-PHASE (partial top-k inside each scan "
    "partition, then the final rank over the bounded survivor set), "
    "so no task sorts a whole query's candidates — the batched twin "
    "of the TakeOrderedAndProject heap single-query ORDER BY+LIMIT "
    "gets for free. Quantizer training capped at TRAIN_CAP points "
    "(stride = ceil(n/cap)); fully oracled: DuckDB replays both "
    "trainings, all probes, the batched LUT, and the per-query cut.",
)
def ivf_pq_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import ivf_pq_batch_topk as batch

    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    return batch(
        emb, n_queries=BATCH_Q, n_cells=K, nprobe=NPROBE,
        m=PQ_M, k=PQ_K, n_iter=PQ_ITER, topk=10,
        train_stride=_train_stride(emb),
    )


@register(
    "ivf_pq_batch_rerank_topk",
    _kmeans_cte(K, N_ITER, stride=_STRIDE_SQL)
    + _pq_cte(
        PQ_M, PQ_K, PQ_ITER, PQ_DSUB, prefix="p", standalone=False,
        stride=_STRIDE_SQL,
    )
    + _BATCH_SEARCH_CTES
    + f"""
    , short AS (
      SELECT q_id, vec_id FROM scored
      QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc_dist2, vec_id) <= {SHORTLIST}
    ), ex AS (
      SELECT s.q_id, e.vec_id,
             ROUND(SUM((e.val - q.qval) * (e.val - q.qval)), 6) AS dist2
      FROM e
      JOIN short s ON s.vec_id = e.vec_id
      JOIN qset q ON q.q_id = s.q_id AND q.dim = e.dim
      GROUP BY s.q_id, e.vec_id
    )
    SELECT q_id, vec_id, dist2 FROM ex
    QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dist2, vec_id) <= 10
    ORDER BY q_id, dist2, vec_id
    """,
    doc=f"Batched IVF-PQ search COMPOSED with the exact re-rank — the "
    f"production FAISS call path (IndexRefineFlat.search(xq, k) takes "
    f"the same query matrix as the index): the {BATCH_Q}-query batch "
    f"search keeps a {SHORTLIST}-row ADC shortlist per query (one "
    "coarse training, one PQ training, one coding pass shared), then "
    "only those (q_id, vec_id) pairs' full vectors are scored exactly "
    "against the broadcast query matrix and each query's true top-10 "
    "is taken. This applies the skew remedy to batched search: hot-"
    "cluster PQ distortion is recovered per query at a bounded exact "
    f"cost — Q x {SHORTLIST} vectors are ever read at ANY corpus "
    "scale, and the per-query rank windows over at most Q x "
    f"{SHORTLIST} rows, so no stage grows with the corpus beyond the "
    "shared ADC search. Per-query rows are exactly "
    "ivf_pq_rerank_topk(query_id=q) (equivalence + partitioning-"
    "independence pinned in tests/test_pq.py). Fully oracled in one "
    "statement: both trainings (TRAIN_CAP stride from COUNT(*)), all "
    "probes, the batched LUT, the per-query shortlist cut, and the "
    "exact re-rank.",
)
def ivf_pq_batch_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import ivf_pq_batch_rerank_topk as brr

    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    return brr(
        emb, n_queries=BATCH_Q, n_cells=K, nprobe=NPROBE,
        m=PQ_M, k=PQ_K, n_iter=PQ_ITER, topk=10, shortlist=SHORTLIST,
        train_stride=_train_stride(emb),
    )


@register(
    "ann_batch_recall_at_10",
    _kmeans_cte(K, N_ITER, stride=_STRIDE_SQL)
    + _pq_cte(
        PQ_M, PQ_K, PQ_ITER, PQ_DSUB, prefix="p", standalone=False,
        stride=_STRIDE_SQL,
    )
    + _BATCH_SEARCH_CTES
    + f"""
    , ivf AS (
      SELECT q_id, vec_id FROM scored
      QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc_dist2, vec_id) <= 10
    ), qvec AS (
      SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec FROM embeddings
      WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {BATCH_Q})
    ), exact AS (
      SELECT q.q_id, e2.vec_id
      FROM embeddings e2 JOIN qvec q ON e2.vec_id <> q.q_id
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY q.q_id
        ORDER BY ROUND(list_cosine_similarity(CAST(e2.embedding AS DOUBLE[]), q.q_vec), 6) DESC,
                 e2.vec_id
      ) <= 10
    )
    SELECT i.q_id,
           ROUND(SUM(CASE WHEN x.vec_id IS NULL THEN 0 ELSE 1 END) / 10.0, 6) AS recall_at_10
    FROM ivf i LEFT JOIN exact x ON x.q_id = i.q_id AND x.vec_id = i.vec_id
    GROUP BY i.q_id
    ORDER BY i.q_id
    """,
    doc=f"BATCHED index-quality eval — the round-16 addition, "
    "pre-registered in round 15: per-query recall@10 of the batched "
    f"IVF-PQ search against the batched exact baseline, one "
    f"(q_id, recall_at_10) row per query ({BATCH_Q} rows). This is "
    "ann_recall_at_10 generalized the same way ivf_pq_batch_topk "
    "generalizes ivf_pq_topk: the per-query recall a pipeline team "
    "recomputes after every index retrain, now measured for a whole "
    "query matrix in one plan — ONE coarse training, ONE PQ training, "
    "ONE coding pass, ONE exact-baseline corpus scan (fan-out Q "
    "against the broadcast query frame, two-phase per-query top-k) "
    "shared across all queries. The recall join is bounded by "
    "construction (Q x 10 rows a side, broadcast) at any corpus "
    "size. Fully oracled in one statement: both trainings (TRAIN_CAP "
    "stride from COUNT(*)), all probes, the batched LUT, the "
    "per-query ADC cut, the exact per-query cosine ranking, and the "
    "per-query hit count. Exact side = operators/similarity."
    "cosine_topk_batch (per-query equality to cosine_topk and "
    "partitioning-independence pinned in "
    "tests/test_clustering_retrieval.py); approx side = "
    "ivf_pq_batch_topk (per-query equality to ivf_pq_topk pinned in "
    "tests/test_pq.py).",
)
def ann_batch_recall_at_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    return _batch_recall_eval(emb)


def _batch_recall_eval(emb: DataFrame) -> DataFrame:
    """The batched index-quality eval composition over a given
    embeddings frame — shared verbatim by the registry entry (full
    corpus, byte-stable plan) and :func:`ann_batch_recall_sampled`
    (the eval-pricing rule made executable)."""
    from ..operators.clustering import ivf_pq_batch_topk as batch
    from ..operators.similarity import cosine_topk_batch

    qset = (
        emb.orderBy("vec_id")
        .limit(BATCH_Q)
        .select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        )
    )
    exact = cosine_topk_batch(emb, qset, k=10).select(
        "q_id", "vec_id", F.lit(1).alias("hit")
    )
    approx = batch(
        emb, n_queries=BATCH_Q, n_cells=K, nprobe=NPROBE,
        m=PQ_M, k=PQ_K, n_iter=PQ_ITER, topk=10,
        train_stride=_train_stride(emb),
    )
    out = (
        approx.select("q_id", "vec_id")
        .join(F.broadcast(exact), ["q_id", "vec_id"], "left")
        .groupBy("q_id")
        .agg(
            F.round(
                F.sum(F.coalesce(F.col("hit"), F.lit(0))) / F.lit(10.0), 6
            ).alias("recall_at_10")
        )
        .orderBy("q_id")
    )
    return hold(out, approx)


_EVAL_SAMPLE_SALT = "esamp"


def _eval_sample_pred(id_col: str, sample_mod: int):
    """Keep predicate for the eval's corpus hash-sample: md5-bucket
    ("esamp:" salt — independent of the training cap's "tcap:"
    buckets) == 0 (mod sample_mod). The rule-6 hash, so the sample is
    replayable in any engine:
    CAST(('0x' || substr(md5('esamp:' || CAST(vec_id AS VARCHAR)),
    1, 8)) AS BIGINT) % sample_mod = 0 (the DuckDB twin,
    :func:`eval_sample_pred_sql`)."""
    h = md5_hash64(F.lit(_EVAL_SAMPLE_SALT), F.col(id_col))
    return F.pmod(h, F.lit(int(sample_mod))) == 0


def eval_sample_pred_sql(sample_mod: int, id_col: str = "vec_id") -> str:
    """DuckDB twin of :func:`_eval_sample_pred` (rule 6)."""
    return (
        f"CAST(('0x' || substr(md5('{_EVAL_SAMPLE_SALT}:' || "
        f"CAST({id_col} AS VARCHAR)), 1, 8)) AS BIGINT) "
        f"% {int(sample_mod)} = 0"
    )


def ann_batch_recall_sampled(
    spark: SparkSession, sf_dir: str, sample_mod: int = 4
) -> DataFrame:
    """The exact-eval AFFORDABILITY RULE made executable
    (BASELINE.md eval-pricing: the exact side costs ~8.1 us per
    corpus vector per 8-query batch, so past ~10^8 vectors per node
    the full eval stops being affordable — "run the eval on a rule-6
    md5 hash-sample of the corpus (index + exact over the SAME
    sample); sample queries for precision, the corpus for cost").

    This is :func:`ann_batch_recall_at_10`'s exact composition run
    on a 1/sample_mod md5 hash-sample of the corpus: training,
    coding, probes, the exact baseline, and the query set (the
    BATCH_Q lowest-id SAMPLED vectors) all read only the sample, so
    the eval's cost scales down by sample_mod at any corpus size.
    The "esamp:" salt keeps the eval sample independent of the
    training cap's "tcap:" buckets, and the md5 form (never raw
    id % mod — id order correlates with content) keeps it
    cluster-unbiased and cross-engine replayable: pointing the
    oracle's `embeddings` view at the sampled subset replays this
    builder with the UNCHANGED full-eval oracle SQL
    (tests/test_clustering_retrieval.py::
    test_sampled_eval_cross_engine). Not registered: the registry
    entry stays the full eval (byte-stable plan); this is the
    documented scale path past the affordability ceiling."""
    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    return _batch_recall_eval(emb.filter(_eval_sample_pred("vec_id", sample_mod)))


@register(
    "ivf_residual_pq_topk",
    _kmeans_cte(K, N_ITER, stride=_STRIDE_SQL)
    + f"""
    , re AS MATERIALIZED (
      -- residual subvectors: v - centroid(cell(v)); cval is the same
      -- 6-dp double on both engines, so the subtraction is exact IEEE
      SELECT e.vec_id, CAST(e.dim // {PQ_DSUB} AS INT) AS sub,
             CAST(e.dim % {PQ_DSUB} AS INT) AS sdim,
             e.val - c.cval AS val
      FROM e
      JOIN bfinal b ON b.vec_id = e.vec_id
      JOIN c{N_ITER} c ON c.cluster = b.cluster AND c.dim = e.dim
    )"""
    + _pq_cte(
        PQ_M, PQ_K, PQ_ITER, PQ_DSUB, prefix="p", standalone=False, source="re",
        stride=_STRIDE_SQL,
    )
    + f"""
    , qfull AS (SELECT dim, val FROM e WHERE vec_id = 0)
    , qd AS (
      SELECT c.cluster,
             ROUND(SUM((q.val - c.cval) * (q.val - c.cval)), 6) AS d2
      FROM c{N_ITER} c JOIN qfull q ON q.dim = c.dim
      GROUP BY c.cluster
    ), probe AS (SELECT cluster FROM qd ORDER BY d2, cluster LIMIT {NPROBE})
    , qr AS (
      -- the query's residual is PER PROBED CELL: q - c_cell
      SELECT p.cluster, CAST(c.dim // {PQ_DSUB} AS INT) AS sub,
             CAST(c.dim % {PQ_DSUB} AS INT) AS sdim,
             q.val - c.cval AS qrval
      FROM probe p
      JOIN c{N_ITER} c ON c.cluster = p.cluster
      JOIN qfull q ON q.dim = c.dim
    ), lut AS (
      SELECT r.cluster, cb.sub, cb.code,
             ROUND(SUM((r.qrval - cb.cval) * (r.qrval - cb.cval)), 6) AS lut_d
      FROM qr r JOIN pc{PQ_ITER} cb ON cb.sub = r.sub AND cb.sdim = r.sdim
      GROUP BY r.cluster, cb.sub, cb.code
    )
    SELECT pb.vec_id, ROUND(SUM(l.lut_d), 6) AS adc_dist2
    FROM pbfinal pb
    JOIN bfinal bf ON bf.vec_id = pb.vec_id
    JOIN lut l ON l.cluster = bf.cluster AND l.sub = pb.sub AND l.code = pb.code
    WHERE pb.vec_id <> 0
    GROUP BY pb.vec_id
    ORDER BY adc_dist2, pb.vec_id
    LIMIT 10
    """,
    doc="IVF-PQ with RESIDUAL encoding — the actual FAISS IndexIVFPQ "
    "formulation: PQ trains on v - centroid(cell(v)), spending its "
    "codes on within-cell detail after the coarse quantizer removes "
    "between-cell variance (why residual PQ dominates plain PQ at "
    "equal bits — measured in tests/test_pq.py). Search probes "
    f"{NPROBE} cells, builds a PER-CELL query-residual LUT, and "
    "sums each candidate's own cell's entries. DuckDB replays the "
    "coarse training, the residual construction, the residual-PQ "
    "training (the source-parameterized _pq_cte chain), the per-cell "
    "LUTs, and the ranked cut — every stage of the flagship ANN "
    "structure is now falsifiable. Coarse + residual codebook "
    "trainings are capped at TRAIN_CAP points (stride = ceil(n/cap), "
    "FAISS bounded-training pattern).",
)
def ivf_residual_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import ivf_residual_pq_topk as ivfrpq

    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    return ivfrpq(
        emb, query_id=0, n_cells=K, nprobe=NPROBE,
        m=PQ_M, k=PQ_K, n_iter=PQ_ITER, topk=10,
        train_stride=_train_stride(emb),
    )


@register(
    "covariance_power_iteration",
    """
    WITH e0 AS (
      SELECT vec_id, embedding, UNNEST(range(0, len(embedding))) AS dim
      FROM embeddings
    ), e AS (
      SELECT vec_id, dim, CAST(embedding[dim + 1] AS DOUBLE) AS val FROM e0
    ), st AS (
      SELECT dim,
             SUM(CAST(FLOOR(val * 1e12 + 0.5) AS BIGINT)) AS t,
             COUNT(*) AS n
      FROM e GROUP BY dim
    ), sij AS (
      SELECT a.dim AS dim_i, b.dim AS dim_j,
             SUM(CAST(FLOOR(a.val * b.val * 1e12 + 0.5) AS BIGINT)) AS s
      FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.dim <= b.dim
      GROUP BY a.dim, b.dim
    ), upper_c AS MATERIALIZED (
      SELECT s.dim_i, s.dim_j,
             CAST(ROUND(((s.s / 1e12) / si.n
                  - (si.t / 1e12 / si.n) * (sj.t / 1e12 / sj.n)) * 1e6)
                  AS BIGINT) AS cint
      FROM sij s
      JOIN st si ON si.dim = s.dim_i
      JOIN st sj ON sj.dim = s.dim_j
    ), cmat AS MATERIALIZED (
      SELECT dim_i AS i, dim_j AS j, cint FROM upper_c
      UNION ALL
      SELECT dim_j, dim_i, cint FROM upper_c WHERE dim_i <> dim_j
    ), q0 AS (
      SELECT DISTINCT i AS j, CAST(1000000 AS BIGINT) AS q FROM cmat
    ), w1 AS MATERIALIZED (
      SELECT c.i, CAST(SUM(c.cint * q.q) AS BIGINT) AS w
      FROM cmat c JOIN q0 q ON q.j = c.j GROUP BY c.i
    ), q1 AS MATERIALIZED (
      SELECT i AS j,
             CAST(ROUND(CAST(w AS DOUBLE) * 1e6 /
                  (SELECT MAX(ABS(w)) FROM w1)) AS BIGINT) AS q
      FROM w1
    ), w2 AS MATERIALIZED (
      SELECT c.i, CAST(SUM(c.cint * q.q) AS BIGINT) AS w
      FROM cmat c JOIN q1 q ON q.j = c.j GROUP BY c.i
    ), q2 AS MATERIALIZED (
      SELECT i AS j,
             CAST(ROUND(CAST(w AS DOUBLE) * 1e6 /
                  (SELECT MAX(ABS(w)) FROM w2)) AS BIGINT) AS q
      FROM w2
    ), w3 AS MATERIALIZED (
      SELECT c.i, CAST(SUM(c.cint * q.q) AS BIGINT) AS w
      FROM cmat c JOIN q2 q ON q.j = c.j GROUP BY c.i
    ), q3 AS MATERIALIZED (
      SELECT i AS j,
             CAST(ROUND(CAST(w AS DOUBLE) * 1e6 /
                  (SELECT MAX(ABS(w)) FROM w3)) AS BIGINT) AS q
      FROM w3
    ), norm AS (
      SELECT SQRT(CAST(SUM(q * q) AS DOUBLE)) AS nrm FROM q3
    ), signfix AS (
      SELECT CASE WHEN q >= 0 THEN 1.0 ELSE -1.0 END AS flip
      FROM q3 ORDER BY ABS(q) DESC, j LIMIT 1
    )
    SELECT q3.j AS dim,
           ROUND(q3.q * (SELECT flip FROM signfix)
                 / (SELECT nrm FROM norm), 6) + 0.0 AS loading
    FROM q3
    """,
    doc="Top principal direction of the embedding covariance by "
    "THREE power-iteration steps — PCA's workhorse expressed "
    "relationally on top of the oracled covariance: the 6-dp cell "
    "values scale to EXACT integers, every mat-vec is an exact "
    "BIGINT sum (products bounded ~1e12, no FP accumulation-order "
    "dependence — the trap a naive double mat-vec has on BOTH "
    "engines), and each iteration renormalizes by max|w| back to "
    "the 1e6 integer grid with one deterministic double division "
    "per component. Final unit-normalization and a sign convention "
    "(largest-|component| positive, dim tie-break) pin the "
    "eigenvector's inherent sign ambiguity. Defined as '3 power "
    "steps from all-ones', not 'the converged eigenvector' — the "
    "test corpus is near-isotropic, so convergence is slow and the "
    "DEFINITION is what the oracle replays. Scale: the corpus "
    "appears only through the d x d covariance (mapInPandas Gram "
    "partials — themselves exact int64 sums on the 1e-12 grid, so "
    "cint cannot flip on a 0.5e-6 rounding boundary between runs or "
    "engines; corpus-size independent); iterations touch 64x64 "
    "scalars. At real scale one runs more steps or Lanczos on the "
    "same mat-vec primitive.",
)
def covariance_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from ..operators.similarity import embedding_covariance as cov_op
    from ..operators.trend import round6

    # The corpus appears ONLY through the d x d covariance, so one
    # distributed job computes it (exact integers) and the three power
    # steps run on the driver over 64 x 64 scalars with the oracle's
    # arithmetic: the mat-vec is exact int64 (no accumulation-order
    # dependence), the renorm divide and the final normalize are the
    # same IEEE-double ops, and both HALF_UP roundings are
    # ``trend.round6``, Spark's ``round`` bit for bit.
    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    upper = cov_op(emb).select(
        "dim_i",
        "dim_j",
        F.round(F.col("cov") * 1e6).cast("long").alias("cint"),
    )

    cmat: dict[tuple[int, int], int] = {}
    dims: set[int] = set()
    for r in upper.collect():
        i, j, c = int(r["dim_i"]), int(r["dim_j"]), int(r["cint"])
        cmat[(i, j)] = c
        if i != j:
            cmat[(j, i)] = c
        dims.add(i)
        dims.add(j)
    order = sorted(dims)
    q = {j: 1000000 for j in order}
    for _ in range(3):
        w = {
            i: sum(cmat.get((i, j), 0) * q[j] for j in order)
            for i in order
        }
        wmax = max(abs(v) for v in w.values())
        q = {
            i: int(round6(float(w[i]) * 1e6 / float(wmax), 0))
            for i in order
        }
    nrm = math.sqrt(float(sum(v * v for v in q.values())))
    top = min(order, key=lambda j: (-abs(q[j]), j))
    flip = 1.0 if q[top] >= 0 else -1.0
    rows = [
        (j, round6(q[j] * flip / nrm)) for j in order
    ]
    return spark.createDataFrame(rows, "dim int, loading double")

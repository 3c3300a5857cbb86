"""Persisted IVF-PQ index: the inverted-list layout as a TABLE.

Every in-memory search in :mod:`operators.clustering` scans the whole
code table and lets a broadcast probe-join discard the unprobed cells
AFTER the read. That is the right shape when the codes were just
built, but a 100-TB deployment searches a STORED index many times per
build — and there the scan itself is the cost. The FAISS answer is
the inverted list (codes grouped by coarse cell, only probed lists
touched); the Spark-native translation is a parquet table
``partitionBy("cluster")``: the probed cells become PARTITION FILTERS
and the scan never lists, opens, or reads any other cell's files —
``nprobe / n_cells`` of the index is the I/O bound per query batch,
enforced by the planner, not by a post-read filter
(tests/test_ivf_index.py pins ``PartitionFilters`` in the executed
plan).

- :func:`write_ivf_index` — code the corpus against FROZEN codebooks
  (:func:`~.clustering.kmeans_code_frozen` /
  :func:`~.clustering.pq_code_frozen`, the maintenance semantics: an
  ingest batch appends by re-running this over the new rows with the
  same codebooks) and write ``codes/`` partitioned by coarse cell
  plus the two codebook sidecar tables. One coding pass, no training.
- :func:`search_ivf_index` — batched ADC search over the stored
  index: probe selection uses the SAME Spark expressions as
  :func:`~.clustering.ivf_pq_batch_topk` (collected to Q x nprobe
  driver pairs — that round-trip is what turns the probe set into
  literal partition filters, exactly the list-selection step FAISS
  runs driver-side), then LUT scoring + the two-phase per-query
  top-k over ONLY the probed partitions. Row-for-row equal to the
  in-memory frozen search on the same codebooks
  (tests/test_ivf_index.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .clustering import kmeans_code_frozen, pq_code_frozen


def bootstrap_ivf_index(
    spark: SparkSession,
    path: str,
    coarse_index: list[tuple[int, int, float]],
    pq_index: list[tuple[int, int, int, float]],
    dim_perm: list[int] | None = None,
) -> None:
    """Write ONLY the codebook sidecars — an EMPTY index that a
    stream of frozen appends can grow (the operational order: the
    quantizers are trained by the scheduled build job BEFORE any
    ingest batch exists, so the sidecars are laid down first and
    every subsequent :func:`write_ivf_index` ``mode="append"`` —
    batch or foreachBatch (``streaming.index_maintenance``) —
    validates against them). ``dim_perm`` persists the OPQ-lite
    pre-transform (``clustering.variance_balanced_permutation``) as a
    ``perm/`` sidecar: an index built over permuted vectors is
    useless to a reader that doesn't know the permutation, so it is
    part of the index, exactly like FAISS serializes its
    ``VectorTransform`` chain inside ``IndexPreTransform``."""
    spark.createDataFrame(
        [(int(c), int(d), float(v)) for c, d, v in coarse_index],
        "cluster int, dim int, cval double",
    ).write.mode("overwrite").parquet(path + "/coarse")
    spark.createDataFrame(
        [(int(c), int(s), int(sd), float(v)) for c, s, sd, v in pq_index],
        "code int, sub int, sdim int, cval double",
    ).write.mode("overwrite").parquet(path + "/pq")
    if dim_perm is not None:
        spark.createDataFrame(
            [(int(p), int(d)) for p, d in enumerate(dim_perm)],
            "pos int, old_dim int",
        ).write.mode("overwrite").parquet(path + "/perm")


def _stored_perm(spark: SparkSession, path: str) -> list[int] | None:
    """The persisted pre-transform, or None (identity) if the index
    was built without one. Absence is a legitimate state, not
    corruption — the perm sidecar is only written when a transform
    was used — so the narrow not-found catch is correct here."""
    from pyspark.errors import AnalysisException

    try:
        rows = spark.read.parquet(path + "/perm").collect()
    except AnalysisException:
        return None
    return [d for _, d in sorted((int(r.pos), int(r.old_dim)) for r in rows)]


def write_ivf_index(
    df: DataFrame,
    path: str,
    coarse_index: list[tuple[int, int, float]],
    pq_index: list[tuple[int, int, int, float]],
    m: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    mode: str = "overwrite",
    dim_perm: list[int] | None = None,
) -> None:
    """Write the inverted-list index at ``path``: ``codes/`` is
    (id, sub, code) parquet partitioned by the coarse ``cluster``
    column (m rows per vector, all in the vector's cell partition —
    the inverted list), ``coarse/`` and ``pq/`` hold the frozen
    codebooks so a reader needs nothing but the path. Appending an
    ingest batch = calling this over the NEW rows with
    ``mode="append"`` and the SAME codebooks (frozen-coding
    determinism makes that exactly FAISS ``add()``; retraining is a
    separate rebuild, priced by the churn audit).

    Scale shape: two coding scans + one id-join (shuffle rows are
    scalar (id, cluster/sub/code) tuples), then a partitioned write.
    ``partitionBy`` shuffles nothing by itself — each task writes its
    rows into per-cell files; at corpus scale precede with
    ``.repartition("cluster")`` upstream if small-files pressure
    matters more than write parallelism (the compaction operator's
    trade, documented at ingest.compact_table).

    ``dim_perm`` builds the index over OPQ-lite-permuted vectors
    (``clustering.apply_dim_permutation`` runs here, and the
    permutation persists as a ``perm/`` sidecar; the codebooks passed
    in must have been trained on the PERMUTED frame). Readers apply
    it to queries automatically (:func:`search_ivf_index`), and
    appends validate it like the codebooks — an append that permutes
    differently (or not at all) would silently corrupt every list.
    """
    from .clustering import apply_dim_permutation

    spark = df.sparkSession
    if mode == "append":
        stored_perm = _stored_perm(spark, path)
        given = list(int(i) for i in dim_perm) if dim_perm is not None else None
        if stored_perm != given:
            raise ValueError(
                "append with a dim permutation different from the stored "
                "index's — rebuild (mode='overwrite') instead"
            )
    if dim_perm is not None:
        df = apply_dim_permutation(df, dim_perm, vec_col=vec_col)
    cells = kmeans_code_frozen(df, coarse_index, vec_col=vec_col, id_col=id_col)
    codes = pq_code_frozen(df, pq_index, m=m, vec_col=vec_col, id_col=id_col)
    idx = (
        cells.select(F.col(id_col), "cluster")
        .join(codes.select(F.col(id_col), "sub", "code"), id_col)
    )
    if mode == "append":
        # An append MUST use the codebooks the index was built with —
        # frozen-coding against anything else silently corrupts every
        # stored list (that operation is a REBUILD, priced by the
        # churn audit). Loud seam, repo rule: one driver-sized read.
        stored = sorted(
            (int(r.cluster), int(r.dim), float(r.cval))
            for r in spark.read.parquet(path + "/coarse").collect()
        )
        if stored != sorted((int(c), int(d), float(v)) for c, d, v in coarse_index):
            raise ValueError(
                "append with a coarse codebook different from the stored "
                "index's — rebuild (mode='overwrite') instead"
            )
        stored_pq = sorted(
            (int(r.code), int(r.sub), int(r.sdim), float(r.cval))
            for r in spark.read.parquet(path + "/pq").collect()
        )
        if stored_pq != sorted(
            (int(c), int(s), int(sd), float(v)) for c, s, sd, v in pq_index
        ):
            raise ValueError(
                "append with a PQ codebook different from the stored "
                "index's — rebuild (mode='overwrite') instead"
            )
        idx.write.mode("append").partitionBy("cluster").parquet(path + "/codes")
        return
    idx.write.mode(mode).partitionBy("cluster").parquet(path + "/codes")
    bootstrap_ivf_index(spark, path, coarse_index, pq_index, dim_perm=dim_perm)


def compact_ivf_index(spark: SparkSession, src_path: str, dst_path: str) -> dict:
    """Small-files maintenance for the stored index — the standing
    job streaming ingest makes necessary: every micro-batch append
    leaves its own file(s) in each touched cell partition, and every
    probe then pays one task + footer fetch + open per file (the same
    failure mode ``ingest.compact_small_files`` documents; Delta
    OPTIMIZE / Iceberg rewrite_data_files are this job for table
    formats). Rewrites ``codes/`` to EXACTLY ONE file per cell — hash
    ``repartition(n_cells, "cluster")`` sends each cell's rows to one
    task, so the partitioned write emits one file per cell; the
    probe-time open count becomes nprobe, its floor. (At cells past
    ~128 MB, salt the repartition to a byte target instead — the
    compact_small_files trade; inverted lists that large mean
    n_cells should grow first, see ivf_list_stats.)

    Compacts INTO ``dst_path`` (codebook + perm sidecars rewritten
    alongside, so the destination is a complete index): rewrite-then-
    swap is the crash-safe shape — the deployment layer switches
    readers to ``dst`` atomically, exactly the
    compact_small_files / Iceberg rewrite-then-commit recipe. Returns
    {files_before, files_after, cells}; search equality is the
    test's job (tests/test_ivf_index.py)."""
    import glob
    import os

    def _files(p: str) -> int:
        return len(
            [
                f
                for f in glob.glob(os.path.join(p, "codes", "**", "*.parquet"),
                                   recursive=True)
                if os.path.isfile(f)
            ]
        )

    files_before = _files(src_path)
    codes = spark.read.parquet(src_path + "/codes")
    n_cells = codes.select("cluster").distinct().count()
    (
        codes.repartition(max(1, n_cells), "cluster")
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(dst_path + "/codes")
    )
    for side in ("coarse", "pq"):
        spark.read.parquet(src_path + "/" + side).write.mode(
            "overwrite"
        ).parquet(dst_path + "/" + side)
    perm = _stored_perm(spark, src_path)
    if perm is not None:
        spark.createDataFrame(
            [(int(p), int(d)) for p, d in enumerate(perm)],
            "pos int, old_dim int",
        ).write.mode("overwrite").parquet(dst_path + "/perm")
    return {
        "files_before": files_before,
        "files_after": _files(dst_path),
        "cells": int(n_cells),
    }


def ivf_list_stats(spark: SparkSession, path: str, m: int = 8) -> DataFrame:
    """Inverted-list health of a stored index: (cluster, n_vectors)
    per cell, ordered hottest-first — the monitoring scan behind the
    rebuild/split decisions (FAISS's ``imbalance_factor``: a hot list
    is the straggler of every probe that hits it; the balanced
    quantizer and the churn audit are the remedies this table
    triggers). One groupBy over the codes table (each vector holds
    ``m`` rows, so counts divide by m); parquet row-group metadata
    makes the count scan cheap at any index size. The driver-side
    imbalance factor (sum(n^2) * k / total^2, FAISS's definition —
    1.0 = perfectly balanced) is attached as ``result.imbalance``.
    """
    counts = (
        spark.read.parquet(path + "/codes")
        .groupBy("cluster")
        .agg((F.count(F.lit(1)) / m).cast("long").alias("n_vectors"))
        .orderBy(F.desc("n_vectors"), "cluster")
    )
    rows = counts.collect()
    ns = [int(r["n_vectors"]) for r in rows]
    total = sum(ns)
    out = counts
    out.imbalance = (
        round(sum(n * n for n in ns) * len(ns) / (total * total), 4)
        if total
        else 0.0
    )
    return out


def search_ivf_index(
    spark: SparkSession,
    path: str,
    query_df: DataFrame,
    nprobe: int = 2,
    topk: int = 10,
    id_col: str = "vec_id",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Batched ADC search over a :func:`write_ivf_index` table.
    ``query_df`` is (q_id, q_vec) — arbitrary query vectors, the
    ``Index.search(xq, k)`` matrix. Returns (q_id, vec_id, adc_dist2)
    ordered by (q_id, adc_dist2, vec_id); query ids present in the
    corpus are excluded from their own results, matching
    :func:`~.clustering.ivf_pq_batch_topk`.

    The probe stage reuses the batch search's exact expressions
    (6-dp grid, (d2, cluster) tie-break) and collects the Q x nprobe
    (q_id, cluster) pairs: driver-sized at any corpus size, and the
    point of the design — the probed cells become LITERAL partition
    filters on the codes read, so the scan is bounded by
    nprobe/n_cells of the index regardless of corpus size. LUT and
    probe frames broadcast; the per-query top-k is the same
    partitioning-independent two-phase rank as the in-memory batch
    search.

    If the index persists an OPQ-lite pre-transform (``perm/``
    sidecar), it is applied to the query vectors here automatically —
    callers always pass RAW vectors; the transform is the index's
    business, FAISS ``IndexPreTransform`` style.
    """
    from pyspark.sql import Window as W

    from .clustering import apply_dim_permutation

    perm = _stored_perm(spark, path)
    if perm is not None:
        query_df = apply_dim_permutation(query_df, perm, vec_col=q_vec_col)
    coarse = spark.read.parquet(path + "/coarse")
    qset = (
        query_df.select(
            F.col(q_id_col).alias("q_id"),
            F.posexplode(F.col(q_vec_col)).alias("dim", "qval"),
        )
        .select("q_id", "dim", F.col("qval").cast("double").alias("qval"))
    )
    qd = (
        qset.join(F.broadcast(coarse), "dim")
        .groupBy("q_id", "cluster")
        .agg(
            F.round(
                F.sum((F.col("qval") - F.col("cval")) * (F.col("qval") - F.col("cval"))),
                6,
            ).alias("d2")
        )
    )
    probe_rows = [
        (int(r["q_id"]), int(r["cluster"]))
        for r in (
            qd.withColumn(
                "rk",
                F.row_number().over(W.partitionBy("q_id").orderBy("d2", "cluster")),
            )
            .filter(F.col("rk") <= nprobe)
            .select("q_id", "cluster")
            .collect()
        )
    ]
    probed = sorted({c for _, c in probe_rows})
    probe = spark.createDataFrame(probe_rows, "q_id bigint, cluster int")

    # Literal IN-filter on the partition column: the scan plans with
    # PartitionFilters and never touches unprobed cells' files.
    codes = spark.read.parquet(path + "/codes").filter(
        F.col("cluster").isin(probed)
    )

    cb = spark.read.parquet(path + "/pq")
    d_sub_row = cb.agg((F.max("sdim") + 1).alias("ds")).first()
    d_sub = int(d_sub_row["ds"])
    qsub = qset.select(
        "q_id",
        (F.col("dim") / d_sub).cast("int").alias("sub"),
        (F.col("dim") % d_sub).cast("int").alias("sdim"),
        "qval",
    )
    lut = (
        qsub.join(F.broadcast(cb), ["sub", "sdim"])
        .groupBy("q_id", "sub", "code")
        .agg(
            F.round(
                F.sum((F.col("qval") - F.col("cval")) * (F.col("qval") - F.col("cval"))),
                6,
            ).alias("lut_d")
        )
    )
    scored = (
        codes.join(F.broadcast(probe), "cluster")
        .filter(F.col(id_col) != F.col("q_id"))
        .join(F.broadcast(lut), ["q_id", "sub", "code"])
        .groupBy("q_id", id_col)
        .agg(F.round(F.sum("lut_d"), 6).alias("adc_dist2"))
    )
    part = scored.withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("q_id", F.spark_partition_id()).orderBy(
                "adc_dist2", id_col
            )
        ),
    ).filter(F.col("rk") <= topk)
    out = (
        part.withColumn(
            "rk2",
            F.row_number().over(W.partitionBy("q_id").orderBy("adc_dist2", id_col)),
        )
        .filter(F.col("rk2") <= topk)
        .select("q_id", id_col, "adc_dist2")
        .orderBy("q_id", "adc_dist2", id_col)
    )
    return out


def search_ivf_index_rerank(
    spark: SparkSession,
    path: str,
    query_df: DataFrame,
    corpus_df: DataFrame,
    nprobe: int = 2,
    topk: int = 10,
    shortlist: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Stored-index search WITH the exact re-rank — the full
    deployment endpoint (FAISS ``IndexRefineFlat`` over an on-disk
    ``IndexIVFPQ``): :func:`search_ivf_index` keeps a per-query
    SHORTLIST by ADC distance off the partition-pruned lists, then
    only those (q_id, vec_id) pairs' full vectors are read from
    ``corpus_df`` (the vector table the index was built from — the
    index stores CODES, 16-32x smaller; the refine stage's
    Q x shortlist broadcast semi-filter touches the corpus rows it
    needs and nothing else) and scored exactly. Returns (q_id,
    vec_id, dist2) ordered by (q_id, dist2, vec_id) — row-for-row
    equal to :func:`~.clustering.ivf_pq_batch_rerank_topk` with the
    same frozen codebooks (tests/test_ivf_index.py). Same
    bounded-by-construction exact stage as the in-memory composition:
    Q x shortlist pairs broadcast, rank windows over at most
    Q x shortlist rows at any corpus size.

    Works unchanged on an OPQ-lite-permuted index: the shortlist
    stage applies the stored permutation to the queries internally
    (see :func:`search_ivf_index`), and the exact stage scores RAW
    corpus vectors against RAW queries — a permutation preserves L2,
    so the refine distances are identical either way.
    """
    from pyspark.sql import Window as W

    short = search_ivf_index(
        spark, path, query_df, nprobe=nprobe, topk=shortlist,
        id_col=id_col, q_id_col=q_id_col, q_vec_col=q_vec_col,
    )
    pairs = short.select("q_id", id_col)
    qset = (
        query_df.select(
            F.col(q_id_col).alias("q_id"),
            F.posexplode(F.col(q_vec_col)).alias("dim", "qval"),
        )
        .select("q_id", "dim", F.col("qval").cast("double").alias("qval"))
    )
    e = (
        corpus_df.select(
            F.col(id_col), F.posexplode(F.col(vec_col)).alias("dim", "val")
        )
        .select(F.col(id_col), "dim", F.col("val").cast("double").alias("val"))
    )
    scored = (
        e.join(F.broadcast(pairs), id_col)
        .join(F.broadcast(qset), ["q_id", "dim"])
        .groupBy("q_id", id_col)
        .agg(
            F.round(
                F.sum((F.col("val") - F.col("qval")) * (F.col("val") - F.col("qval"))),
                6,
            ).alias("dist2")
        )
    )
    out = (
        scored.withColumn(
            "rk",
            F.row_number().over(W.partitionBy("q_id").orderBy("dist2", id_col)),
        )
        .filter(F.col("rk") <= topk)
        .select("q_id", id_col, "dist2")
        .orderBy("q_id", "dist2", id_col)
    )
    return out

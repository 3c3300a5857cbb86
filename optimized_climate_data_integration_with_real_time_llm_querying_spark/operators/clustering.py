"""Embedding clustering + semantic dedup (SemDeDup-style).

Two operators a pretraining-data pipeline runs over its embedding
table (the reference has no embedding operators at all — net-new
LLM-pipeline capability, same family as ``operators/similarity.py``):

- :func:`kmeans_assign` — distributed Lloyd's k-means, made fully
  DETERMINISTIC so it sits under the cross-engine DuckDB oracle:
  seeds are the k lowest-id vectors (no RNG), distances and centroids
  are rounded to a fixed grid each iteration, and argmin ties break
  on the lowest cluster id. The centroid set (k x dim doubles) lives
  on the driver between iterations — the same shape MLlib uses —
  while every per-vector computation is a distributed join+aggregate.
- :func:`semantic_dedup` — SemDeDup (Abbas et al. 2023,
  arXiv:2303.09540): k-means first, then exact pairwise cosine ONLY
  within each cluster, dropping the higher id of any pair above the
  threshold. The clustering bounds the quadratic: k scales with
  corpus size to hold cluster size ~constant, so the pair stage costs
  O(n * cluster_size) instead of O(n^2).

Scale notes: the assignment join broadcasts k x dim centroid cells
and shuffles one (vec_id, cluster) scalar row per vector per cluster
after map-side partial aggregation; the exploded vector frame is
persisted once and reused by every iteration (handed to the caller
with ``lifecycle.hold``). No HOF lambdas in the hot path — the
explode/join/groupBy shape is fully codegen'd (see
``similarity.exploded_pairwise_cosine`` for the measured 3-8x HOF
penalty this avoids).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..lifecycle import hold, release
from .similarity import exploded_pairwise_cosine


def _exploded(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """(id, dim, val) long form; val accumulated in double."""
    return df.select(
        F.col(id_col), F.posexplode(F.col(vec_col)).alias("dim", "val")
    ).select(F.col(id_col), "dim", F.col("val").cast("double").alias("val"))


def _train_sample_pred(id_col: str, stride: int):
    """The bounded-training-set keep predicate: md5-bucket(id) ==
    0 (mod stride). A HASH of the id, not the raw id: real corpora
    assign ids in ingestion order, so ``id % stride`` would correlate
    the sample with sources/time (measured pathology: on a corpus
    whose cluster equals id % 8, a stride-4 raw-modulo sample
    contains 2 of the 8 clusters). The md5/conv form is the repo's
    rule-6 cross-engine hash (operators/sampling.md5_bucket), so the
    DuckDB oracle replays the exact sample:
    CAST(('0x' || substr(md5('tcap:' || CAST(id AS VARCHAR)), 1, 8))
    AS BIGINT) % stride = 0."""
    hexpart = F.substring(
        F.md5(
            F.concat_ws(":", F.lit("tcap"), F.col(id_col).cast("string")).cast(
                "binary"
            )
        ),
        1,
        8,
    )
    return F.pmod(F.conv(hexpart, 16, 10).cast("long"), F.lit(int(stride))) == 0


def _round6(x: float) -> float:
    """Driver-side twin of Spark's ``F.round(col, 6)`` on DOUBLE:
    Catalyst's ``Round`` evaluates ``BigDecimal(double).setScale(6,
    HALF_UP)``, and Scala's ``BigDecimal(double)`` goes through
    ``Double.toString`` — the shortest round-trip decimal form — so
    the Python twin is ``Decimal(repr(x))`` (repr is also the
    shortest round-trip form) quantized HALF_UP on the 6-dp grid.
    Bit-equality with the distributed plan is pinned over real
    probe/LUT sums plus an adversarial half-way grid in
    tests/test_pq.py::test_python_round6_matches_spark_round."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(float(x))).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP
        )
    )


def _collect_query_vec(
    df: DataFrame, query_id: int, vec_col: str, id_col: str
) -> list[float]:
    """The one-row query-vector collect behind the driver-side
    probe/LUT computation (round-17, guide §1/§2: the codebooks these
    tables are computed FROM are already driver-held k x dim lists —
    shipping the single query row to the driver too turns the former
    scan+join+aggregate probe/LUT sub-plans into broadcast-sized
    LOCAL relations, removing several stages per search). float ->
    double widening on collect is exact, matching the plan's
    ``.cast("double")``."""
    row = df.filter(F.col(id_col) == query_id).select(F.col(vec_col)).first()
    if row is None:
        raise ValueError(f"query id {query_id} not found in {id_col}")
    return [float(v) for v in row[0]]


def _cells_by_cluster(
    centroids: list[tuple[int, int, float]],
) -> dict[int, dict[int, float]]:
    """Driver-held (cluster, dim, cval) rows -> {cluster: {dim: cval}}."""
    out: dict[int, dict[int, float]] = {}
    for c, d, v in centroids:
        out.setdefault(int(c), {})[int(d)] = float(v)
    return out


def _probe_clusters(
    centroids: list[tuple[int, int, float]],
    qvec: list[float],
    nprobe: int,
) -> list[int]:
    """The IVF cell probe on the driver: squared L2 from the query to
    every coarse centroid (ascending-dim summation, :func:`_round6`
    grid — the same arithmetic the former distributed sub-plan and
    the DuckDB oracle compute), nearest ``nprobe`` cells by
    (d2, cluster). k x dim driver flops — trivially bounded."""
    by_c = _cells_by_cluster(centroids)
    scored = []
    for c in sorted(by_c):
        s = 0.0
        for d in sorted(by_c[c]):
            diff = qvec[d] - by_c[c][d]
            s += diff * diff
        scored.append((_round6(s), c))
    scored.sort()
    return [c for _, c in scored[:nprobe]]


def _nearest_cluster(by_c: dict[int, dict[int, float]], vec: list[float]) -> int:
    """Driver-side twin of the final-assignment argmin: squared L2 on
    the :func:`_round6` grid (ascending-dim summation), nearest cell
    by (dist2, cluster) — the ``F.min(F.struct("dist2", "cluster"))``
    tie-break. Used by the bounded-sample training paths to replay the
    coarse assignment of TRAINING rows only; the corpus assignment
    stays distributed."""
    best_c = best_d = None
    for c in sorted(by_c):
        cv = by_c[c]
        s = 0.0
        for d in sorted(cv):
            diff = vec[d] - cv[d]
            s += diff * diff
        d2 = _round6(s)
        if best_d is None or d2 < best_d:
            best_c, best_d = c, d2
    return best_c


def _kmeans_lloyd_driver(
    sample: list[tuple[int, list[float]]], k: int, n_iter: int
) -> list[tuple[int, int, float]]:
    """Driver-side twin of :func:`kmeans_assign`'s Lloyd TRAJECTORY
    over the bounded (``train_stride``) hash sample — the FAISS
    training shape: quantizers train on a capped in-memory sample
    (``max_points_per_centroid``), never the corpus. The sample is
    bounded BY CONSTRUCTION (stride = ceil(n / TRAIN_CAP)), so holding
    it on the driver is k x dim-class traffic, same as the centroids
    the distributed loop already collected per iteration — while the
    3 driver-blocking jobs per training (seed collect + one collect
    per Lloyd iteration) collapse into ONE bounded collect
    (guide §1.2: fix the number of passes first; §2.4: remove stages
    whose inputs are already driver-sized).

    Same determinism contract as the distributed loop: seeds = the k
    lowest sampled ids (cluster ids 0..k-1 in id order), every
    distance and centroid component on the :func:`_round6` grid
    (Spark's F.round twin, pinned bit-exact in tests/test_pq.py),
    argmin ties to the lowest cluster, empty clusters disappear.
    Sums run in ascending (id, dim) order — a fixed order, exactly as
    DuckDB's replay fixes its own; the engines already agree through
    the 6-dp rounding (the oracle contract this whole family rests
    on), and cell-exact parity at every SF re-verifies it.

    ``sample`` must be sorted by id. Returns (cluster, dim, cval)
    rows, the :func:`kmeans_assign` ``centroids`` shape."""
    cent: dict[int, list[float]] = {
        c: [_round6(v) for v in vec] for c, (_id, vec) in enumerate(sample[:k])
    }
    for _ in range(n_iter):
        sums: dict[int, list[float]] = {}
        counts: dict[int, int] = {}
        for _id, vec in sample:  # ascending id
            best_c = best_d = None
            for c in sorted(cent):
                cv = cent[c]
                s = 0.0
                for d, v in enumerate(vec):
                    diff = v - cv[d]
                    s += diff * diff
                d2 = _round6(s)
                if best_d is None or d2 < best_d:
                    best_c, best_d = c, d2
            acc = sums.get(best_c)
            if acc is None:
                sums[best_c] = list(vec)
                counts[best_c] = 1
            else:
                for d, v in enumerate(vec):
                    acc[d] += v
                counts[best_c] += 1
        cent = {
            c: [_round6(s / counts[c]) for s in sums[c]] for c in sums
        }
    return [
        (c, d, cent[c][d]) for c in sorted(cent) for d in range(len(cent[c]))
    ]


def _pq_lloyd_driver(
    sample: list[tuple[int, list[float]]], k: int, n_iter: int, m: int
) -> list[tuple[int, int, int, float]]:
    """Driver-side twin of :func:`_pq_lloyd`'s multi-subspace Lloyd
    TRAJECTORY over the bounded training sample (see
    :func:`_kmeans_lloyd_driver` for the contract and why). ``sample``
    is sorted (id, full-vector) rows — raw vectors for plain PQ,
    residuals for IVF residual PQ. Per-subspace code sets evolve
    independently (a code can lose all members in one subspace and
    survive in another, exactly as the distributed (code, sub) groups
    do). Returns (code, sub, sdim, cval) rows, the ``centroids``
    codebook shape."""
    dim = len(sample[0][1])
    d_sub = dim // m
    cent: dict[tuple[int, int], list[float]] = {}
    for code, (_id, vec) in enumerate(sample[:k]):
        for sub in range(m):
            cent[(code, sub)] = [
                _round6(vec[sub * d_sub + sd]) for sd in range(d_sub)
            ]
    for _ in range(n_iter):
        codes_by_sub: dict[int, list[int]] = {}
        for code, sub in cent:
            codes_by_sub.setdefault(sub, []).append(code)
        for sub in codes_by_sub:
            codes_by_sub[sub].sort()
        sums: dict[tuple[int, int], list[float]] = {}
        counts: dict[tuple[int, int], int] = {}
        for _id, vec in sample:  # ascending id
            for sub, codes in codes_by_sub.items():
                base = sub * d_sub
                best_code = best_d = None
                for code in codes:
                    cv = cent[(code, sub)]
                    s = 0.0
                    for sd in range(d_sub):
                        diff = vec[base + sd] - cv[sd]
                        s += diff * diff
                    d2 = _round6(s)
                    if best_d is None or d2 < best_d:
                        best_code, best_d = code, d2
                key = (best_code, sub)
                acc = sums.get(key)
                if acc is None:
                    sums[key] = [vec[base + sd] for sd in range(d_sub)]
                    counts[key] = 1
                else:
                    for sd in range(d_sub):
                        acc[sd] += vec[base + sd]
                    counts[key] += 1
        cent = {
            key: [_round6(s / counts[key]) for s in sums[key]] for key in sums
        }
    return [
        (code, sub, sd, cent[(code, sub)][sd])
        for code, sub in sorted(cent)
        for sd in range(d_sub)
    ]


def _collect_train_sample(
    df: DataFrame, vec_col: str, id_col: str, train_stride: int
) -> list[tuple[int, list[float]]]:
    """The one bounded collect behind the driver-side trainings: the
    md5-stride hash sample's (id, vector) rows, sorted by id. The
    filter is the SAME :func:`_train_sample_pred` the distributed
    training view used, so the sampled id set is byte-identical;
    float -> double widening on collect is exact."""
    rows = (
        df.filter(_train_sample_pred(id_col, train_stride))
        .select(F.col(id_col), F.col(vec_col))
        .collect()
    )
    return sorted((int(r[0]), [float(v) for v in r[1]]) for r in rows)


def _adc_lut_rows(
    codebook: list[tuple[int, int, int, float]],
    qvec: list[float],
    d_sub: int,
) -> list[tuple[int, int, float]]:
    """The (m x k)-entry ADC lookup table on the driver:
    lut[sub][code] = ||q_sub - centroid[sub][code]||^2 on the
    :func:`_round6` grid (ascending-sdim summation). Returns
    (sub, code, lut_d) rows for a broadcast-sized local relation."""
    cells: dict[tuple[int, int], dict[int, float]] = {}
    for code, sub, sdim, cval in codebook:
        cells.setdefault((int(sub), int(code)), {})[int(sdim)] = float(cval)
    rows = []
    for (sub, code) in sorted(cells):
        s = 0.0
        for sdim in sorted(cells[(sub, code)]):
            diff = qvec[sub * d_sub + sdim] - cells[(sub, code)][sdim]
            s += diff * diff
        rows.append((sub, code, _round6(s)))
    return rows


def kmeans_assign(
    df: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed_ids: list[int] | None = None,
    train_stride: int = 1,
    init_centroids: list[tuple[int, int, float]] | None = None,
) -> DataFrame:
    """Deterministic k-means: returns (id, cluster, dist2) — the
    assignment of every vector to its nearest centroid after
    ``n_iter`` Lloyd iterations, with the squared L2 distance.

    Determinism contract (what makes the DuckDB oracle possible):
    seeds = the ``k`` lowest-id vectors, cluster ids 0..k-1 in id
    order; every centroid component and every distance is rounded to
    6 dp; nearest-centroid ties break on the lowest cluster id.
    Clusters that lose all members simply disappear (both engines
    drop them identically).

    ``train_stride`` bounds the TRAINING set the FAISS way (FAISS
    trains quantizers on a capped sample — ``max_points_per_centroid``
    defaults to 256 — never the corpus): seeds and every Lloyd
    iteration see only the ~1/stride of rows whose md5-bucket is 0
    mod stride (:func:`_train_sample_pred` — a HASH sample, so id
    order/source structure cannot bias it), while the FINAL
    assignment still covers every vector. At corpus scale this turns
    the per-iteration scan + shuffle from O(corpus) into
    O(corpus / stride) with the same k x dim driver traffic; the
    deterministic hash (not Bernoulli RNG) is what keeps the
    trajectory DuckDB-replayable. ``train_stride=1`` is exactly the
    historical full-corpus training.

    ``init_centroids`` WARM-STARTS Lloyd from an explicit
    (cluster, dim, cval) codebook instead of the lowest-id seeds —
    the refine move for capped training of the clustering-OUTPUT
    family: train cheaply on the hash sample, then run ONE full-data
    iteration from that codebook (the cap probe's measured remedy for
    assignment churn at near-tied optima; scripts/kmeans_cap_probe.py
    --warm-start). Deterministic given the codebook; registry entries
    never pass it (plans stay byte-stable).

    The returned frame holds the persisted training view.
    """
    from pyspark.sql import Window as W

    spark = df.sparkSession
    e = _exploded(df, vec_col, id_col)

    def assign_final(
        cent_rows: list[tuple[int, int, float]], frame: DataFrame | None = None
    ) -> DataFrame:
        cent = spark.createDataFrame(
            cent_rows, "cluster int, dim int, cval double"
        )
        dist = (
            (frame if frame is not None else e).join(F.broadcast(cent), "dim")
            .groupBy(id_col, "cluster")
            .agg(
                F.round(
                    F.sum((F.col("val") - F.col("cval")) * (F.col("val") - F.col("cval"))),
                    6,
                ).alias("dist2")
            )
        )
        # min(struct) = lexicographic (dist2, cluster): nearest
        # centroid, ties to the lowest cluster id — deterministic.
        return dist.groupBy(id_col).agg(
            F.min(F.struct("dist2", "cluster")).alias("m")
        ).select(id_col, F.col("m.cluster").alias("cluster"), F.col("m.dist2").alias("dist2"))

    # Round-18 (guide §1.2/§2.4): with a bounded training sample the
    # whole Lloyd TRAJECTORY runs on the driver from ONE collect of
    # the sample — the FAISS training shape (quantizers train on a
    # capped in-memory sample) — replacing the seed collect + one
    # driver-blocking collect per iteration + the training-view
    # persist. The corpus-scale FINAL assignment stays distributed
    # and byte-identical (same assign_final expression). Engages only
    # when the sample is bounded by construction (train_stride > 1)
    # and the trajectory is the default one (no explicit seeds or
    # warm-start); trajectory equivalence is pinned by the DuckDB
    # parity suite at every SF plus tests/test_train_cap.py.
    if train_stride > 1 and init_centroids is None and seed_ids is None:
        sample = _collect_train_sample(df, vec_col, id_col, train_stride)
        centroids = _kmeans_lloyd_driver(sample, k, n_iter)
        out = assign_final(centroids)
        out.centroids = centroids
        # The residual-PQ path re-reads the same hash sample; expose
        # it so one collect serves both trainings.
        out.train_sample = sample
        return out

    # Training view: a deterministic hash-sample of the exploded
    # frame. Round-17: persist the TRAINING view, not the full
    # exploded frame — the Lloyd iterations are the only multi-read
    # consumers (the final assignment is a single pass), so the
    # cached footprint shrinks from the full dim-times-row explosion
    # to O(corpus * dim / stride) while every repeated read still
    # hits memory (guide §5: cache only what is reused). The view is
    # hash-partitioned by id BEFORE the persist: every Lloyd step
    # groups or joins on (id, ...), and HashPartitioning(id) satisfies
    # all of those ClusteredDistributions, so the per-iteration
    # exchanges (groupBy(id, cluster), groupBy(id), the id-join back
    # to the training rows) all disappear from the plan — one shuffle
    # at cache build replaces 3 shuffles per iteration (guide §2.4:
    # share one exchange across operations keyed the same way).
    # Partition count follows the session's parallelism, never a
    # constant, so the same code sizes itself on a cluster.
    et = (
        e.filter(_train_sample_pred(id_col, train_stride))
        if train_stride > 1
        else e
    ).repartition(spark.sparkContext.defaultParallelism, id_col).persist()

    assign = assign_final

    # The per-iteration collect()s can fail mid-run (task loss, OOM);
    # release the persisted exploded frame on ANY exit that won't hand
    # it to the caller via hold — mirroring the finally-based
    # hygiene in graph.connected_components.
    try:
        # Seed centroids = the k lowest-id vectors, rounded through
        # Spark's F.round (HALF_UP, matching DuckDB ROUND) — NOT
        # Python's round(), whose banker's rounding could diverge at
        # .5 ulp. ``seed_ids`` overrides the default for callers with
        # a better deterministic pick (the hot-list splitter seeds
        # the second centroid at the cell's farthest member so it can
        # bisect a dense core); the oracle-able registry paths never
        # pass it.
        if init_centroids is not None:
            centroids = [
                (int(c), int(d), float(v)) for c, d, v in init_centroids
            ]
        else:
            base = df.select(F.col(id_col), F.col(vec_col))
            if seed_ids is not None:
                base = base.filter(F.col(id_col).isin([int(s) for s in seed_ids]))
            elif train_stride > 1:
                # Seeds come from the training sample (the k lowest
                # sampled ids) so the whole trajectory is sample-local.
                base = base.filter(_train_sample_pred(id_col, train_stride))
            seeded = (
                base.orderBy(id_col)
                .limit(k)
                .withColumn(
                    "cluster", (F.row_number().over(W.orderBy(id_col)) - 1).cast("int")
                )
            )
            centroids = [
                (int(r["cluster"]), int(r["dim"]), float(r["cval"]))
                for r in (
                    seeded.select(
                        "cluster", F.posexplode(F.col(vec_col)).alias("dim", "val")
                    )
                    .select(
                        "cluster",
                        "dim",
                        F.round(F.col("val").cast("double"), 6).alias("cval"),
                    )
                    .collect()
                )
            ]

        for _ in range(n_iter):
            a = assign(centroids, et)
            centroids = [
                (int(r["cluster"]), int(r["dim"]), float(r["cval"]))
                for r in (
                    a.join(et, id_col)
                    .groupBy("cluster", "dim")
                    .agg(F.round(F.avg("val"), 6).alias("cval"))
                    .collect()
                )
            ]

        out = assign(centroids)
    except BaseException:
        et.unpersist()
        raise
    # Final (cluster, dim, cval) rows — the coarse quantizer IVF-style
    # searches probe against (driver-held k x dim cells).
    out.centroids = centroids
    return hold(out, et)


def kmeans_assign_balanced(
    df: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    split_factor: float = 1.5,
    max_rounds: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    train_stride: int = 1,
) -> DataFrame:
    """:func:`kmeans_assign` with HOT-LIST SPLITTING — the straggler
    remedy for skewed corpora. On clustered Zipf-occupancy data the
    plain coarse quantizer leaves one inverted list holding ~2.3x the
    mean (measured on the embedding-skew twin,
    scripts/ann_skew_probe.py); at cluster scale that list is the
    straggler partition of every probe that hits it. Each round,
    any cell holding more than ``split_factor`` x mean rows is
    re-clustered with a 2-means over ITS members only (same
    deterministic contract as the parent: lowest-id seeds within the
    cell, 6-dp grid), and its two halves get fresh cell ids; repeat
    until balanced or ``max_rounds``. Cold cells keep their ids and
    are never rescanned, so the extra cost is Lloyd iterations over
    the hot fraction only.

    Returns (id, cluster, dist2) with ``centroids`` carrying the
    trained centroid of every FINAL cell — probes see more, smaller
    cells where the data is dense, which is exactly FAISS's guidance
    for imbalanced IVF (the probe audit script measures the improved
    imbalance on the skew twin).
    """
    # train_stride bounds the INITIAL coarse training only (see
    # kmeans_assign); the split stage already trains on single-cell
    # member sets, which are the bounded hot fraction by construction.
    cells = kmeans_assign(df, k, n_iter, vec_col, id_col,
                          train_stride=train_stride)
    subs = []
    assign_df = cells.select(id_col, "cluster", "dist2")
    centroids = {c: {} for c in {r[0] for r in cells.centroids}}
    for c, dim, val in cells.centroids:
        centroids[c][dim] = val
    next_id = k
    n_total = df.count()
    no_split: set[int] = set()  # degenerate cells we stop retrying
    for _ in range(max_rounds):
        counts = {
            r["cluster"]: r["n"]
            for r in assign_df.groupBy("cluster").agg(
                F.count(F.lit(1)).alias("n")
            ).collect()
        }
        mean_sz = n_total / len(counts)
        hot = sorted(
            c
            for c, n in counts.items()
            if n > split_factor * mean_sz and c not in no_split
        )
        if not hot:
            break
        for c in hot:
            cell_rows = assign_df.filter(F.col("cluster") == c)
            member_ids = cell_rows.select(id_col)
            members = df.join(member_ids, id_col, "left_semi")
            # Seeds: the cell's lowest id + the lowest-id member past
            # the 80th percentile of distance from the parent
            # centroid. The default adjacent-lowest-id seeds start
            # inside the dense core and cannot bisect it; the
            # FARTHEST member is the opposite failure (an outlier
            # seed peels off a singleton and leaves the core hot —
            # measured on the 100x skew twin). The q80 member is far
            # enough to pull a real half away, dense enough to hold
            # it. Percentile + min are distributed aggregates — no
            # global window, so picking the seed never single-tasks
            # the very hot list being split.
            lo, thr = cell_rows.agg(
                F.min(id_col), F.expr("percentile(dist2, 0.8)")
            ).collect()[0]
            far = (
                cell_rows.filter(F.col("dist2") >= thr)
                .agg(F.min(id_col))
                .collect()[0][0]
            )
            sub = kmeans_assign(
                members, 2, n_iter, vec_col, id_col,
                seed_ids=[int(lo), int(far)] if far != lo else None,
            )
            subs.append(sub)
            relabeled = sub.select(
                F.col(id_col),
                (F.col("cluster") + F.lit(next_id)).alias("cluster"),
                "dist2",
            )
            sub_cent = {}
            for sc, dim, val in sub.centroids:
                sub_cent.setdefault(sc + next_id, {})[dim] = val
            # a degenerate split (all members in one sub-cell) would
            # loop forever on the same hot cell: keep the original
            # cell instead and stop trying to split it
            if len(sub_cent) < 2:
                no_split.add(c)
                continue
            centroids.pop(c)
            centroids.update(sub_cent)
            assign_df = assign_df.filter(F.col("cluster") != c).unionByName(
                relabeled
            )
            next_id += 2
        # checkpoint the union lineage per round (cheap local action:
        # the frame is (id, cluster, dist2) scalars)
        assign_df = assign_df.localCheckpoint(eager=True)
    out = assign_df
    out.centroids = [
        (c, dim, val)
        for c in sorted(centroids)
        for dim, val in sorted(centroids[c].items())
    ]
    return hold(out, cells, *subs)


def pq_assign(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    n_iter: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    train_stride: int = 1,
) -> DataFrame:
    """Product quantization (Jégou et al., TPAMI 2011): split each
    vector into ``m`` contiguous subspaces and k-means each subspace
    independently; a vector's PQ code is its per-subspace centroid
    ids — m bytes (k <= 256) standing in for m*d_sub floats, the
    16-32x compression billion-vector ANN indexes are built on.

    Returns long form (id, sub, code, dist2) — one row per (vector,
    subspace) — with the trained codebook attached as
    ``result.centroids`` (list of (code, sub, sdim, cval) rows,
    m x k x d_sub cells driver-held, the MLlib-centroid shape).

    All m subspace k-means run as ONE distributed Lloyd pipeline:
    the exploded frame keys by (sub, sdim) and every
    assignment/update step carries the subspace in its groupBy, so
    per-iteration cost is one join + two aggregates total — not per
    subspace — and the shuffle rows are (id, sub, code) scalars.
    Same determinism contract as :func:`kmeans_assign` (lowest-id
    seeds per subspace, 6-dp rounding grid, lowest-code tie-break),
    so the full training trajectory is DuckDB-recomputable.

    The returned frame holds its persisted training view.
    """
    spark = df.sparkSession
    # (sub, sdim) long form: dim // d_sub, dim % d_sub
    first = df.select(F.size(vec_col).alias("d")).first()
    dim = int(first["d"])
    assert dim % m == 0, f"dim {dim} not divisible by m {m}"
    d_sub = dim // m
    e = df.select(
        F.col(id_col), F.posexplode(F.col(vec_col)).alias("dim", "val")
    ).select(
        F.col(id_col),
        (F.col("dim") / d_sub).cast("int").alias("sub"),
        (F.col("dim") % d_sub).cast("int").alias("sdim"),
        F.col("val").cast("double").alias("val"),
    )
    # Round-17 (guide §5 + §2.4, mirroring kmeans_assign): persist the
    # TRAINING view only — the Lloyd iterations are the only
    # multi-read consumers; the final coding pass reads the corpus
    # once — and hash-partition it by id first so every per-iteration
    # group/join on (id, ...) runs exchange-free.
    # Round-18 (guide §1.2/§2.4, mirroring kmeans_assign): a bounded
    # training sample puts the whole multi-subspace Lloyd trajectory
    # on the driver from ONE collect — no training-view persist, no
    # per-iteration driver-blocking collects; the corpus coding pass
    # stays distributed and byte-identical (_pq_code).
    if train_stride > 1:
        sample = _collect_train_sample(df, vec_col, id_col, train_stride)
        centroids = _pq_lloyd_driver(sample, k, n_iter, m)
        out = _pq_code(e, centroids, id_col, spark)
        out.centroids = centroids
        return out
    et = (
        e.repartition(spark.sparkContext.defaultParallelism, id_col).persist()
    )
    out, centroids = _pq_lloyd(e, et, id_col, k, n_iter, spark)
    out.centroids = centroids
    return hold(out, et)


def _pq_code(
    frame: DataFrame,
    cent_rows: list[tuple[int, int, int, float]],
    id_col: str,
    spark,
) -> DataFrame:
    """One distributed PQ assignment pass of ``frame`` ((id, sub,
    sdim, val) long form) against a codebook: the exact expression
    :func:`_pq_lloyd`'s per-iteration/final assignment evaluates —
    broadcast codebook join, 6-dp grid, lowest-code tie-break."""
    cent = spark.createDataFrame(
        cent_rows, "code int, sub int, sdim int, cval double"
    )
    dist = (
        frame.join(F.broadcast(cent), ["sub", "sdim"])
        .groupBy(id_col, "sub", "code")
        .agg(
            F.round(
                F.sum(
                    (F.col("val") - F.col("cval")) * (F.col("val") - F.col("cval"))
                ),
                6,
            ).alias("dist2")
        )
    )
    return (
        dist.groupBy(id_col, "sub")
        .agg(F.min(F.struct("dist2", "code")).alias("mn"))
        .select(
            id_col,
            "sub",
            F.col("mn.code").alias("code"),
            F.col("mn.dist2").alias("dist2"),
        )
    )


def _pq_lloyd(
    e: DataFrame,
    et: DataFrame,
    id_col: str,
    k: int,
    n_iter: int,
    spark,
) -> tuple[DataFrame, list[tuple[int, int, int, float]]]:
    """The shared multi-subspace Lloyd core: ``e`` is the full
    (id, sub, sdim, val) frame (raw subvectors for plain PQ, residual
    subvectors for IVF residual PQ) and ``et`` the PERSISTED training
    view of it (the md5-bucket hash sample, hash-partitioned by id —
    see :func:`pq_assign`). Seeds = the k lowest ids in ``et``; same
    6-dp grid and lowest-code tie-break as :func:`kmeans_assign`.
    Returns (final assignment over ``e``, codebook rows). On failure
    the training persist is released here."""
    from pyspark.sql import Window as W

    def assign(
        cent_rows: list[tuple[int, int, int, float]],
        frame: DataFrame | None = None,
    ) -> DataFrame:
        return _pq_code(frame if frame is not None else e, cent_rows, id_col, spark)

    try:
        seeded = (
            et.select(F.col(id_col))
            .distinct()
            .orderBy(id_col)
            .limit(k)
            .withColumn(
                "code", (F.row_number().over(W.orderBy(id_col)) - 1).cast("int")
            )
        )
        centroids = [
            (int(r["code"]), int(r["sub"]), int(r["sdim"]), float(r["cval"]))
            for r in (
                seeded.join(et, id_col)
                .select("code", "sub", "sdim", F.round("val", 6).alias("cval"))
                .collect()
            )
        ]
        for _ in range(n_iter):
            a = assign(centroids, et)
            centroids = [
                (int(r["code"]), int(r["sub"]), int(r["sdim"]), float(r["cval"]))
                for r in (
                    a.join(et, [id_col, "sub"])
                    .groupBy("code", "sub", "sdim")
                    .agg(F.round(F.avg("val"), 6).alias("cval"))
                    .collect()
                )
            ]
        out = assign(centroids)
    except BaseException:
        et.unpersist()
        raise
    return out, centroids


def pq_adc_topk(
    df: DataFrame,
    query_id: int = 0,
    m: int = 8,
    k: int = 16,
    n_iter: int = 2,
    topk: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    train_stride: int = 1,
) -> DataFrame:
    """Asymmetric distance computation (ADC) search over PQ codes:
    the query stays a full vector; every database vector is
    represented ONLY by its m-byte code, and its approximate squared
    L2 distance is a sum of m lookup-table entries
    lut[sub][code] = ||q_sub - centroid[sub][code]||^2.

    This is the search half of IVF-PQ: at corpus scale the scan
    touches m bytes + m LUT adds per vector instead of d floats —
    with the (m x k)-entry LUT broadcast, the plan is one broadcast
    equi-join on (sub, code) + a per-vector sum, no full vectors ever
    shuffled. Returns (id, adc_dist2) for the ``topk`` nearest
    (ascending distance, id tie-break), query excluded. Deterministic
    given the PQ training, so exact-oracle-able; its RECALL vs exact
    search is a separate measured floor (tests/test_pq.py).
    """
    codes = pq_assign(df, m, k, n_iter, vec_col, id_col, train_stride)
    lut = _adc_lut(df, codes.centroids, query_id, m, vec_col, id_col)
    out = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .groupBy(id_col)
        .agg(F.round(F.sum("lut_d"), 6).alias("adc_dist2"))
        .filter(F.col(id_col) != query_id)
        .orderBy("adc_dist2", id_col)
        .limit(topk)
    )
    return hold(out, codes)


def _adc_lut(
    df: DataFrame,
    centroids: list[tuple[int, int, int, float]],
    query_id: int,
    m: int,
    vec_col: str,
    id_col: str,
    qvec: list[float] | None = None,
) -> DataFrame:
    """The (m x k)-entry ADC lookup table for one query:
    lut[sub][code] = ||q_sub - centroid[sub][code]||^2, 6-dp grid.
    Round-17: computed ON THE DRIVER (:func:`_adc_lut_rows` — the
    codebook is already a driver-held list; only the one query row is
    collected) and returned as a broadcast-sized LOCAL relation,
    replacing the former scan + join + aggregate sub-plan (guide §2.4:
    remove stages whose inputs are already driver-sized). ``qvec``
    lets a caller that already collected the query vector skip the
    second one-row job."""
    spark = df.sparkSession
    if qvec is None:
        qvec = _collect_query_vec(df, query_id, vec_col, id_col)
    d_sub = len(qvec) // m
    return spark.createDataFrame(
        _adc_lut_rows(centroids, qvec, d_sub),
        "sub int, code int, lut_d double",
    )


def _train_cells_and_codes(
    assign, df, n_cells, m, k, n_iter, vec_col, id_col, train_stride
) -> tuple[DataFrame, DataFrame]:
    """Train the coarse quantizer (``assign``) and the PQ codebook
    side by side; returns (cells, codes).

    The two trainings are independent until the search composes them.
    Each one alternates Spark jobs (the training-sample collect, the
    Lloyd rounds of an uncapped training) with driver-side work, so
    from two threads one training's jobs run while the other waits or
    computes. If either fails, the survivor's persisted state is
    released before the error propagates.
    """
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        futures = [
            pool.submit(
                assign, df, n_cells, n_iter, vec_col=vec_col, id_col=id_col,
                train_stride=train_stride,
            ),
            pool.submit(
                pq_assign, df, m, k, n_iter, vec_col, id_col, train_stride
            ),
        ]
        done, errors = [], []
        for f in futures:
            try:
                done.append(f.result())
            except BaseException as e:  # noqa: BLE001 — raised below
                errors.append(e)
    if errors:
        try:
            for survivor in done:
                release(survivor)
        finally:
            raise errors[0]
    return done[0], done[1]


def ivf_pq_topk(
    df: DataFrame,
    query_id: int = 0,
    n_cells: int = 8,
    nprobe: int = 2,
    m: int = 8,
    k: int = 16,
    n_iter: int = 2,
    topk: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    balanced: bool = False,
    train_stride: int = 1,
) -> DataFrame:
    """IVF-PQ: the two-level ANN index structure billion-vector search
    actually deploys (FAISS IndexIVFPQ). Level 1 — the IVF coarse
    quantizer (:func:`kmeans_assign`) partitions the corpus into
    ``n_cells`` inverted lists and the query probes only its
    ``nprobe`` nearest cells. Level 2 — within the probed lists,
    distance is PQ-ADC (:func:`pq_adc_topk`'s LUT trick) over m-byte
    codes. At corpus scale the scan touches nprobe/n_cells of the
    rows, and each touched row costs m LUT adds, never a float
    vector: both the row-count and the per-row dimensions are cut.

    Plan shape: cell probe is a broadcast-centroid join collapsing to
    n_cells scalar rows; candidates are a left-semi join on the cell
    id; ADC is a broadcast-LUT equi-join on (sub, code). Everything
    is deterministic given the (separately oracled) k-means and PQ
    trainings, so the full two-level search replays exactly in
    DuckDB; recall floors live in tests/test_pq.py.
    """
    # balanced=True swaps in the hot-list-splitting quantizer
    # (kmeans_assign_balanced) — same (id, cluster) + centroids
    # contract, so the probe/semi-join pipeline is identical; pair it
    # with a proportionally larger nprobe to hold scan share
    # constant. The oracled registry path keeps the plain quantizer.
    cells, codes = _train_cells_and_codes(
        kmeans_assign_balanced if balanced else kmeans_assign,
        df, n_cells, m, k, n_iter, vec_col, id_col, train_stride,
    )
    # Round-17: the cell probe runs ON THE DRIVER (guide §2.4) — the
    # trained centroids are already a driver-held k x dim list, so
    # only the one query row is collected; the probed-cell set becomes
    # a literal IN-list filter on the assignment frame instead of the
    # former centroid-scan + join + aggregate + top-k sub-plan.
    qvec = _collect_query_vec(df, query_id, vec_col, id_col)
    probed = _probe_clusters(cells.centroids, qvec, nprobe)
    cand = (
        cells.filter(F.col("cluster").isin([int(c) for c in probed]))
        .filter(F.col(id_col) != query_id)
        .select(id_col)
    )
    lut = _adc_lut(df, codes.centroids, query_id, m, vec_col, id_col, qvec=qvec)
    # Semi-join the codes to the probed cells BEFORE scoring: at
    # corpus scale only nprobe/n_cells of the rows ever touch the LUT.
    out = (
        codes.join(cand, id_col, "left_semi")
        .join(F.broadcast(lut), ["sub", "code"])
        .groupBy(id_col)
        .agg(F.round(F.sum("lut_d"), 6).alias("adc_dist2"))
        .orderBy("adc_dist2", id_col)
        .limit(topk)
    )
    return hold(out, cells, codes)


def ivf_pq_rerank_topk(
    df: DataFrame,
    query_id: int = 0,
    n_cells: int = 8,
    nprobe: int = 2,
    m: int = 8,
    k: int = 16,
    n_iter: int = 2,
    topk: int = 10,
    shortlist: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    balanced: bool = False,
    train_stride: int = 1,
) -> DataFrame:
    """IVF-PQ with an exact re-rank stage — the standard production
    remedy for PQ quantization error (FAISS's refine/RFlat pattern):
    the ADC ranking keeps a SHORTLIST (default 5x topk) instead of
    topk, then only those rows' full vectors are scored exactly
    against the query and the true top-k is taken.

    Why it exists here: on clustered, Zipf-occupancy corpora the
    dense (hot) cluster's neighbors sit below the m x k codebook's
    resolution — measured on the embedding-skew twin, ADC-ranked
    recall@10 for hot-cluster queries drops to 0.3 and probing MORE
    cells does not recover it (it is quantization distortion, not a
    probe miss; tests/test_lsh_recall.py pins this). The re-rank
    recovers it at a bounded cost: exactly ``shortlist`` full
    vectors are ever read — a semi-join of the (id-only) shortlist
    against the corpus, then one broadcast-query distance per row —
    so at 100 TB the exact stage touches 50 rows, not the corpus.
    """
    short = ivf_pq_topk(
        df, query_id, n_cells, nprobe, m, k, n_iter, shortlist, vec_col, id_col,
        balanced=balanced, train_stride=train_stride,
    )
    e = _exploded(df, vec_col, id_col)
    # Round-17: the broadcast query frame is a LOCAL relation built
    # from the one collected query row (guide §2.4 — the former
    # filter+posexplode sub-plan re-scanned the corpus for one row).
    qvec = _collect_query_vec(df, query_id, vec_col, id_col)
    q = df.sparkSession.createDataFrame(
        list(enumerate(qvec)), "dim int, qval double"
    )
    out = (
        e.join(short.select(id_col), id_col, "left_semi")
        .join(F.broadcast(q), "dim")
        .groupBy(id_col)
        .agg(
            F.round(
                F.sum((F.col("val") - F.col("qval")) * (F.col("val") - F.col("qval"))),
                6,
            ).alias("dist2")
        )
        .orderBy("dist2", id_col)
        .limit(topk)
    )
    return hold(out, short)


def kmeans_code_frozen(
    df: DataFrame,
    centroids: list[tuple[int, int, float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign vectors to the nearest FROZEN coarse centroid — the
    index-MAINTENANCE half of IVF (FAISS ``IndexIVF.add()``: vectors
    added after training are quantized against the codebook frozen
    at train time; nothing retrains). At 100 TB this is the only
    operational shape: the nightly ingest batch is one coding scan
    (broadcast k x dim centroid cells, map-side partial aggregates,
    no Lloyd iterations, no driver round-trips), while retraining is
    a scheduled, churn-audited event (the capped-vs-full churn
    findings in BASELINE.md price exactly that decision).

    Same distance expression, 6-dp grid, and lowest-cluster
    tie-break as :func:`kmeans_assign`'s final assignment, so coding
    a corpus against its OWN trained centroids reproduces the
    training assignment row-for-row
    (tests/test_index_maintenance.py). For a
    :func:`kmeans_assign_balanced` codebook the semantics are still
    FAISS add() — every vector lands on its true nearest FINAL cell
    (pinned by brute force) — but that flat assignment may differ
    from the hierarchical TRAINING assignment at split boundaries
    (training assigns within the parent cell; a boundary vector can
    be globally nearer to another parent's child). Coding is
    codebook-defined, training is trajectory-defined; only the plain
    quantizer's trajectory ends at the flat rule. Returns (id, cluster, dist2)
    with ``centroids`` re-attached (the frozen list, unchanged);
    single-scan plan, nothing persisted.
    """
    spark = df.sparkSession
    cent = spark.createDataFrame(
        [(int(c), int(d), float(v)) for c, d, v in centroids],
        "cluster int, dim int, cval double",
    )
    e = (
        df.select(F.col(id_col), F.posexplode(F.col(vec_col)).alias("dim", "val"))
        .select(F.col(id_col), "dim", F.col("val").cast("double").alias("val"))
    )
    dist = (
        e.join(F.broadcast(cent), "dim")
        .groupBy(id_col, "cluster")
        .agg(
            F.round(
                F.sum((F.col("val") - F.col("cval")) * (F.col("val") - F.col("cval"))),
                6,
            ).alias("dist2")
        )
    )
    out = (
        dist.groupBy(id_col)
        .agg(F.min(F.struct("dist2", "cluster")).alias("m"))
        .select(id_col, F.col("m.cluster").alias("cluster"), F.col("m.dist2").alias("dist2"))
    )
    out.centroids = [(int(c), int(d), float(v)) for c, d, v in centroids]
    return out


def pq_code_frozen(
    df: DataFrame,
    centroids: list[tuple[int, int, int, float]],
    m: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """PQ-code vectors against a FROZEN codebook — the PQ half of
    FAISS ``IndexIVFPQ.add()`` (see :func:`kmeans_code_frozen`).
    One coding scan: broadcast m x k x d_sub codebook cells, one
    join + two aggregates, shuffle rows are (id, sub, code) scalars.
    Same distance expression, 6-dp grid, and lowest-code tie-break
    as :func:`_pq_lloyd`'s final assignment, so coding a corpus
    against its own trained codebook reproduces the training
    assignment row-for-row. Returns (id, sub, code, dist2) with
    ``centroids`` re-attached; nothing persisted."""
    spark = df.sparkSession
    first = df.select(F.size(vec_col).alias("d")).first()
    dim = int(first["d"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    d_sub = dim // m
    cent = spark.createDataFrame(
        [(int(c), int(s), int(sd), float(v)) for c, s, sd, v in centroids],
        "code int, sub int, sdim int, cval double",
    )
    e = (
        df.select(F.col(id_col), F.posexplode(F.col(vec_col)).alias("dim", "val"))
        .select(
            F.col(id_col),
            (F.col("dim") / d_sub).cast("int").alias("sub"),
            (F.col("dim") % d_sub).cast("int").alias("sdim"),
            F.col("val").cast("double").alias("val"),
        )
    )
    dist = (
        e.join(F.broadcast(cent), ["sub", "sdim"])
        .groupBy(id_col, "sub", "code")
        .agg(
            F.round(
                F.sum((F.col("val") - F.col("cval")) * (F.col("val") - F.col("cval"))),
                6,
            ).alias("dist2")
        )
    )
    out = (
        dist.groupBy(id_col, "sub")
        .agg(F.min(F.struct("dist2", "code")).alias("mn"))
        .select(
            F.col(id_col),
            "sub",
            F.col("mn.code").alias("code"),
            F.col("mn.dist2").alias("dist2"),
        )
    )
    out.centroids = [(int(c), int(s), int(sd), float(v)) for c, s, sd, v in centroids]
    return out


def variance_balanced_permutation(
    df: DataFrame,
    m: int = 8,
    vec_col: str = "embedding",
) -> list[int]:
    """A deterministic OPQ-lite pre-transform: order dimensions so
    the ``m`` PQ subspaces carry BALANCED energy. Real embedding
    spectra decay (PCA-style); contiguous grouping then gives one
    subspace most of the variance — its k codewords are spread thin
    over high-energy axes while low-energy subspaces waste theirs —
    which is the imbalance the OPQ rotation (Ge et al., CVPR 2013)
    optimizes away. The cheap, fully-deterministic version FAISS
    documents as a pre-transform is a PERMUTATION: sort dims by
    variance (one distributed aggregate; 6-dp grid, ties on dim id)
    and deal them into subspaces boustrophedon (snake) order, so
    every subspace gets one dim from each variance stratum.

    Returns the gather permutation ``perm`` (``new[j] = old[perm[j]]``;
    apply with :func:`apply_dim_permutation`). A permutation
    preserves L2 exactly, so EXACT search results are unchanged —
    only the PQ subspace grouping (and with it the quantization
    error) moves. Measured on a decaying-spectrum corpus in
    tests/test_pq.py::test_variance_balanced_pq_recall; on isotropic
    data every ordering is equivalent and the gain is ~0 by
    construction.
    """
    e = df.select(F.posexplode(F.col(vec_col)).alias("dim", "val")).select(
        "dim", F.col("val").cast("double").alias("val")
    )
    rows = (
        e.groupBy("dim")
        .agg(F.round(F.var_pop("val"), 6).alias("v"))
        .collect()
    )
    order = [d for d, _ in sorted(((int(r["dim"]), float(r["v"])) for r in rows),
                                  key=lambda t: (-t[1], t[0]))]
    dim = len(order)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    d_sub = dim // m
    subs: list[list[int]] = [[] for _ in range(m)]
    for i, d in enumerate(order):
        r, pos = divmod(i, m)
        s = pos if r % 2 == 0 else m - 1 - pos
        subs[s].append(d)
    assert all(len(s) == d_sub for s in subs)
    return [d for s in subs for d in s]


def apply_dim_permutation(
    df: DataFrame, perm: list[int], vec_col: str = "embedding"
) -> DataFrame:
    """Project ``vec_col`` through a gather permutation
    (``new[j] = old[perm[j]]``) — a pure columnar expression (no
    shuffle, no Python), so every downstream PQ/IVF operator works
    unchanged on the permuted frame. Distances are L2-identical;
    only subspace grouping changes."""
    return df.withColumn(
        vec_col, F.array(*[F.col(vec_col)[int(i)] for i in perm])
    )


def codebook_churn_flows(
    df: DataFrame,
    index_old: list[tuple[int, int, float]],
    index_new: list[tuple[int, int, float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """The retrain-decision audit as a DISTRIBUTED contingency table:
    code the corpus against BOTH frozen coarse codebooks
    (:func:`kmeans_code_frozen` twice over one exploded frame) and
    return (cluster_old, cluster_new, n, mean_dist2_delta) — how many
    vectors each (old cell -> new cell) flow carries and the mean
    change in squared distance to the assigned centroid (negative =
    the retrain moved those vectors CLOSER; the quality gain that
    justifies paying the churn).

    This is the scalable form of scripts/kmeans_cap_probe.py's churn
    measurement: the probe collects every assignment to the driver
    and brute-forces label permutations (fine at its k<=10 probe
    sizes, impossible at corpus scale). Here the corpus-sized work is
    two coding scans + one id-join whose shuffle rows are (id,
    cluster, dist2) scalars, and only the k_old x k_new flow table —
    driver-sized at any corpus size — leaves the cluster. Optimal
    label matching (when the retrain was cold and labels are
    arbitrary) becomes an assignment problem on that k x k table:
    :func:`matched_churn_from_flows`.
    """
    a = kmeans_code_frozen(df, index_old, vec_col=vec_col, id_col=id_col).select(
        F.col(id_col),
        F.col("cluster").alias("cluster_old"),
        F.col("dist2").alias("d2_old"),
    )
    b = kmeans_code_frozen(df, index_new, vec_col=vec_col, id_col=id_col).select(
        F.col(id_col),
        F.col("cluster").alias("cluster_new"),
        F.col("dist2").alias("d2_new"),
    )
    out = (
        a.join(b, id_col)
        .groupBy("cluster_old", "cluster_new")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(F.col("d2_new") - F.col("d2_old")), 6).alias(
                "mean_dist2_delta"
            ),
        )
        .orderBy("cluster_old", "cluster_new")
    )
    return out


def matched_churn_from_flows(
    flows: list[tuple[int, int, int]], max_k: int = 10
) -> float:
    """Optimally-matched churn from a collected flow table: the
    minimum, over bijective old->new label matchings, of the fraction
    of vectors OFF the matched diagonal (cold retrains relabel
    clusters arbitrarily, so raw disagreement overstates churn — the
    same correction scripts/kmeans_cap_probe.py applies, lifted onto
    the k x k flow table so the corpus-sized data never reaches the
    driver). ``flows`` is (cluster_old, cluster_new, n) tuples;
    brute-force over label permutations like the probe (exact), so
    guarded at ``max_k`` labels — past that, swap in a Hungarian
    solver; the table shape does not change."""
    from itertools import permutations

    old_ids = sorted({f[0] for f in flows})
    new_ids = sorted({f[1] for f in flows})
    if len(old_ids) > max_k or len(new_ids) > max_k:
        raise ValueError(
            f"{len(old_ids)}x{len(new_ids)} labels > max_k {max_k}: "
            "permutation matching is factorial work; use a Hungarian solver"
        )
    total = sum(f[2] for f in flows)
    cell = {(f[0], f[1]): f[2] for f in flows}
    # Pad the smaller side with unmatchable labels so every
    # permutation of the larger side is a candidate matching.
    k = max(len(old_ids), len(new_ids))
    olds = old_ids + [None] * (k - len(old_ids))
    news = new_ids + [None] * (k - len(new_ids))
    best = 0
    for perm in permutations(news):
        best = max(
            best,
            sum(cell.get((o, p), 0) for o, p in zip(olds, perm) if o is not None),
        )
    return 1.0 - best / total if total else 0.0


def effective_nprobe(nprobe: int, n_cells: int, realized_cells: int) -> int:
    """The split-ratio nprobe correction for balanced IVF (round-17
    encoding of the round-16 sweep finding, VERDICT r16 ask #5):
    hot-list splitting turns ``n_cells`` requested cells into
    ``realized_cells`` smaller ones, so a FIXED nprobe covers a
    smaller share of a hot MODE — measured on the skew twin, the
    composed stack's hot recall@10 at nprobe=2/s=200 reads 0.850 vs
    plain 1.000 (BASELINE.md). The rule is nprobe x
    ceil(realized/n_cells): the ratio is CEILed before multiplying —
    whole extra probes per requested probe — because a split mode
    needs its CHILD CELLS re-covered, and the hot list's own split
    factor exceeds the global average growth (here the hot list
    split ~3x while realized/n_cells = 1.5). The weaker
    equal-coverage form, ceil(nprobe x realized/n_cells), keeps the
    probed FRACTION constant but was measured to under-recover
    (eff=3 -> hot 0.983 < plain 1.000; the ratio-ceil eff=4 -> hot
    1.000 = plain). Floor-pinned in tests/test_lsh_recall.py::
    test_composed_stack_corrected_nprobe.
    """
    import math

    return max(nprobe, nprobe * math.ceil(realized_cells / n_cells))


def ivf_pq_batch_topk(
    df: DataFrame,
    n_queries: int = 8,
    n_cells: int = 8,
    nprobe: int = 2,
    m: int = 8,
    k: int = 16,
    n_iter: int = 2,
    topk: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    balanced: bool = False,
    train_stride: int = 1,
    query_ids: list[int] | None = None,
    nprobe_scale_with_split: bool = False,
    coarse_index: list[tuple[int, int, float]] | None = None,
    pq_index: list[tuple[int, int, int, float]] | None = None,
) -> DataFrame:
    """BATCHED IVF-PQ search — how production actually drives an ANN
    index (FAISS's ``Index.search(xq, k)`` takes a query MATRIX):
    ``n_queries`` queries (the lowest-id vectors, deterministic — the
    registry's single-query entries use query 0, this generalizes the
    same convention) share ONE coarse training, ONE PQ training, and
    ONE coding pass over the corpus; per-query marginal cost is an
    (m x k)-row LUT and a probe. Returns (q_id, vec_id, adc_dist2) —
    the per-query ADC top-k, queries excluded from their own results
    — ordered by (q_id, adc_dist2, vec_id). Per-query results are
    EXACTLY ivf_pq_topk(query_id=q) (equivalence pinned in
    tests/test_pq.py::test_ivf_pq_batch_matches_single_query).

    ``query_ids`` overrides the lowest-id default with an explicit
    query set (production batches are arbitrary; the recall sweeps
    batch the skew twin's hot/cold samples) — ``n_queries`` is then
    ignored. The index itself (training, coding, cells) is identical
    either way; only the broadcast query frame changes.

    ``nprobe_scale_with_split`` (opt-in, default OFF so registry
    plans stay byte-stable) applies :func:`effective_nprobe` when
    ``balanced=True``: nprobe is scaled by the realized split ratio
    (realized_cells / n_cells, ceil) so probe coverage of a hot mode
    stays constant after hot-list splitting — the round-16 sweep's
    low-nprobe dilution finding, floor-pinned in
    tests/test_lsh_recall.py::test_composed_stack_corrected_nprobe.
    The correction is a driver-side integer derived from the
    already-collected centroid list — no extra action or shuffle.

    ``coarse_index`` / ``pq_index`` (default None: train as before, so
    registry plans stay byte-stable) run the search against FROZEN
    codebooks — the index-MAINTENANCE call shape (FAISS
    ``IndexIVFPQ.add()`` + ``search()``: vectors ingested after train
    time are quantized against the frozen codebooks; nothing
    retrains). With both set, the plan drops every Lloyd iteration
    and driver round-trip: one coarse coding scan + one PQ coding
    scan (:func:`kmeans_code_frozen` / :func:`pq_code_frozen`), then
    the unchanged probe/LUT/candidate pipeline. At 100 TB this is the
    nightly-ingest shape — retraining is a separate scheduled,
    churn-audited event (BASELINE.md's capped-vs-full churn rows
    price exactly that decision). Passing the corpus's OWN trained
    codebooks reproduces the trained search row-for-row
    (tests/test_index_maintenance.py). ``balanced``/``train_stride``/
    ``n_iter`` govern training only and are ignored for a half whose
    index is frozen.

    Scale shape: probes and LUTs stay broadcast-sized (Q x n_cells
    scalar rows, Q x m x k LUT rows); candidates are a shuffle join
    of the code table against the (q_id, id) probe fan-out (scalars,
    fan-out <= Q x nprobe / n_cells per row). The per-query top-k is
    TWO-PHASE — a partial top-k inside each scan partition
    (row_number over (q_id, spark_partition_id()), a bounded
    superset that contains the true top-k under ANY partitioning)
    then the final rank over <= Q x partitions x topk survivors — so
    no single task ever sorts a whole query's candidate set (the
    batched twin of the TakeOrderedAndProject heap the single-query
    ORDER BY + LIMIT plan gets for free).
    """
    from pyspark.sql import Window as W

    spark = df.sparkSession
    # The query matrix is collected once (Q bounded rows; FAISS's
    # search(xq, k) holds it in memory too). Per-query probes and LUTs
    # are then computed on the driver from the driver-held codebooks
    # (:func:`_probe_clusters`, :func:`_adc_lut_rows`) and become
    # broadcast-sized local relations: Q x nprobe probe rows and
    # Q x m x k LUT rows.
    qrows = (
        df.filter(F.col(id_col).isin([int(q) for q in query_ids]))
        if query_ids is not None
        else df.orderBy(id_col).limit(n_queries)
    ).select(F.col(id_col), F.col(vec_col)).collect()
    qmap = {int(r[0]): [float(v) for v in r[1]] for r in qrows}
    if not qmap:
        # Fail with the cause, and before training persists anything.
        raise ValueError(
            "ivf_pq_batch_topk: no query rows resolved "
            f"(query_ids={query_ids!r}, n_queries={n_queries})"
        )
    # balanced=True swaps in the hot-list-splitting quantizer — same
    # (id, cluster) + centroids contract, so the probe/candidate
    # pipeline is identical (the single-query entries' composition,
    # now available to the batch call path; registry defaults keep
    # the plain quantizer so plans stay byte-stable).
    assign = kmeans_assign_balanced if balanced else kmeans_assign
    if coarse_index is None and pq_index is None:
        cells, codes = _train_cells_and_codes(
            assign, df, n_cells, m, k, n_iter, vec_col, id_col, train_stride
        )
    else:  # a frozen half is a lazy coding scan: nothing to overlap
        cells = (
            kmeans_code_frozen(df, coarse_index, vec_col=vec_col, id_col=id_col)
            if coarse_index is not None
            else assign(df, n_cells, n_iter, vec_col=vec_col, id_col=id_col,
                        train_stride=train_stride)
        )
        codes = (
            pq_code_frozen(df, pq_index, m, vec_col=vec_col, id_col=id_col)
            if pq_index is not None
            else pq_assign(df, m, k, n_iter, vec_col, id_col, train_stride)
        )
    if nprobe_scale_with_split and balanced:
        realized = len({c for c, _, _ in cells.centroids})
        nprobe = effective_nprobe(nprobe, n_cells, realized)

    d_sub = len(next(iter(qmap.values()))) // m
    probe_rows = [
        (q, int(c))
        for q in sorted(qmap)
        for c in _probe_clusters(cells.centroids, qmap[q], nprobe)
    ]
    probe = spark.createDataFrame(probe_rows, "q_id long, cluster int")
    cand = (
        cells.select(F.col(id_col), "cluster")
        .join(F.broadcast(probe), "cluster")
        .filter(F.col(id_col) != F.col("q_id"))
        .select("q_id", id_col)
    )
    # Batched LUT: Q x m x k rows, still broadcast-sized.
    lut_rows = [
        (q, sub, code, lut_d)
        for q in sorted(qmap)
        for sub, code, lut_d in _adc_lut_rows(codes.centroids, qmap[q], d_sub)
    ]
    lut = spark.createDataFrame(
        lut_rows, "q_id long, sub int, code int, lut_d double"
    )
    scored = (
        codes.join(cand, id_col)
        .join(F.broadcast(lut), ["q_id", "sub", "code"])
        .groupBy("q_id", id_col)
        .agg(F.round(F.sum("lut_d"), 6).alias("adc_dist2"))
    )
    # Two-phase per-query top-k (see docstring). Phase 1 is a pruning
    # superset, so the FINAL output is partitioning-independent.
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
            F.row_number().over(
                W.partitionBy("q_id").orderBy("adc_dist2", id_col)
            ),
        )
        .filter(F.col("rk2") <= topk)
        .select("q_id", id_col, "adc_dist2")
        .orderBy("q_id", "adc_dist2", id_col)
    )
    return hold(out, cells, codes)


def ivf_pq_batch_rerank_topk(
    df: DataFrame,
    n_queries: int = 8,
    n_cells: int = 8,
    nprobe: int = 2,
    m: int = 8,
    k: int = 16,
    n_iter: int = 2,
    topk: int = 10,
    shortlist: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    balanced: bool = False,
    train_stride: int = 1,
    query_ids: list[int] | None = None,
    nprobe_scale_with_split: bool = False,
    coarse_index: list[tuple[int, int, float]] | None = None,
    pq_index: list[tuple[int, int, int, float]] | None = None,
) -> DataFrame:
    """Batched IVF-PQ search WITH the exact re-rank stage — the
    composition production FAISS actually calls
    (``IndexRefineFlat.search(xq, k)`` takes the same query matrix as
    the underlying index): :func:`ivf_pq_batch_topk` keeps a
    per-query SHORTLIST (default 5x topk) by ADC distance, then only
    those (q_id, vec_id) pairs' full vectors are scored exactly
    against the query matrix and each query's true top-k is taken.
    This is the call path where the skew remedy applies to batched
    search: PQ distortion on hot clusters is recovered per query at a
    bounded exact cost (the round-13/14 shortlist-knee finding —
    hot queries are distortion-limited and recover under re-rank;
    cold tails are probe-limited and need nprobe, not shortlist).

    Returns (q_id, vec_id, dist2) ordered by (q_id, dist2, vec_id);
    per-query rows are EXACTLY ivf_pq_rerank_topk(query_id=q)
    (equivalence pinned in
    tests/test_pq.py::test_ivf_pq_batch_rerank_matches_single_query).
    ``query_ids`` overrides the lowest-id default with an explicit
    query set (see :func:`ivf_pq_batch_topk`); the recall sweeps use
    it to batch the skew twin's hot/cold samples through the full
    remedy stack.

    Scale shape: the exact stage's input is bounded by construction —
    Q x shortlist id pairs (broadcast) semi-filter the exploded
    corpus, the query matrix joins as Q x dim broadcast scalars, and
    the per-query rank windows over at most Q x shortlist surviving
    rows REGARDLESS of corpus size (no two-phase top-k needed here:
    unlike the ADC candidate set, the re-rank input cannot grow with
    the corpus), so the final output is partitioning-independent
    (pinned in tests/test_pq.py alongside the batch-search pin).

    ``nprobe_scale_with_split`` forwards to the underlying batch
    search (see :func:`ivf_pq_batch_topk`): when ``balanced=True``,
    nprobe is scaled by the realized split ratio so hot-mode probe
    coverage survives the split — the deployment rule for composing
    the full skew-remedy stack at LOW nprobe (BASELINE.md).

    ``coarse_index`` / ``pq_index`` forward too (see
    :func:`ivf_pq_batch_topk`): the frozen-index maintenance shape
    with the exact re-rank on top — FAISS
    ``IndexRefineFlat(IndexIVFPQ).add()+search()``. The re-rank stage
    itself never trains anything, so freezing changes only the
    shortlist sub-plan.
    """
    from pyspark.sql import Window as W

    short = ivf_pq_batch_topk(
        df, n_queries=n_queries, n_cells=n_cells, nprobe=nprobe, m=m,
        k=k, n_iter=n_iter, topk=shortlist, vec_col=vec_col,
        id_col=id_col, balanced=balanced, train_stride=train_stride,
        query_ids=query_ids,
        nprobe_scale_with_split=nprobe_scale_with_split,
        coarse_index=coarse_index, pq_index=pq_index,
    )
    pairs = short.select("q_id", id_col)
    # Round-17: the exact stage's query matrix is a LOCAL relation
    # built from the collected query rows (guide §2.4 — the former
    # filter/TakeOrdered + posexplode sub-plan re-scanned the corpus
    # for Q bounded rows).
    qrows = (
        df.filter(F.col(id_col).isin([int(q) for q in query_ids]))
        if query_ids is not None
        else df.orderBy(id_col).limit(n_queries)
    ).select(F.col(id_col), F.col(vec_col)).collect()
    qset = df.sparkSession.createDataFrame(
        [
            (int(r[0]), d, float(v))
            for r in sorted(qrows, key=lambda r: int(r[0]))
            for d, v in enumerate(r[1])
        ],
        "q_id long, dim int, qval double",
    )
    e = _exploded(df, vec_col, id_col)
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
            F.row_number().over(
                W.partitionBy("q_id").orderBy("dist2", id_col)
            ),
        )
        .filter(F.col("rk") <= topk)
        .select("q_id", id_col, "dist2")
        .orderBy("q_id", "dist2", id_col)
    )
    return hold(out, short)


def ivf_residual_pq_topk(
    df: DataFrame,
    query_id: int = 0,
    n_cells: int = 8,
    nprobe: int = 2,
    m: int = 8,
    k: int = 16,
    n_iter: int = 2,
    topk: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    balanced: bool = False,
    train_stride: int = 1,
) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding — the actual FAISS IndexIVFPQ
    formulation: PQ is trained on r_v = v - centroid(cell(v)) rather
    than on raw vectors. Residuals concentrate around the origin
    (the coarse quantizer removed the between-cell variance), so the
    same m x k codebook spends its codes on within-cell detail —
    the reason residual PQ dominates plain PQ at equal bits.

    Search: probe the nprobe nearest cells; for EACH probed cell the
    query forms its own residual q - c_cell and a per-cell LUT; a
    candidate's distance sums its own cell's LUT entries over its
    code. All deterministic given the (oracled) trainings — the full
    two-level residual pipeline replays in DuckDB. Plan shape: one
    extra broadcast join (coarse centroids into the exploded frame)
    over :func:`ivf_pq_topk`; LUTs stay (nprobe x m x k) broadcast
    rows.
    """
    # balanced=True swaps in the hot-list-splitting coarse quantizer —
    # the composition matters MORE here than for plain IVF-PQ: the
    # residual encoding is trained on v - centroid(cell(v)), so
    # smaller, tighter hot cells shrink the residuals the m x k
    # codebook must cover (the same quantization-distortion mechanism
    # the re-rank remedies). Same (id, cluster) + centroids contract,
    # so the per-cell LUT pipeline below is identical; registry
    # defaults keep the plain quantizer (plans stay byte-stable).
    assign = kmeans_assign_balanced if balanced else kmeans_assign
    cells = assign(
        df, n_cells, n_iter, vec_col=vec_col, id_col=id_col,
        train_stride=train_stride,
    )
    spark = df.sparkSession
    cent = spark.createDataFrame(cells.centroids, "cluster int, dim int, cval double")
    # Query vector collected once (one-row pushed-filter job); it also
    # supplies the dimensionality, replacing the former first() probe.
    qvec = _collect_query_vec(df, query_id, vec_col, id_col)
    d_sub = len(qvec) // m

    # Residual subvectors: v - centroid(cell(v)), exact IEEE (cval is
    # the same 6-dp double on both engines; no extra rounding needed).
    # Round-17 cache layout (guide §5): persist the (id, cluster)
    # ASSIGNMENT (3 scalars per vector — it is read by the residual
    # derivation AND the final scoring join) and the residual TRAINING
    # view (bounded by the stride sample, hash-partitioned by id so
    # the Lloyd iterations run exchange-free), instead of the full
    # corpus x dim residual explosion the previous layout cached; the
    # final coding pass re-derives residuals once from the cached
    # assignment.
    # Round-18 (ADVICE r17): both consumers read only (id, cluster) —
    # dist2 stays out of the persisted footprint.
    cells_asg = cells.select(id_col, "cluster").persist()
    e_full = _exploded(df, vec_col, id_col)
    res = (
        e_full.join(cells_asg, id_col)
        .join(F.broadcast(cent), ["cluster", "dim"])
        .select(
            F.col(id_col),
            (F.col("dim") / d_sub).cast("int").alias("sub"),
            (F.col("dim") % d_sub).cast("int").alias("sdim"),
            (F.col("val") - F.col("cval")).alias("val"),
        )
    )
    train_sample = getattr(cells, "train_sample", None)
    if train_sample is not None:
        # Round-18 (guide §1.2/§2.4): the residual TRAINING sample is
        # the same md5-stride id set the coarse training collected —
        # derive each sampled row's residual ON THE DRIVER (assign to
        # its nearest final coarse cell via the pinned _round6 argmin
        # twin, subtract the 6-dp centroid: the identical exact-IEEE
        # subtraction the distributed plan computes) and run the
        # residual-PQ Lloyd trajectory there too. Replaces the
        # residual training-view persist + 3 more driver-blocking
        # collects; the corpus coding pass stays distributed.
        by_c = _cells_by_cluster(cells.centroids)
        res_sample = []
        for sid, vec in train_sample:  # ascending id
            cv = by_c[_nearest_cluster(by_c, vec)]
            res_sample.append((sid, [vec[d] - cv[d] for d in range(len(vec))]))
        codebook = _pq_lloyd_driver(res_sample, k, n_iter, m)
        codes = _pq_code(res, codebook, id_col, spark)
        rt = None
    else:
        rt = (
            res.filter(_train_sample_pred(id_col, train_stride))
            if train_stride > 1
            else res
        ).repartition(spark.sparkContext.defaultParallelism, id_col).persist()
        codes, codebook = _pq_lloyd(res, rt, id_col, k, n_iter, spark)

    # Round-17: probe + per-probed-cell residual LUTs ON THE DRIVER
    # (guide §2.4) — both codebooks are already driver-held lists, so
    # only the one query row is collected; the (nprobe x m x k)-row
    # LUT becomes a broadcast-sized local relation, replacing the
    # former centroid-scan + two-join + aggregate sub-plan. Per-cell
    # query residual q - c_cell is the same exact-IEEE subtraction the
    # plan computed.
    probed = _probe_clusters(cells.centroids, qvec, nprobe)
    by_c = _cells_by_cluster(cells.centroids)
    lut_rows = []
    for c in probed:
        qr_vec = [qvec[d] - by_c[c][d] for d in range(len(qvec))]
        lut_rows.extend(
            (c, sub, code, lut_d)
            for sub, code, lut_d in _adc_lut_rows(codebook, qr_vec, d_sub)
        )
    lut = spark.createDataFrame(
        lut_rows, "cluster int, sub int, code int, lut_d double"
    )
    out = (
        codes.join(cells_asg, id_col)
        .join(F.broadcast(lut), ["cluster", "sub", "code"])
        .filter(F.col(id_col) != query_id)
        .groupBy(id_col)
        .agg(F.round(F.sum("lut_d"), 6).alias("adc_dist2"))
        .orderBy("adc_dist2", id_col)
        .limit(topk)
    )
    return hold(out, cells, cells_asg, rt)


def semantic_dedup(
    df: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    threshold: float = 0.92,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    train_stride: int = 1,
) -> DataFrame:
    """SemDeDup: (id, cluster, is_kept) — k-means partition, then
    exact cosine pairs within each cluster only; any pair at or above
    ``threshold`` drops its higher id. The survivor set keeps one
    representative (the lowest id) per semantic-duplicate chain.

    The pair stage self-joins on the cluster key, so candidate volume
    is sum over clusters of size^2, not corpus^2 — the SemDeDup
    bargain. Cosines run through the codegen'd posexplode twin, and
    the drop set is tiny (broadcast anti-join shape).

    ``train_stride`` (round 15) offers the TRAIN_CAP bounded-sample
    training to this clustering-OUTPUT operator behind a flag: the
    Lloyd iterations read only the md5-bucket hash sample while the
    final assignment and the pair stage still cover every vector —
    at 100 TB the per-iteration training scan was the operator's one
    remaining corpus-proportional stage besides the required final
    pass. Default 1 keeps the historical full-corpus training (the
    registry entry's byte-stable plan); the capped trajectory stays
    DuckDB-replayable (tests/test_train_cap.py pins the stride-2
    SemDeDup replay), and the output-quality cost at 100x is
    measured by scripts/kmeans_cap_probe.py (inertia delta,
    optimally-matched assignment churn) + the paired scale_bench
    `kmeans_capped` control row.
    """
    assign = kmeans_assign(df, k, n_iter, vec_col, id_col,
                           train_stride=train_stride)
    # Round-17 (guide §5): the final assignment feeds BOTH pair-join
    # sides and the output join — persist the compact (id, cluster)
    # frame once instead of re-running the assignment scan per branch.
    asg = assign.select(id_col, "cluster").persist()
    m = asg.join(df.select(F.col(id_col), F.col(vec_col)), id_col)
    a = m.select(
        F.col("cluster"), F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a")
    )
    b = m.select(
        F.col("cluster"), F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b")
    )
    pairs = a.join(b, "cluster").filter(F.col("id_a") < F.col("id_b"))
    scored = exploded_pairwise_cosine(pairs)
    drops = (
        scored.filter(F.col("cosine_sim") >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    out = (
        asg.join(F.broadcast(drops), id_col, "left")
        .select(
            id_col,
            "cluster",
            F.col("is_dup").isNull().cast("int").alias("is_kept"),
        )
    )
    return hold(out, assign, asg)

"""Vector quantizers, the ANN searches built on them, and SemDeDup.

One quantizer core serves every operator here. Product quantization
(Jégou et al., TPAMI 2011) splits each vector into ``m`` contiguous
subspaces and runs k-means in all of them at once; k-means is the
``m = 1`` case, renamed to (id, cluster, dist2) rows with
(cluster, dim, cval) centroids. The core has one of each piece:

- :func:`_explode`, the (id, sub, sdim, val) long form every plan
  reads;
- :func:`_pq_code`, the coding plan: a broadcast codebook join, the
  squared L2 per (vector, subspace, codeword) rounded to 6 dp, and the
  nearest codeword with ties to the lowest code. Lloyd iterations,
  final assignments and the frozen coders all evaluate it, so coding a
  corpus against its own trained codebook reproduces the training
  assignment row for row;
- two Lloyd loops with one trajectory: :func:`_pq_lloyd` runs in
  Spark over a persisted training view, :func:`_pq_lloyd_driver` on
  the driver over a bounded training sample collected once;
- :func:`_d2`, the driver's squared L2 on the 6-dp grid, shared by the
  driver loop, the IVF cell probe, the residual cell replay and the
  ADC lookup table.

Everything is deterministic, so the DuckDB oracle
(``queries/clustering``) replays the full trajectory: seeds are the
k lowest ids (no RNG), every distance and every centroid component is
rounded to 6 dp each iteration, argmin ties break on the lowest code,
and a code that loses all members disappears. Codebooks are
driver-held lists (k x dim cells, the shape MLlib keeps); every
per-vector computation is a distributed join and aggregate. The
explode/join/groupBy shape is fully codegen'd, with no higher-order
lambdas (``similarity.exploded_pairwise_cosine`` measures the 3-8x
penalty those cost).

:func:`semantic_dedup` is SemDeDup (Abbas et al. 2023,
arXiv:2303.09540): k-means first, then exact pairwise cosine only
within each cluster, dropping the higher id of any pair above the
threshold. The clustering bounds the quadratic: k scales with corpus
size to hold cluster size about constant, so the pair stage costs
O(n * cluster_size) instead of O(n^2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..lifecycle import hold, release
from .dedup import md5_hash64
from .similarity import exploded_pairwise_cosine
from .trend import round6


def _explode(
    df: DataFrame, vec_col: str, id_col: str, d_sub: int | None = None
) -> DataFrame:
    """(id, sub, sdim, val): one row per vector component, subspace
    ``sub`` holding dims [sub * d_sub, (sub + 1) * d_sub), val widened
    to double. ``d_sub=None`` keeps the whole vector as subspace 0
    (sdim is the dim), the k-means view, which needs no dimension
    probe."""
    e = df.select(F.col(id_col), F.posexplode(F.col(vec_col)).alias("dim", "val"))
    if d_sub is None:
        sub, sdim = F.lit(0), F.col("dim")
    else:
        sub = (F.col("dim") / d_sub).cast("int")
        sdim = (F.col("dim") % d_sub).cast("int")
    return e.select(
        F.col(id_col),
        sub.alias("sub"),
        sdim.alias("sdim"),
        F.col("val").cast("double").alias("val"),
    )


def _subspace_dim(df: DataFrame, vec_col: str, m: int) -> int:
    """d_sub = dim / m, from one probed row; raises unless m divides
    dim."""
    dim = int(df.select(F.size(vec_col)).first()[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    return dim // m


def _train_sample_pred(id_col: str, stride: int):
    """The bounded-training-set keep predicate: md5-bucket(id) ==
    0 (mod stride). A HASH of the id, not the raw id: real corpora
    assign ids in ingestion order, so ``id % stride`` would correlate
    the sample with sources/time (measured pathology: on a corpus
    whose cluster equals id % 8, a stride-4 raw-modulo sample
    contains 2 of the 8 clusters). :func:`md5_hash64` is the repo's
    rule-6 cross-engine hash, so the DuckDB oracle replays the exact
    sample:
    CAST(('0x' || substr(md5('tcap:' || CAST(id AS VARCHAR)), 1, 8))
    AS BIGINT) % stride = 0."""
    return F.pmod(md5_hash64(F.lit("tcap"), F.col(id_col)), F.lit(int(stride))) == 0


def _collect_rows(
    frame: DataFrame, vec_col: str, id_col: str
) -> list[tuple[int, list[float]]]:
    """(id, vector) rows of ``frame`` on the driver, sorted by id. The
    float -> double widening on collect is exact, as the plans'
    ``cast("double")`` is; a null vector comes back empty, as its
    explode is."""
    rows = frame.select(F.col(id_col), F.col(vec_col)).collect()
    return sorted((int(r[0]), [float(v) for v in r[1] or ()]) for r in rows)


def _query_vecs(
    df: DataFrame,
    query_ids: list[int] | None,
    n_queries: int,
    vec_col: str,
    id_col: str,
) -> dict[int, list[float]]:
    """A search's one query collect: {id: vector} for ``query_ids``,
    or else for the ``n_queries`` lowest ids. Probes and lookup tables
    are then computed on the driver from codebooks it already holds,
    and become broadcast-sized local relations instead of plans that
    re-scan the corpus for a few rows."""
    frame = (
        df.filter(F.col(id_col).isin([int(q) for q in query_ids]))
        if query_ids is not None
        else df.orderBy(id_col).limit(n_queries)
    )
    qmap = dict(_collect_rows(frame, vec_col, id_col))
    if not qmap:
        # Fail with the cause, and before any training persists.
        raise ValueError(
            f"no query rows resolved (query_ids={query_ids!r}, n_queries={n_queries})"
        )
    return qmap


def _pq_code(
    frame: DataFrame, codebook: list[tuple[int, int, int, float]], id_col: str
) -> DataFrame:
    """The coding plan: every (vector, subspace) of ``frame`` ((id, sub,
    sdim, val) rows) coded against ``codebook`` ((code, sub, sdim,
    cval) rows) as (id, sub, code, dist2), with the codebook attached
    as ``.centroids``. The codebook is a broadcast local relation;
    distances are summed per (id, sub, code) and rounded to 6 dp, and
    ``min(struct(dist2, code))`` picks the nearest code, ties to the
    lowest."""
    codebook = [(int(c), int(s), int(sd), float(v)) for c, s, sd, v in codebook]
    cent = frame.sparkSession.createDataFrame(
        codebook, "code int, sub int, sdim int, cval double"
    )
    diff = F.col("val") - F.col("cval")
    # The shuffle the per-(id, sub) minimum needs anyway partitions by
    # id alone: HashPartitioning(id) satisfies that grouping and every
    # consumer's join on id (Lloyd updates, candidate filters), so none
    # of them shuffles the codes again.
    out = (
        frame.join(F.broadcast(cent), ["sub", "sdim"])
        .groupBy(id_col, "sub", "code")
        .agg(F.round(F.sum(diff * diff), 6).alias("dist2"))
        .repartition(id_col)
        .groupBy(id_col, "sub")
        .agg(F.min(F.struct("dist2", "code")).alias("mn"))
        .select(
            id_col,
            "sub",
            F.col("mn.code").alias("code"),
            F.col("mn.dist2").alias("dist2"),
        )
    )
    out.centroids = codebook
    return out


def _d2(x: list[float], c: list[float]) -> float:
    """The coding plan's distance on the driver: squared L2 summed in
    ascending dim order and rounded like Spark's ``round(_, 6)``."""
    s = 0.0
    for a, b in zip(x, c):
        diff = a - b
        s += diff * diff
    return round6(s)


def _cells(
    codebook: list[tuple[int, int, int, float]],
) -> dict[int, dict[int, list[float]]]:
    """Codebook rows (code, sub, sdim, cval) -> {sub: {code: subvector}}."""
    out: dict[int, dict[int, list[float]]] = {}
    for code, sub, _sdim, cval in sorted(codebook):
        out.setdefault(int(sub), {}).setdefault(int(code), []).append(float(cval))
    return out


def _coarse_cells(
    centroids: list[tuple[int, int, float]],
) -> dict[int, list[float]]:
    """k-means centroid rows (cluster, dim, cval) -> {cluster: vector}."""
    return _cells(_codebook(centroids)).get(0, {})


def _nearest(cells: dict[int, list[float]], x: list[float]) -> tuple[float, int]:
    """(dist2, code) of the codeword nearest ``x``. Tuples compare like
    the coding plan's ``min(struct(dist2, code))``, so ties go to the
    lowest code."""
    return min((_d2(x, cv), c) for c, cv in cells.items())


def _split(vec: list[float], m: int) -> list[list[float]]:
    """``vec`` as ``m`` contiguous subvectors."""
    d_sub = len(vec) // m
    return [vec[s * d_sub:(s + 1) * d_sub] for s in range(m)]


def _seed_codebook(
    rows: list[tuple[int, list[float]]], m: int
) -> list[tuple[int, int, int, float]]:
    """Seeds from (id, vector) rows sorted by id: codeword i of every
    subspace is row i's subvector on the 6-dp grid."""
    return [
        (code, sub, sdim, round6(v))
        for code, (_id, vec) in enumerate(rows)
        for sub, part in enumerate(_split(vec, m))
        for sdim, v in enumerate(part)
    ]


def _pq_lloyd_driver(
    sample: list[tuple[int, list[float]]], k: int, n_iter: int, m: int
) -> list[tuple[int, int, int, float]]:
    """:func:`_pq_lloyd`'s trajectory on the driver, over a bounded
    training sample (rows sorted by id; raw vectors, or residuals for
    IVF residual PQ). This is the FAISS training shape: quantizers
    train on a capped in-memory sample, never the corpus. The sample is
    bounded by construction (stride = ceil(n / TRAIN_CAP)), so one
    collect of it replaces the seed collect, the training-view persist
    and one driver-blocking collect per iteration.

    Same contract as the Spark loop: seeds are the k lowest ids, every
    distance and centroid component is on the 6-dp grid, ties go to the
    lowest code, and a code that loses all members in a subspace
    disappears from that subspace only. Sums run in ascending (id, dim)
    order; the engines agree through the 6-dp rounding, which the
    parity suite re-checks cell by cell. An empty sample gives an empty
    codebook, as the Spark loop does. Returns (code, sub, sdim, cval)
    rows sorted."""
    cells = _cells(_seed_codebook(sample[:k], m))
    for _ in range(n_iter):
        sums: dict[tuple[int, int], list[float]] = {}
        counts: dict[tuple[int, int], int] = {}
        for _id, vec in sample:  # ascending id
            for sub, x in enumerate(_split(vec, m)):
                key = (_nearest(cells[sub], x)[1], sub)
                acc = sums.get(key)
                if acc is None:
                    sums[key] = list(x)
                    counts[key] = 1
                else:
                    for j, v in enumerate(x):
                        acc[j] += v
                    counts[key] += 1
        cells = {}
        for (code, sub), acc in sums.items():
            n = counts[(code, sub)]
            cells.setdefault(sub, {})[code] = [round6(s / n) for s in acc]
    return sorted(
        (code, sub, sdim, v)
        for sub, codes in cells.items()
        for code, cv in codes.items()
        for sdim, v in enumerate(cv)
    )


def _pq_lloyd(
    e: DataFrame,
    et: DataFrame,
    id_col: str,
    k: int,
    n_iter: int,
    init: list[tuple[int, int, int, float]] | None = None,
) -> DataFrame:
    """The Lloyd loop in Spark: ``et`` is the persisted training view of
    ``e`` ((id, sub, sdim, val) rows). Seeds are ``init`` or else the k
    lowest ids in ``et``; each iteration codes ``et`` with
    :func:`_pq_code` and averages each codeword's members on the 6-dp
    grid, one collect per iteration. Returns the coding of all of
    ``e`` under the final codebook. On failure ``et`` is released
    here."""
    from pyspark.sql import Window as W

    def collect_codebook(frame: DataFrame) -> list[tuple[int, int, int, float]]:
        return sorted(
            (int(r[0]), int(r[1]), int(r[2]), float(r[3])) for r in frame.collect()
        )

    try:
        codebook = init
        if codebook is None:
            seeds = (
                et.select(F.col(id_col)).distinct().orderBy(id_col).limit(k)
                .withColumn(
                    "code", (F.row_number().over(W.orderBy(id_col)) - 1).cast("int")
                )
            )
            codebook = collect_codebook(
                seeds.join(et, id_col).select("code", "sub", "sdim", F.round("val", 6))
            )
        for _ in range(n_iter):
            codebook = collect_codebook(
                _pq_code(et, codebook, id_col)
                .join(et, [id_col, "sub"])
                .groupBy("code", "sub", "sdim")
                .agg(F.round(F.avg("val"), 6))
            )
        return _pq_code(e, codebook, id_col)
    except BaseException:
        et.unpersist()
        raise


def _quantize(
    e: DataFrame,
    k: int,
    n_iter: int,
    id_col: str,
    train_stride: int,
    m: int = 1,
    sample: list[tuple[int, list[float]]] | None = None,
    init: list[tuple[int, int, int, float]] | None = None,
) -> DataFrame:
    """Train a codebook and code every row of ``e`` with it: (id, sub,
    code, dist2) with the codebook as ``.centroids``.

    With ``sample`` (the training rows, collected and sorted by id) the
    trajectory runs on the driver. Otherwise it runs in Spark over the
    training view: ``e``'s md5 hash sample at ``train_stride`` > 1,
    else all of ``e``. The view is the only input the iterations read
    more than once, so it alone is persisted (the final coding reads
    the corpus once), and it is hash-partitioned by id first:
    HashPartitioning(id) satisfies every per-iteration group and join
    on (id, ...), so one shuffle at cache build replaces three per
    iteration. The partition count follows the session's parallelism.
    The result holds the view."""
    if sample is not None:
        return _pq_code(e, _pq_lloyd_driver(sample, k, n_iter, m), id_col)
    et = (
        (e.filter(_train_sample_pred(id_col, train_stride)) if train_stride > 1 else e)
        .repartition(e.sparkSession.sparkContext.defaultParallelism, id_col)
        .persist()
    )
    return hold(_pq_lloyd(e, et, id_col, k, n_iter, init), et)


def _probe_clusters(
    centroids: list[tuple[int, int, float]],
    qvec: list[float],
    nprobe: int,
) -> list[int]:
    """The IVF cell probe on the driver: the ``nprobe`` coarse cells
    nearest the query by (dist2, cluster). k x dim flops."""
    scored = sorted((_d2(qvec, cv), c) for c, cv in _coarse_cells(centroids).items())
    return [c for _, c in scored[:nprobe]]


def _adc_lut_rows(
    codebook: list[tuple[int, int, int, float]], qvec: list[float]
) -> list[tuple[int, int, float]]:
    """The (m x k)-entry ADC lookup table on the driver, as (sub, code,
    lut_d) rows: lut[sub][code] = ||q_sub - centroid[sub][code]||^2."""
    rows = []
    for sub, codes in sorted(_cells(codebook).items()):
        for code, cv in sorted(codes.items()):
            lo = sub * len(cv)
            rows.append((sub, code, _d2(qvec[lo:lo + len(cv)], cv)))
    return rows


def _lut_frame(spark, codebook, qvec: list[float]) -> DataFrame:
    """The ADC lookup table as a broadcast-sized local relation."""
    return spark.createDataFrame(
        _adc_lut_rows(codebook, qvec), "sub int, code int, lut_d double"
    )


def _codebook(
    centroids: list[tuple[int, int, float]],
) -> list[tuple[int, int, int, float]]:
    """k-means centroids (cluster, dim, cval) as a one-subspace codebook."""
    return [(int(c), 0, int(d), float(v)) for c, d, v in centroids]


def _as_kmeans(coded: DataFrame, id_col: str) -> DataFrame:
    """The k-means view of a one-subspace coding: (id, cluster, dist2)
    with (cluster, dim, cval) ``centroids``."""
    out = coded.select(id_col, F.col("code").alias("cluster"), "dist2")
    out.centroids = [(c, sdim, v) for c, _sub, sdim, v in coded.centroids]
    return out


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
    ``n_iter`` Lloyd iterations, with the squared L2 distance. It is
    one-subspace product quantization (:func:`_quantize` with m = 1),
    renamed.

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
    assignment still covers every vector. That sample is bounded, so
    its trajectory runs on the driver from one collect. The
    deterministic hash (not Bernoulli RNG) is what keeps the
    trajectory DuckDB-replayable. ``train_stride=1`` trains on the
    whole corpus in Spark.

    ``seed_ids`` replaces the lowest-id seeds with the given rows (the
    hot-list splitter seeds the second centroid away from the cell's
    dense core so it can bisect it). ``init_centroids`` WARM-STARTS
    Lloyd from an explicit (cluster, dim, cval) codebook instead — the
    refine move for capped training of the clustering-OUTPUT family:
    train cheaply on the hash sample, then run ONE full-data iteration
    from that codebook (the cap probe's measured remedy for assignment
    churn at near-tied optima; scripts/kmeans_cap_probe.py
    --warm-start). Both are deterministic given their input, run in
    Spark, and are never passed by registry entries.

    Seeds come from ``df``'s rows, so a row whose vector is empty takes
    a cluster id that then holds no centroid, as in the oracle's seed
    set. The returned frame holds the persisted training view; with a
    driver-side trajectory it also carries the collected sample as
    ``train_sample``, which the residual-PQ search reuses.
    """
    sample = init = None
    if init_centroids is not None:
        init = _codebook(init_centroids)
    elif seed_ids is None and train_stride > 1:
        sample = _collect_rows(
            df.filter(_train_sample_pred(id_col, train_stride)), vec_col, id_col
        )
    else:
        base = df
        if seed_ids is not None:
            base = df.filter(F.col(id_col).isin([int(s) for s in seed_ids]))
        seeds = _collect_rows(base.orderBy(id_col).limit(k), vec_col, id_col)
        init = _seed_codebook(seeds, 1)
    coded = _quantize(
        _explode(df, vec_col, id_col), k, n_iter, id_col, train_stride,
        sample=sample, init=init,
    )
    out = _as_kmeans(coded, id_col)
    out.train_sample = sample
    return hold(out, coded)


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

    All m subspace k-means run as ONE Lloyd pipeline: the exploded
    frame keys by (sub, sdim) and every assignment/update step carries
    the subspace in its groupBy, so per-iteration cost is one join +
    two aggregates total — not per subspace — and the shuffle rows are
    (id, sub, code) scalars. Same determinism contract as
    :func:`kmeans_assign` (lowest-id seeds per subspace, 6-dp grid,
    lowest-code tie-break), so the full training trajectory is
    DuckDB-recomputable. ``train_stride`` > 1 trains on the md5 hash
    sample on the driver, as :func:`kmeans_assign` does.

    The returned frame holds its persisted training view.
    """
    d_sub = _subspace_dim(df, vec_col, m)
    sample = None
    if train_stride > 1:
        sample = _collect_rows(
            df.filter(_train_sample_pred(id_col, train_stride)), vec_col, id_col
        )
    return _quantize(
        _explode(df, vec_col, id_col, d_sub), k, n_iter, id_col, train_stride,
        m, sample=sample,
    )


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
    qvec = _query_vecs(df, [query_id], 1, vec_col, id_col)[query_id]
    codes = pq_assign(df, m, k, n_iter, vec_col, id_col, train_stride)
    lut = _lut_frame(df.sparkSession, codes.centroids, qvec)
    out = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .groupBy(id_col)
        .agg(F.round(F.sum("lut_d"), 6).alias("adc_dist2"))
        .filter(F.col(id_col) != query_id)
        .orderBy("adc_dist2", id_col)
        .limit(topk)
    )
    return hold(out, codes)


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


def _ivf_pq_search(
    df, query_id, qvec, n_cells, nprobe, m, k, n_iter, topk, vec_col, id_col,
    balanced, train_stride,
) -> DataFrame:
    """:func:`ivf_pq_topk` for a query vector already on the driver."""
    # balanced=True swaps in the hot-list-splitting quantizer
    # (kmeans_assign_balanced) — same (id, cluster) + centroids
    # contract, so the probe/semi-join pipeline is identical; pair it
    # with a proportionally larger nprobe to hold scan share
    # constant. The oracled registry path keeps the plain quantizer.
    cells, codes = _train_cells_and_codes(
        kmeans_assign_balanced if balanced else kmeans_assign,
        df, n_cells, m, k, n_iter, vec_col, id_col, train_stride,
    )
    # The probed-cell set is a literal IN-list filter on the
    # assignment, computed from the driver-held centroids.
    probed = _probe_clusters(cells.centroids, qvec, nprobe)
    cand = (
        cells.filter(F.col("cluster").isin([int(c) for c in probed]))
        .filter(F.col(id_col) != query_id)
        .select(id_col)
    )
    lut = _lut_frame(df.sparkSession, codes.centroids, qvec)
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

    Plan shape: the cell probe and the LUT are computed on the driver
    from the one collected query row and the driver-held codebooks;
    candidates are an IN-list filter on the cell id; ADC is a
    broadcast-LUT equi-join on (sub, code). Everything is
    deterministic given the (separately oracled) k-means and PQ
    trainings, so the full two-level search replays exactly in
    DuckDB; recall floors live in tests/test_pq.py.
    """
    qvec = _query_vecs(df, [query_id], 1, vec_col, id_col)[query_id]
    return _ivf_pq_search(
        df, query_id, qvec, n_cells, nprobe, m, k, n_iter, topk, vec_col,
        id_col, balanced, train_stride,
    )


def _exact_dist2(
    df: DataFrame,
    pairs: DataFrame,
    qmap: dict[int, list[float]],
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """The exact re-rank stage: (q_id, id, dist2), the squared L2 on the
    6-dp grid from each query in ``qmap`` to the candidate ids
    ``pairs`` ((q_id, id) rows) names. The broadcast pairs filter the
    exploded corpus, so only candidates' vectors are scored; the query
    matrix joins as a broadcast local relation of (q_id, dim) scalars."""
    q = df.sparkSession.createDataFrame(
        [(qid, d, v) for qid in sorted(qmap) for d, v in enumerate(qmap[qid])],
        "q_id long, sdim int, qval double",
    )
    diff = F.col("val") - F.col("qval")
    return (
        _explode(df, vec_col, id_col)
        .join(F.broadcast(pairs), id_col)
        .join(F.broadcast(q), ["q_id", "sdim"])
        .groupBy("q_id", id_col)
        .agg(F.round(F.sum(diff * diff), 6).alias("dist2"))
    )


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
    vectors are ever read — a broadcast of the (id-only) shortlist
    filtering the corpus, then one broadcast-query distance per row —
    so at 100 TB the exact stage touches 50 rows, not the corpus. The
    query row is collected once and serves both stages.
    """
    qvec = _query_vecs(df, [query_id], 1, vec_col, id_col)[query_id]
    short = _ivf_pq_search(
        df, query_id, qvec, n_cells, nprobe, m, k, n_iter, shortlist, vec_col,
        id_col, balanced, train_stride,
    )
    pairs = short.select(F.lit(query_id).cast("long").alias("q_id"), id_col)
    out = (
        _exact_dist2(df, pairs, {query_id: qvec}, vec_col, id_col)
        .select(id_col, "dist2")
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

    It is :func:`_pq_code` with one subspace — the plan
    :func:`kmeans_assign`'s final assignment runs — so coding a
    corpus against its OWN trained centroids reproduces the training
    assignment row-for-row (tests/test_index_maintenance.py). For a
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
    return _as_kmeans(
        _pq_code(_explode(df, vec_col, id_col), _codebook(centroids), id_col), id_col
    )


def pq_code_frozen(
    df: DataFrame,
    centroids: list[tuple[int, int, int, float]],
    m: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """PQ-code vectors against a FROZEN codebook — the PQ half of
    FAISS ``IndexIVFPQ.add()`` (see :func:`kmeans_code_frozen`).
    One coding scan (:func:`_pq_code`, the plan training's final
    assignment runs): broadcast m x k x d_sub codebook cells, one
    join + two aggregates, shuffle rows are (id, sub, code) scalars.
    Coding a corpus against its own trained codebook reproduces the
    training assignment row-for-row. Returns (id, sub, code, dist2)
    with ``centroids`` re-attached; nothing persisted."""
    d_sub = _subspace_dim(df, vec_col, m)
    return _pq_code(_explode(df, vec_col, id_col, d_sub), centroids, id_col)


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
    """The split-ratio nprobe correction for balanced IVF:
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
    stays constant after hot-list splitting — the nprobe sweep's
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

    Scale shape: the query matrix is collected once (Q bounded rows;
    FAISS's search(xq, k) holds it in memory too), and probes and LUTs
    are computed from it on the driver, so they stay broadcast-sized
    (Q x nprobe probe rows, Q x m x k LUT rows); candidates are a
    shuffle join of the code table against the (q_id, id) probe
    fan-out (scalars, fan-out <= Q x nprobe / n_cells per row). The
    per-query top-k is TWO-PHASE — a partial top-k inside each scan
    partition (row_number over (q_id, spark_partition_id()), a bounded
    superset that contains the true top-k under ANY partitioning)
    then the final rank over <= Q x partitions x topk survivors — so
    no single task ever sorts a whole query's candidate set (the
    batched twin of the TakeOrderedAndProject heap the single-query
    ORDER BY + LIMIT plan gets for free).
    """
    qmap = _query_vecs(df, query_ids, n_queries, vec_col, id_col)
    return _ivf_pq_batch_search(
        df, qmap, n_cells, nprobe, m, k, n_iter, topk, vec_col, id_col,
        balanced, train_stride, nprobe_scale_with_split, coarse_index, pq_index,
    )


def _ivf_pq_batch_search(
    df, qmap, n_cells, nprobe, m, k, n_iter, topk, vec_col, id_col, balanced,
    train_stride, nprobe_scale_with_split, coarse_index, pq_index,
) -> DataFrame:
    """:func:`ivf_pq_batch_topk` for a query matrix already on the
    driver."""
    from pyspark.sql import Window as W

    spark = df.sparkSession
    # balanced=True swaps in the hot-list-splitting quantizer — same
    # (id, cluster) + centroids contract, so the probe/candidate
    # pipeline is identical (registry defaults keep the plain
    # quantizer so plans stay byte-stable).
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
        for sub, code, lut_d in _adc_lut_rows(codes.centroids, qmap[q])
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
    bounded exact cost (the shortlist-knee sweep: hot queries are
    distortion-limited and recover under re-rank; cold tails are
    probe-limited and need nprobe, not shortlist).

    Returns (q_id, vec_id, dist2) ordered by (q_id, dist2, vec_id);
    per-query rows are EXACTLY ivf_pq_rerank_topk(query_id=q)
    (equivalence pinned in
    tests/test_pq.py::test_ivf_pq_batch_rerank_matches_single_query).
    ``query_ids`` overrides the lowest-id default with an explicit
    query set (see :func:`ivf_pq_batch_topk`); the recall sweeps use
    it to batch the skew twin's hot/cold samples through the full
    remedy stack.

    Scale shape: the exact stage's input is bounded by construction —
    Q x shortlist id pairs (broadcast) filter the exploded corpus, the
    query matrix (collected once, shared with the shortlist search)
    joins as Q x dim broadcast scalars, and the per-query rank windows
    over at most Q x shortlist surviving rows REGARDLESS of corpus
    size (no two-phase top-k needed here: unlike the ADC candidate
    set, the re-rank input cannot grow with the corpus), so the final
    output is partitioning-independent (pinned in tests/test_pq.py
    alongside the batch-search pin).

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

    qmap = _query_vecs(df, query_ids, n_queries, vec_col, id_col)
    short = _ivf_pq_batch_search(
        df, qmap, n_cells, nprobe, m, k, n_iter, shortlist, vec_col, id_col,
        balanced, train_stride, nprobe_scale_with_split, coarse_index, pq_index,
    )
    scored = _exact_dist2(df, short.select("q_id", id_col), qmap, vec_col, id_col)
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
    rows, computed on the driver like the probe.
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
    qvec = _query_vecs(df, [query_id], 1, vec_col, id_col)[query_id]
    cells = assign(
        df, n_cells, n_iter, vec_col=vec_col, id_col=id_col,
        train_stride=train_stride,
    )
    spark = df.sparkSession
    d_sub = len(qvec) // m
    by_c = _coarse_cells(cells.centroids)
    cent = spark.createDataFrame(
        [(c, d // d_sub, d % d_sub, v) for c, d, v in cells.centroids],
        "cluster int, sub int, sdim int, cval double",
    )
    # Residual subvectors: v - centroid(cell(v)), exact IEEE (cval is
    # the same 6-dp double on both engines; no extra rounding needed).
    # The (id, cluster) assignment is persisted because the residual
    # derivation and the final scoring join both read it; residuals
    # are re-derived from it rather than cached corpus x dim.
    cells_asg = cells.select(id_col, "cluster").persist()
    res = (
        _explode(df, vec_col, id_col, d_sub)
        .join(cells_asg, id_col)
        .join(F.broadcast(cent), ["cluster", "sub", "sdim"])
        .select(id_col, "sub", "sdim", (F.col("val") - F.col("cval")).alias("val"))
    )
    # A coarse training that ran on the driver hands over its sample:
    # each sampled row's residual is derived there too (its nearest
    # final cell by the same argmin, the same exact subtraction), so
    # the residual codebook trains from that one collect.
    sample = None
    if getattr(cells, "train_sample", None) is not None:
        sample = []
        for sid, vec in cells.train_sample:  # ascending id
            cv = by_c[_nearest(by_c, vec)[1]]
            sample.append((sid, [a - b for a, b in zip(vec, cv)]))
    codes = _quantize(res, k, n_iter, id_col, train_stride, m, sample=sample)

    # Probe, then one residual LUT per probed cell from the query's
    # residual q - c_cell (the same exact subtraction).
    lut_rows = [
        (c, sub, code, lut_d)
        for c in _probe_clusters(cells.centroids, qvec, nprobe)
        for sub, code, lut_d in _adc_lut_rows(
            codes.centroids, [a - b for a, b in zip(qvec, by_c[c])]
        )
    ]
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
    return hold(out, cells, cells_asg, codes)


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

    ``train_stride`` offers the TRAIN_CAP bounded-sample
    training to this clustering-OUTPUT operator behind a flag: the
    Lloyd iterations read only the md5-bucket hash sample while the
    final assignment and the pair stage still cover every vector —
    at 100 TB the per-iteration training scan was the operator's one
    remaining corpus-proportional stage besides the required final
    pass. Default 1 keeps full-corpus training (the
    registry entry's byte-stable plan); the capped trajectory stays
    DuckDB-replayable (tests/test_train_cap.py pins the stride-2
    SemDeDup replay), and the output-quality cost at 100x is
    measured by scripts/kmeans_cap_probe.py (inertia delta,
    optimally-matched assignment churn) + the paired scale_bench
    `kmeans_capped` control row.
    """
    assign = kmeans_assign(df, k, n_iter, vec_col, id_col,
                           train_stride=train_stride)
    # The final assignment feeds BOTH pair-join
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

"""Deterministic corpus sampling.

Random sampling (`df.sample`) is seed-stable within one Spark version
but opaque and partitioning-sensitive; training-data curation wants
sampling that is (a) reproducible across runs AND engines, (b)
per-stratum tunable, (c) expressible as a filter so it pushes into
scans. Hash-mod sampling delivers all three: keep a row iff
xxhash64(key) mod D < D * rate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import md5_hash64

_DENOM = 1_000_000


def hash_sample_predicate(key: Column, rate: float, seed: int = 0) -> Column:
    """Deterministic keep-predicate: stable for a given (key, seed),
    independent of partitioning and row order."""
    bucket = F.pmod(F.xxhash64(F.lit(seed), key), F.lit(_DENOM))
    return bucket < int(rate * _DENOM)


def md5_bucket(key: Column, seed: int = 0) -> Column:
    """Bucket in [0, _DENOM) from the first 8 hex chars of
    md5(seed:key). ~3x slower per row than xxhash64 but reproducible
    in ANY engine with md5 (DuckDB, Postgres, pandas/hashlib), which
    makes sampling decisions auditable outside Spark — use it when a
    cross-engine contract matters more than per-row cost."""
    return F.pmod(md5_hash64(F.lit(str(seed)), key), F.lit(_DENOM))


def split_corpus(
    df: DataFrame,
    key_col: str,
    weights: dict[str, float],
    seed: int = 0,
) -> DataFrame:
    """Deterministic train/val/test assignment: the md5 bucket of the
    key falls into consecutive ranges sized by ``weights`` (must sum
    to <= 1; any remainder is unassigned and dropped). Engine-
    reproducible (see :func:`md5_bucket`), stable under repartitioning
    and incremental arrival — a late-arriving document always lands in
    the same split, the property random splits lose on reruns.
    Adds a ``split`` column; one map-side expression, no shuffle.

    Interior boundaries use ``round(w * _DENOM)`` and, when the
    weights sum to 1, the last split's upper bound is pinned to
    ``_DENOM`` — so inexact weights (e.g. three 1/3 splits, whose
    truncated ranges would end at 999_999) cannot silently drop the
    top bucket: every row lands in exactly one split."""
    bucket = md5_bucket(F.col(key_col), seed)
    expr = None
    for name, lo, hi in split_bounds(weights):
        cond = (bucket >= lo) & (bucket < hi)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return df.withColumn("split", expr).filter(F.col("split").isNotNull())


def split_bounds(weights: dict[str, float]) -> list[tuple[str, int, int]]:
    """Consecutive half-open bucket ranges [lo, hi) for each split.
    Interior boundaries round (not truncate), and when the weights sum
    to 1 the final range's upper bound is pinned to ``_DENOM`` so
    inexact weights can't leave an uncovered top bucket."""
    total = sum(weights.values())
    if total > 1.0 + 1e-9:
        raise ValueError(f"weights sum to {total} > 1")
    bounds = []
    lo = 0
    items = list(weights.items())
    for i, (name, w) in enumerate(items):
        if i == len(items) - 1 and abs(total - 1.0) <= 1e-9:
            hi = _DENOM
        else:
            hi = lo + round(w * _DENOM)
        bounds.append((name, lo, hi))
        lo = hi
    return bounds


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    key_col: str,
    default_rate: float = 0.0,
    seed: int = 0,
    method: str = "xxhash64",
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. downweight a crawl
    source, keep all of a curated one). Rows in strata without an
    explicit rate get ``default_rate``. One map-side filter, no
    shuffle, no state.

    ``method``: 'xxhash64' (fastest, Spark-reproducible) or 'md5'
    (cross-engine reproducible — see :func:`md5_bucket`)."""
    rate_expr: Column = F.lit(float(default_rate))
    for value, rate in rates.items():
        rate_expr = F.when(F.col(strata_col) == value, float(rate)).otherwise(rate_expr)
    if method == "md5":
        bucket = md5_bucket(F.col(key_col), seed)
    elif method == "xxhash64":
        bucket = F.pmod(F.xxhash64(F.lit(seed), F.col(key_col)), F.lit(_DENOM))
    else:
        raise ValueError(f"unknown sampling method {method!r}")
    return df.filter(bucket < (rate_expr * _DENOM).cast("long"))


def priority_sample(
    df: DataFrame,
    weight_col: str,
    key_col: str,
    n: int,
    seed: int = 0,
    with_tau: bool = False,
) -> DataFrame:
    """Priority sampling in the style of Duffield, Lund & Thorup
    (JACM 2007): deterministic, weight-proportional selection without
    replacement. Each row gets priority q = w / u with u a
    hash-derived pseudo-uniform variate; the n largest priorities are
    kept — heavier rows are proportionally more likely to survive.

    What this function guarantees is weight-proportional SELECTION
    and cross-engine determinism. The paper's near-optimal subset-sum
    ESTIMATOR additionally needs the threshold tau, with each
    survivor weighted max(w, tau); pass ``with_tau=True`` to get both
    (``tau`` as a constant column and ``est_weight = max(w, tau)``
    per survivor). Because our u spans (0, 2) — see below — the
    weight-scale threshold is tau = 2 x the raw (n+1)-th priority:
    with u' = u/2 ~ U(0,1), q = (w/2)/u' is the textbook priority of
    half-weights, whose estimator Σ 2·max(w/2, tau') = Σ max(w, 2τ')
    is unbiased for sum(w). The default output omits tau/est_weight
    for a stable sample-only schema.

    Determinism is the point: u is derived from the md5 bucket of the
    key, and the priority is computed as ONE exact arithmetic shape —
    q = (w * 2^32) / (2*h + 1), i.e. integer-valued doubles in, a
    single correctly-rounded IEEE division out (no pow(), no ln()) —
    so ANY engine with md5 reproduces the kept set bit-for-bit. The
    implied u = (2h+1)/2^32 spans (0, 2) rather than the textbook
    (0, 1]; it is strictly order-equivalent for selection (a global
    factor-2 rescale of every priority), which is all selection and
    the tau-relative estimator need. The usual Efraimidis-Spirakis
    u^(1/w) key needs transcendentals whose last-ulp behavior is
    engine-specific; this construction is exactly portable.

    Plan shape: map-side priority expression + global top-n
    (TakeOrderedAndProject) — no shuffle beyond the top-n collect,
    scale-safe at any corpus size. The ``with_tau`` path adds one
    window over an (n+1)-row bounded frame — a documented
    tiny-domain global window.
    """
    from pyspark.sql import Window
    h = md5_hash64(F.lit(seed), F.col(key_col))
    pr = (F.col(weight_col).cast("double") * F.lit(4294967296.0)) / (
        2 * h + 1
    ).cast("double")
    ranked = df.withColumn("_pr", pr).orderBy(F.desc("_pr"), F.col(key_col))
    if not with_tau:
        return (
            ranked.limit(n)
            .withColumn("priority", F.round(F.col("_pr"), 6))
            .drop("_pr")
        )
    # Keep n+1 rows: the (n+1)-th priority IS tau; survivors are the
    # top n, each carrying est_weight = max(w, tau) (DLT estimator).
    top = ranked.limit(n + 1)
    w_all = Window.partitionBy(F.lit(1))
    w_rank = Window.partitionBy(F.lit(1)).orderBy(
        F.desc("_pr"), F.col(key_col)
    )
    return (
        top.withColumn("_rk", F.row_number().over(w_rank))
        .withColumn("_nrows", F.count(F.lit(1)).over(w_all))
        # tau = 2 x the (n+1)-th priority when it exists (weight-scale
        # threshold, compensating the (0,2) u-span); 0.0 when the
        # frame has <= n rows (every row kept, estimator exact)
        .withColumn(
            "_tau",
            F.coalesce(
                F.lit(2.0)
                * F.max(F.when(F.col("_rk") == n + 1, F.col("_pr"))).over(
                    w_all
                ),
                F.lit(0.0),
            ),
        )
        .filter(F.col("_rk") <= n)
        .withColumn("priority", F.round(F.col("_pr"), 6))
        .withColumn("tau", F.round(F.col("_tau"), 6))
        .withColumn(
            "est_weight",
            F.round(
                F.greatest(F.col(weight_col).cast("double"), F.col("_tau")), 6
            ),
        )
        .drop("_pr", "_rk", "_nrows", "_tau")
    )


def select_by_quality_budget(
    scored: DataFrame,
    budget: int,
    quality_col: str = "quality",
    weight_col: str = "n_tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Budget-bounded selection: walk documents best-quality-first
    (ties by ascending id) and keep every document whose running
    token total still fits within ``budget`` — the data-mixing step
    that assembles "the best N tokens" from a scored corpus.

    Semantically identical to the naive
    ``SUM(w) OVER (ORDER BY quality DESC, id) <= budget`` filter, but
    WITHOUT the single-partition global window that rule implies. Two
    phases instead:

    1. aggregate total weight per quality value (quality is a rounded
       grade, so this is a small groupBy); the driver orders the
       grades, prefix-sums them, and finds the cutoff grade where the
       budget is crossed — everything strictly better is kept whole,
       everything strictly worse is dropped whole;
    2. only documents AT the cutoff grade run a window — partitioned
       BY the grade, so the sort is one grade's documents, not the
       corpus.

    Because weights are positive the running total is monotone, so
    keep-while-it-fits is a prefix and the two phases compose exactly
    to the naive rule (asserted against the one-window form in
    tests). Returns (id, quality, weight, cum_weight) for kept rows.
    """
    from pyspark.sql import Window as W

    per_grade = (
        scored.groupBy(quality_col)
        .agg(F.sum(weight_col).alias("grade_weight"))
        .collect()
    )
    grades = sorted(per_grade, key=lambda r: -r[quality_col])
    running = 0
    offsets: list[tuple[float, int]] = []  # (grade, weight already spent)
    for g in grades:
        if running > budget:
            break  # monotone: nothing at or past this grade can fit
        offsets.append((float(g[quality_col]), int(running)))
        running += int(g["grade_weight"])
    if not offsets:
        return scored.select(
            F.col(id_col),
            F.col(quality_col),
            F.col(weight_col),
            F.lit(0).cast("long").alias("cum_weight"),
        ).limit(0)
    spark = scored.sparkSession
    off = spark.createDataFrame(
        offsets, f"{quality_col} double, grade_offset long"
    )
    w = (
        W.partitionBy(quality_col)
        .orderBy(id_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        scored.join(F.broadcast(off), quality_col)
        .withColumn(
            "cum_weight",
            (F.col("grade_offset") + F.sum(weight_col).over(w)).cast("long"),
        )
        .filter(F.col("cum_weight") <= budget)
        .select(id_col, quality_col, weight_col, "cum_weight")
    )

"""The one quantizer core of ``operators/clustering.py``.

- Boundary agreement: on dyadic vectors, whose sums are exact in any
  order, the driver's argmin (IVF probe, nearest cell, ADC lookup
  table) and the Spark coding plan pick the same cell and code, and the
  driver and Spark Lloyd loops train the same codebook, although the
  squared distances and the centroid means land on 6-dp half-way points
  and on ties between codewords.
- An empty training sample gives both quantizers an empty codebook.
- A search with an exact re-rank collects its query rows once.
- ``operators/trend.round6`` is Spark's ``round`` at any number of places,
  and the one place in the package that rounds HALF_UP.
"""

from __future__ import annotations

import hashlib
import itertools
import math
import os
from decimal import ROUND_HALF_UP, Decimal
from fractions import Fraction
from pathlib import Path

from pyspark.sql import functions as F

from optimized_climate_data_integration_with_real_time_llm_querying_spark.catalog import (
    load_table,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.lifecycle import (
    release,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators import (
    clustering as C,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.trend import (
    round6,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "optimized_climate_data_integration_with_real_time_llm_querying_spark"

U = 1 / 16
E = 2.0**-20
# k-means centroids. |C0|^2 = 1/128 + 2^-23 + 2^-40 and |C1|^2 =
# |C2|^2 = 1/128 = 0.0078125, a 6-dp half-way point: all three round
# HALF_UP to 0.007813, so from the origin the lowest id, 0, wins
# although 1 and 2 are nearer before rounding.
CENTROIDS = [
    (c, d, v)
    for c, vec in enumerate(
        [
            (-(U + E), -U, 0.0, 0.0),
            (U, U, 0.0, 0.0),
            (0.0, 0.0, U, U),
            (0.25, 0.0, 0.0, 0.0),
        ]
    )
    for d, v in enumerate(vec)
]
# A two-subspace codebook built the same way, per subspace.
CODEBOOK = [
    (code, sub, sdim, v)
    for sub, words in enumerate(
        [
            [(-(U + E), -U), (U, U), (U, -U), (0.25, 0.0)],
            [(0.25, 0.0), (U, U), (-U, U), (0.0, 0.0)],
        ]
    )
    for code, word in enumerate(words)
    for sdim, v in enumerate(word)
]
QUERIES = {
    0: (0.0, 0.0, 0.0, 0.0),  # the rounding tie above
    1: (U, 0.0, 0.0, U),  # cells 1 and 2 tie exactly on 1/128
    2: (U / 2, U / 2, U / 2, U / 2),  # cells 1 and 2 tie exactly on 1/256
    3: (0.25, 0.0, 0.0, U),  # plainly nearest to cell 3
}


def _half_up6(x: Fraction) -> Decimal:
    return (Decimal(x.numerator) / Decimal(x.denominator)).quantize(
        Decimal("1e-6"), rounding=ROUND_HALF_UP
    )


def _exact_d2(x, c) -> Fraction:
    return sum((Fraction(a) - Fraction(b)) ** 2 for a, b in zip(x, c))


def _is_half_way(x: Fraction) -> bool:
    return (x * 10**7).denominator == 1 and (x * 10**7).numerator % 10 == 5


def _expected(words: dict[int, list[float]], x) -> tuple[int, int]:
    """(code by HALF_UP then lowest id, code nearest before rounding)."""
    exact = {c: _exact_d2(x, w) for c, w in words.items()}
    return (
        min(words, key=lambda c: (_half_up6(exact[c]), c)),
        min(words, key=lambda c: (exact[c], c)),
    )


def _frame(spark, rows):
    return spark.createDataFrame(
        [(i, [float(v) for v in vec]) for i, vec in sorted(rows.items())],
        "vec_id long, embedding array<double>",
    )


def test_driver_argmin_matches_coding_plan_on_boundaries(spark):
    words = C._coarse_cells(CENTROIDS)
    expected = {q: _expected(words, x)[0] for q, x in QUERIES.items()}
    # The cases are the ones named above: a half-way distance, a tie
    # made by rounding that the raw argmin decides the other way, and
    # exact ties.
    assert _is_half_way(_exact_d2(QUERIES[0], words[1]))
    assert _expected(words, QUERIES[0]) == (0, 1)
    tie = [_exact_d2(QUERIES[1], words[c]) for c in (1, 2)]
    assert tie == [Fraction(1, 128)] * 2
    assert expected == {0: 0, 1: 1, 2: 1, 3: 3}

    coded = C.kmeans_code_frozen(_frame(spark, QUERIES), CENTROIDS)
    spark_rows = {r.vec_id: (r.cluster, r.dist2) for r in coded.collect()}
    for q, x in QUERIES.items():
        d2, nearest = C._nearest(words, list(x))
        assert C._probe_clusters(CENTROIDS, list(x), 1) == [nearest] == [expected[q]]
        assert spark_rows[q] == (nearest, d2)

    cells = C._cells(CODEBOOK)
    coded = C.pq_code_frozen(_frame(spark, QUERIES), CODEBOOK, m=2)
    spark_codes = {(r.vec_id, r.sub): (r.code, r.dist2) for r in coded.collect()}
    assert _expected(cells[0], QUERIES[0][:2]) == (0, 1)
    for q, x in QUERIES.items():
        lut = C._adc_lut_rows(CODEBOOK, list(x))
        for sub in (0, 1):
            part = x[2 * sub:2 * sub + 2]
            d2, code = min((d, c) for s, c, d in lut if s == sub)
            assert C._nearest(cells[sub], list(part)) == (d2, code)
            assert code == _expected(cells[sub], part)[0]
            assert spark_codes[(q, sub)] == (code, d2)


# Lloyd rows in units of 1/64, seeds first. From the seeds (rows 0 and
# 1, on the 6-dp grid) rows 2 and 3 lie at exactly 1/128 from both, and
# rows 5 and 6 at 1/128 from seed 1; each cluster's first mean has
# components +-1/128 and 21/128, half-way points that round away from
# zero.
LLOYD_ROWS = {
    i: tuple(v / 64 for v in vec)
    for i, vec in enumerate(
        [
            (0, 0, 0, 0), (8, 0, 0, 0), (4, 4, 0, 0), (4, -4, 0, 0),
            (-6, 0, 2, -2), (12, 4, 0, 0), (12, -4, 0, 0), (10, 0, -2, 2),
        ]
    )
}


def test_driver_and_spark_lloyd_train_the_same_codebook(spark):
    seeds = [LLOYD_ROWS[0], LLOYD_ROWS[1]]
    assert all(
        _exact_d2(LLOYD_ROWS[i], s) == Fraction(1, 128) for i in (2, 3) for s in seeds
    )
    first_mean = [
        sum(Fraction(LLOYD_ROWS[i][d]) for i in (0, 2, 3, 4)) / 4 for d in range(4)
    ]
    assert [_is_half_way(abs(v)) for v in first_mean] == [True, False, True, True]

    rows = sorted((i, list(v)) for i, v in LLOYD_ROWS.items())
    df = _frame(spark, LLOYD_ROWS)
    km = C.kmeans_assign(df, k=2, n_iter=2)
    pq = C.pq_assign(df, m=2, k=2, n_iter=2)
    try:
        driver_km = C._pq_lloyd_driver(rows, 2, 2, 1)
        assert km.centroids == [(c, d, v) for c, _, d, v in driver_km]
        assert pq.centroids == C._pq_lloyd_driver(rows, 2, 2, 2)
    finally:
        release(km)
        release(pq)


def _md5_bucket(i: int) -> int:
    return int(hashlib.md5(f"tcap:{i}".encode()).hexdigest()[:8], 16)


def test_empty_training_sample_gives_empty_codebook(spark):
    ids = range(3)
    stride = next(s for s in itertools.count(2) if all(_md5_bucket(i) % s for i in ids))
    df = _frame(spark, {i: LLOYD_ROWS[i] for i in ids})
    km = C.kmeans_assign(df, k=2, n_iter=2, train_stride=stride)
    pq = C.pq_assign(df, m=2, k=2, n_iter=2, train_stride=stride)
    assert km.train_sample == []
    assert (km.centroids, km.collect()) == ([], [])
    assert (pq.centroids, pq.collect()) == ([], [])
    assert release(km) == [] and release(pq) == []


def _jobs(spark, label, build) -> int:
    """Spark jobs the calling thread runs while ``build`` builds its
    result (the query collect and any other driver-side action)."""
    sc = spark.sparkContext
    group = f"test-quantizer-core-{label}"
    sc.setJobGroup(group, label)
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    release(out)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_rerank_search_collects_queries_once(spark, sf_small):
    emb = load_table(spark, sf_small, "embeddings", rebalance=True)
    # The re-rank search runs the shortlist search's jobs and no more.
    single = _jobs(spark, "single", lambda: C.ivf_pq_topk(emb, topk=20))
    rerank = _jobs(spark, "rerank", lambda: C.ivf_pq_rerank_topk(emb, shortlist=20))
    assert rerank == single
    batch = _jobs(
        spark, "batch", lambda: C.ivf_pq_batch_topk(emb, n_queries=3, topk=20)
    )
    batch_rerank = _jobs(
        spark,
        "batch-rerank",
        lambda: C.ivf_pq_batch_rerank_topk(emb, n_queries=3, shortlist=20),
    )
    assert batch_rerank == batch


def test_round6_places_is_spark_round(spark):
    """``round6(x, places)`` is Spark's ``round(x, places)``, sign of
    zero included, on half-way points and on negatives that round to
    zero."""
    values = [0.5, -0.5, 1.25, -1.25, 2.5, 0.0000005, -0.0000005, -1e-9, 0.05, 7.0]
    df = spark.createDataFrame([(v,) for v in values], "v double")
    for places in (0, 1, 6):
        got = [r[0] for r in df.select(F.round("v", places)).collect()]
        want = [round6(v, places) for v in values]
        assert [(g, math.copysign(1, g)) for g in got] == [
            (w, math.copysign(1, w)) for w in want
        ]


def test_only_trend_rounds_half_up():
    """One Python twin of Spark's HALF_UP ``round``: every other
    package module calls ``trend.round6``."""
    exempt = os.path.join(ROOT, PKG, "operators", "trend.py")
    offenders = [
        f"{os.path.relpath(p, ROOT)}:{n}"
        for p in sorted(Path(ROOT, PKG).rglob("*.py"))
        if str(p) != exempt
        for n, line in enumerate(p.read_text(encoding="utf-8").splitlines(), 1)
        if "ROUND_HALF_UP" in line
    ]
    assert offenders == []

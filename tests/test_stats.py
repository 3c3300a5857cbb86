"""Brute-force verification of the statistical queries
(queries/stats.py): each statistic is recomputed independently in
Python from the same data, plus plan shape checks.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from optimized_climate_data_integration_with_real_time_llm_querying_spark.queries import (
    all_queries,
)

from conftest import collect_released

QUERIES = all_queries()


def test_chi2_brute_force(spark, sf_small):
    docs = spark.read.parquet(f"{sf_small}/documents.parquet").collect()
    obs = Counter((d.lang, d.source) for d in docs)
    r = Counter(d.lang for d in docs)
    c = Counter(d.source for d in docs)
    n = len(docs)
    chi2 = 0.0
    for (lang, src), o in sorted(obs.items()):
        e = r[lang] * c[src] / n
        chi2 += round((o - e) ** 2 / e, 6)
    rows = QUERIES["chi2_lang_source"].builder(spark, sf_small).collect()
    assert len(rows) == len(obs)
    dof = (len(r) - 1) * (len(c) - 1)
    for row in rows:
        o = obs[(row.lang, row.source)]
        e = r[row.lang] * c[row.source] / n
        assert row.observed == o
        assert abs(row.expected - round(e, 6)) < 1e-9
        assert abs(row.contrib - round((o - e) ** 2 / e, 6)) < 1e-9
        assert abs(row.chi2_total - round(chi2, 4)) < 1e-6
        assert row.dof == dof


def test_ols_brute_force(spark, sf_small):
    orders = spark.read.parquet(f"{sf_small}/orders.parquet").collect()
    li = spark.read.parquet(f"{sf_small}/lineitem.parquet").collect()
    n_items = Counter(r.l_orderkey for r in li)
    pts = defaultdict(list)
    for o in orders:
        if o.o_orderkey in n_items:
            # floor(p + 0.5): HALF-UP like Spark/DuckDB ROUND — Python's
            # round() is banker's and disagrees on exact x.50 prices.
            pts[o.o_orderpriority].append(
                (n_items[o.o_orderkey], math.floor(o.o_totalprice + 0.5))
            )
    rows = {
        r.o_orderpriority: r
        for r in QUERIES["ols_order_size_price"].builder(spark, sf_small).collect()
    }
    assert set(rows) == set(pts)
    for prio, xy in pts.items():
        n = len(xy)
        sx = sum(x for x, _ in xy)
        sy = sum(y for _, y in xy)
        sxy = sum(x * y for x, y in xy)
        sxx = sum(x * x for x, _ in xy)
        syy = sum(y * y for _, y in xy)
        slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        r2 = (n * sxy - sx * sy) ** 2 / ((n * sxx - sx * sx) * (n * syy - sy * sy))
        got = rows[prio]
        assert got.n == n
        assert abs(got.slope - round(slope, 6)) < 1e-9
        assert abs(got.r2 - round(r2, 6)) < 1e-9
        assert 0.0 <= got.r2 <= 1.0


def test_moments_brute_force(spark, sf_small):
    li = spark.read.parquet(f"{sf_small}/lineitem.parquet").collect()
    per_flag = defaultdict(list)
    for r in li:
        per_flag[r.l_returnflag].append(int(r.l_quantity))
    rows = {
        r.l_returnflag: r
        for r in QUERIES["quantity_moments"].builder(spark, sf_small).collect()
    }
    assert set(rows) == set(per_flag)
    for flag, qs in per_flag.items():
        n = len(qs)
        mean = sum(qs) / n
        var = sum(q * q for q in qs) / n - mean * mean
        m3 = (
            sum(q**3 for q in qs) / n
            - 3 * mean * (sum(q * q for q in qs) / n)
            + 2 * mean**3
        )
        skew = m3 / (var * math.sqrt(var))
        got = rows[flag]
        assert got.n == n
        assert abs(got.mean_qty - round(mean, 6)) < 1e-9
        assert abs(got.var_qty - round(var, 6)) < 1e-9
        assert abs(got.skewness - round(skew, 6)) < 1e-6


def test_frequent_triples_brute_force(spark, sf_small):
    li = (
        spark.read.parquet(f"{sf_small}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    )
    baskets = defaultdict(set)
    for r in li:
        baskets[r.l_orderkey].add(r.l_partkey)
    pair_sup = Counter()
    for parts in baskets.values():
        ps = sorted(parts)
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                pair_sup[(ps[i], ps[j])] += 1
    l2 = {p for p, s in pair_sup.items() if s >= 2}
    adj = defaultdict(set)
    for a, b in l2:
        adj[a].add(b)
    cands = {
        (a, b, c) for a, b in l2 for c in adj[b] if (a, c) in l2
    }
    expected = {}
    for a, b, c in cands:
        s = sum(
            1 for parts in baskets.values() if a in parts and b in parts and c in parts
        )
        if s >= 2:
            expected[(a, b, c)] = s
    got = {
        (r.a, r.b, r.c): r.support
        for r in collect_released(QUERIES["frequent_triples"].builder(spark, sf_small))
    }
    assert got == expected
    # Antimonotonicity: every frequent triple's sub-pairs are frequent.
    for a, b, c in got:
        assert (a, b) in l2 and (b, c) in l2 and (a, c) in l2


def test_stats_plan_shapes(spark, sf_oracle):
    for name in ("ols_order_size_price", "quantity_moments"):
        df = QUERIES[name].builder(spark, sf_oracle)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "partial_sum" in plan or "partial_count" in plan, name
        assert "CartesianProduct" not in plan, name

"""Semantic invariants + plan shapes for the warehouse / lakehouse
maintenance queries (queries/warehouse.py). The DuckDB parity suite
proves cross-engine equality; these tests prove the SEMANTICS are the
intended ones (dominance, merge rules, sweep-line conservation,
decomposition identity) via independent brute-force recomputation,
and pin the scale-critical plan shapes.
"""

from __future__ import annotations

import re
from collections import Counter, defaultdict
from datetime import timedelta

from optimized_climate_data_integration_with_real_time_llm_querying_spark.lifecycle import (
    release,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.queries import (
    all_queries,
)

from conftest import collect_released

QUERIES = all_queries()


def _plan(spark, sf, name):
    df = QUERIES[name].builder(spark, sf)
    return df._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------- dq


def test_dq_report_clean_data_passes(spark, sf_small):
    rows = {
        r.constraint_name: r
        for r in QUERIES["dq_constraint_report"].builder(spark, sf_small).collect()
    }
    assert set(rows) == {
        "completeness_o_custkey",
        "uniqueness_o_orderkey",
        "range_o_totalprice_nonneg",
        "domain_o_orderstatus",
        "referential_o_custkey",
    }
    # The generated testdata is clean: every constraint holds exactly.
    for r in rows.values():
        assert r.metric == 1.0 and r.passed == 1, r


def test_dq_report_catches_injected_violations(spark, sf_small, tmp_path):
    # Copy orders, break two constraints, point the query at the copy.
    o = spark.read.parquet(f"{sf_small}/orders.parquet")
    bad = o.limit(50).selectExpr(
        "o_orderkey",
        "CAST(NULL AS BIGINT) AS o_custkey",  # kills completeness+referential
        "'X' AS o_orderstatus",  # kills domain
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    )
    o.select(*bad.columns).union(bad).write.parquet(f"{tmp_path}/orders.parquet")
    spark.read.parquet(f"{sf_small}/customer.parquet").write.parquet(
        f"{tmp_path}/customer.parquet"
    )
    rows = {
        r.constraint_name: r
        for r in QUERIES["dq_constraint_report"].builder(spark, str(tmp_path)).collect()
    }
    assert rows["completeness_o_custkey"].passed == 0
    assert rows["domain_o_orderstatus"].passed == 0
    assert rows["referential_o_custkey"].passed == 0
    assert rows["uniqueness_o_orderkey"].passed == 0  # duplicated 50 keys
    assert rows["range_o_totalprice_nonneg"].passed == 1


def test_dq_single_violation_below_rounding_grain_still_fails(
    spark, sf_oracle, tmp_path
):
    """passed is judged on the EXACT counts, not the 6-dp display
    metric: ONE duplicated o_orderkey must fail uniqueness even when
    the violation rate is far below the 5e-7 rounding grain (here the
    metric still PRINTS 1.0 when rows > 2M; at sf0.01 it prints
    0.999933 — either way the judgment must come from the counts)."""
    o = spark.read.parquet(f"{sf_oracle}/orders.parquet")
    dup = o.limit(1)
    o.union(dup).write.parquet(f"{tmp_path}/orders.parquet")
    spark.read.parquet(f"{sf_oracle}/customer.parquet").write.parquet(
        f"{tmp_path}/customer.parquet"
    )
    rows = {
        r.constraint_name: r
        for r in QUERIES["dq_constraint_report"].builder(spark, str(tmp_path)).collect()
    }
    assert rows["uniqueness_o_orderkey"].passed == 0
    # every other constraint still holds on the duplicated clean row
    for name in (
        "completeness_o_custkey",
        "range_o_totalprice_nonneg",
        "domain_o_orderstatus",
        "referential_o_custkey",
    ):
        assert rows[name].passed == 1, name


# --------------------------------------------------------------- cdc


def test_cdc_merge_semantics(spark, sf_small):
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.sampling import (
        md5_bucket,
    )
    from pyspark.sql import functions as F

    o = spark.read.parquet(f"{sf_small}/orders.parquet")
    tagged = {
        r.o_orderkey: (r.b, round(r.o_totalprice * 100))
        for r in o.select(
            "o_orderkey",
            "o_totalprice",
            (md5_bucket(F.col("o_orderkey"), seed=7) % 5).alias("b"),
        ).collect()
    }
    out = {
        r.o_orderkey: r
        for r in QUERIES["cdc_snapshot_merge"].builder(spark, sf_small).collect()
    }
    n_by_bucket = Counter(b for b, _ in tagged.values())
    # Deletes (b=3) are gone; everything else is present exactly once.
    expected_keys = {k for k, (b, _) in tagged.items() if b != 3}
    assert set(out) == expected_keys
    for k, (b, cents) in tagged.items():
        if b == 3:
            continue
        r = out[k]
        if b == 0:
            assert r.version == "inserted" and round(r.price * 100) == cents
        elif b == 1:
            assert r.version == "updated"
            assert round(r.price * 100) == (cents * 110) // 100
        elif b == 2:  # two updates; seq 2 (x1.2) wins
            assert r.version == "updated"
            assert round(r.price * 100) == (cents * 120) // 100
        else:
            assert r.version == "unchanged" and round(r.price * 100) == cents
    assert len(out) == sum(v for b, v in n_by_bucket.items() if b != 3)


def test_cdc_merge_single_key_exchange_per_side(spark, sf_oracle):
    # The change-collapse window and the merge join share the
    # o_orderkey partitioning: no third exchange appears.
    plan = _plan(spark, sf_oracle, "cdc_snapshot_merge")
    assert len(re.findall(r"Exchange hashpartitioning\(o_orderkey", plan)) <= 2


# ------------------------------------------------------- concurrency


def test_open_orders_concurrency_brute_force(spark, sf_small):
    o = spark.read.parquet(f"{sf_small}/orders.parquet").collect()
    day_delta = defaultdict(int)
    for r in o:
        start = r.o_orderdate.date()
        day_delta[start] += 1
        day_delta[start + timedelta(days=r.o_orderkey % 7 + 1)] -= 1
    days = sorted(day_delta)
    acc, expected = 0, {}
    for d in days:
        acc += day_delta[d]
        expected[d] = acc
    got = {
        r.day: r.open_orders
        for r in QUERIES["open_orders_concurrency"].builder(spark, sf_small).collect()
    }
    assert got == expected
    assert expected[days[-1]] == 0  # every order eventually closes
    assert max(expected.values()) > 0


def test_open_orders_window_runs_on_preaggregate(spark, sf_oracle):
    # The single-partition cumulative window must consume the per-day
    # AGGREGATE (calendar-domain-sized), not the raw fact rows: the
    # plan has a two-phase day aggregate BEFORE the SinglePartition
    # exchange feeding the window.
    plan = _plan(spark, sf_oracle, "open_orders_concurrency")
    single = plan.index("Exchange SinglePartition")
    assert "HashAggregate" in plan[single:], "window input must be the day aggregate"
    assert re.search(r"partial_sum", plan), "day aggregate must be two-phase"


# ------------------------------------------------------------ pareto


def test_pareto_frontier_matches_brute_force(spark, sf_small):
    parts = [
        (r.p_partkey, round(r.p_retailprice * 100), r.p_size)
        for r in spark.read.parquet(f"{sf_small}/part.parquet").collect()
    ]
    def dominated(p):
        return any(
            q[1] <= p[1] and q[2] >= p[2] and (q[1] < p[1] or q[2] > p[2])
            for q in parts
        )
    expected = {p[0] for p in parts if not dominated(p)}
    got = {
        r.p_partkey
        for r in QUERIES["pareto_frontier_parts"].builder(spark, sf_small).collect()
    }
    assert got == expected and got


def test_pareto_no_cartesian(spark, sf_oracle):
    plan = _plan(spark, sf_oracle, "pareto_frontier_parts")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # The carry-in join is a broadcast of the tiny band table.
    assert "BroadcastHashJoin" in plan


# ---------------------------------------------------------- seasonal


def test_seasonal_decomposition_identity(spark, sf_small):
    rows = QUERIES["seasonal_decompose_daily"].builder(spark, sf_small).collect()
    assert rows
    by_type = defaultdict(list)
    for r in rows:
        by_type[r.event_type].append(r)
    for rs in by_type.values():
        rs.sort(key=lambda r: r.day)
        # Trend defined exactly where a full 7-day frame exists.
        for i, r in enumerate(rs):
            has_frame = 3 <= i < len(rs) - 3
            assert (r.trend is not None) == has_frame, (r.day, i, len(rs))
            if r.trend is not None:
                # cnt == trend + seasonal + remainder up to the 4-dp rounding.
                assert abs(r.cnt - (r.trend + r.seasonal + r.remainder)) < 2e-4
        # dow is Sunday=0..Saturday=6.
        for r in rs:
            assert r.dow == (r.day.weekday() + 1) % 7


# ----------------------------------------------------------- triangles


def test_triangles_brute_force(spark, sf_small):
    li = (
        spark.read.parquet(f"{sf_small}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    )
    baskets = defaultdict(set)
    for r in li:
        baskets[r.l_orderkey].add(r.l_partkey)
    pair_support = Counter()
    for parts in baskets.values():
        ps = sorted(parts)
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                pair_support[(ps[i], ps[j])] += 1
    edges = {p for p, c in pair_support.items() if c >= 2}
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
    expected = {
        (a, b, c)
        for a, b in edges
        for c in adj[b]
        if c in adj[a]
    }
    got = {
        (r.a, r.b, r.c)
        for r in collect_released(
            QUERIES["copurchase_triangles"].builder(spark, sf_small)
        )
    }
    assert got == expected
    for a, b, c in got:
        assert a < b < c


# ----------------------------------------------------------- skew/topk


def test_join_skew_audit_values(spark, sf_small):
    li = spark.read.parquet(f"{sf_small}/lineitem.parquet").collect()
    counts = Counter(r.l_suppkey for r in li)
    row = {
        r.key_col: r
        for r in QUERIES["join_skew_audit"].builder(spark, sf_small).collect()
    }["l_suppkey"]
    assert row.n_keys == len(counts)
    assert row.total == len(li)
    assert row.max_cnt == max(counts.values())
    top10 = sum(
        c for _, c in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    )
    assert abs(row.top10_share - round(top10 / len(li), 6)) < 1e-9


def test_diversified_topk_quota_and_optimality(spark, sf_small):
    docs = spark.read.parquet(f"{sf_small}/documents.parquet").collect()
    got = QUERIES["diversified_topk_docs"].builder(spark, sf_small).collect()
    assert len(got) == min(10, len(docs))
    per_src = Counter(r.source for r in got)
    assert all(v <= 2 for v in per_src.values())
    # Expected: per-source top-2 by (n_chars desc, doc_id), then global top-10.
    by_src = defaultdict(list)
    for d in docs:
        by_src[d.source].append(d)
    pool = []
    for src, ds in by_src.items():
        ds.sort(key=lambda d: (-d.n_chars, d.doc_id))
        pool.extend(ds[:2])
    pool.sort(key=lambda d: (-d.n_chars, d.doc_id))
    assert {r.doc_id for r in got} == {d.doc_id for d in pool[:10]}


def test_skew_audit_and_topk_plans(spark, sf_oracle):
    plan = _plan(spark, sf_oracle, "join_skew_audit")
    assert "TakeOrderedAndProject" in plan  # top-10 keys stay a heap
    plan = _plan(spark, sf_oracle, "diversified_topk_docs")
    # Catalyst's best shape and the one we pin: the per-source quota
    # becomes a partial+final WindowGroupLimit (each map task keeps 2
    # rows per source BEFORE the shuffle), and the global rank over
    # the quota survivors is a TakeOrderedAndProject heap — no
    # SinglePartition exchange anywhere in the plan.
    assert "WindowGroupLimit" in plan and "Partial" in plan and "Final" in plan
    assert "TakeOrderedAndProject(limit=10" in plan
    assert "Exchange SinglePartition" not in plan
    assert "Exchange hashpartitioning(source" in plan


# ------------------------------------------------------------ wave 5


def test_small_qty_below_avg_brute_force(spark, sf_small):
    li = spark.read.parquet(f"{sf_small}/lineitem.parquet").collect()
    parts = {
        r.p_partkey
        for r in spark.read.parquet(f"{sf_small}/part.parquet").collect()
        if r.p_brand == "Brand#12"
    }
    per_part = defaultdict(list)
    for r in li:
        if r.l_partkey in parts:
            per_part[r.l_partkey].append(r)
    expected = {}
    for pk, rs in per_part.items():
        avg = sum(int(r.l_quantity) for r in rs) / len(rs)
        small = [r for r in rs if r.l_quantity < 0.5 * avg]
        if small:
            cents = sum(round(r.l_extendedprice * 100) for r in small)
            expected[pk] = (len(small), round(cents / 100.0, 2))
    got = {
        r.p_partkey: (r.n_small, r.small_revenue)
        for r in QUERIES["small_qty_below_avg"].builder(spark, sf_small).collect()
    }
    assert got == expected and got


def test_small_qty_plan_decorrelated(spark, sf_oracle):
    plan = _plan(spark, sf_oracle, "small_qty_below_avg")
    # The brand dim broadcasts; the per-part average is a two-phase
    # aggregate joined back — one decorrelated pass, no per-row scan.
    assert "BroadcastHashJoin" in plan
    assert re.search(r"partial_sum|partial_count", plan)


def test_gini_properties_and_brute_force(spark, sf_small):
    cust = spark.read.parquet(f"{sf_small}/customer.parquet").collect()
    orders = spark.read.parquet(f"{sf_small}/orders.parquet").collect()
    nations = {
        r.n_nationkey: r.n_name
        for r in spark.read.parquet(f"{sf_small}/nation.parquet").collect()
    }
    rev = {c.c_custkey: 0 for c in cust}
    for o in orders:
        if o.o_custkey in rev:
            rev[o.o_custkey] += round(o.o_totalprice * 100)
    by_nation = defaultdict(list)
    for c in cust:
        by_nation[nations[c.c_nationkey]].append((rev[c.c_custkey], c.c_custkey))
    got = {
        r.n_name: r
        for r in QUERIES["customer_revenue_gini"].builder(spark, sf_small).collect()
    }
    assert set(got) == {n for n, cs in by_nation.items() if cs}
    for name, cs in by_nation.items():
        if not cs:
            continue
        cs.sort()
        n = len(cs)
        sx = sum(x for x, _ in cs)
        sixi = sum((i + 1) * x for i, (x, _) in enumerate(cs))
        gini = (2.0 * sixi) / (n * float(sx)) - (n + 1.0) / n
        r = got[name]
        assert r.n_customers == n
        assert abs(r.gini - round(gini, 6)) < 1e-9
        assert 0.0 <= r.gini < 1.0


def test_user_lifecycle_brute_force(spark, sf_small):
    events = spark.read.parquet(f"{sf_small}/events.parquet")
    rows = events.selectExpr(
        "user_id", "event_type", "ts", "event_id"
    ).collect()
    per_user = defaultdict(list)
    for r in rows:
        per_user[r.user_id].append(r)
    got = {
        r.user_id: r
        for r in QUERIES["user_lifecycle_summary"].builder(spark, sf_small).collect()
    }
    assert set(got) == set(per_user)
    for uid, rs in per_user.items():
        rs.sort(key=lambda r: (r.ts, r.event_id))
        g = got[uid]
        assert g.first_event == rs[0].event_type
        assert g.last_event == rs[-1].event_type
        assert g.second_event == (rs[1].event_type if len(rs) > 1 else None)
        assert g.n_events == len(rs)
        assert g.first_day == rs[0].ts.date() and g.last_day == rs[-1].ts.date()


# ------------------------------------------------------------ wave 6


def test_hop_distance_brute_force(spark, sf_small):
    li = (
        spark.read.parquet(f"{sf_small}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    )
    baskets = defaultdict(set)
    for r in li:
        baskets[r.l_orderkey].add(r.l_partkey)
    support = Counter()
    for parts in baskets.values():
        ps = sorted(parts)
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                support[(ps[i], ps[j])] += 1
    adj = defaultdict(set)
    for (a, b), cnt in support.items():
        if cnt >= 2:
            adj[a].add(b)
            adj[b].add(a)
    src = min(min(a, b) for (a, b), cnt in support.items() if cnt >= 2)
    dist = {src: 0}
    frontier = {src}
    for hop in (1, 2, 3):
        frontier = {
            n for f in frontier for n in adj[f] if n not in dist
        }
        for n in frontier:
            dist[n] = hop
    got = {
        r.node: r.hop
        for r in collect_released(
            QUERIES["copurchase_hop_distance"].builder(spark, sf_small)
        )
    }
    assert got == dist
    assert got[src] == 0


def test_maintenance_end_to_end_reconciles(spark, sf_small):
    rows = collect_released(QUERIES["maintenance_end_to_end"].builder(spark, sf_small))
    assert rows and len(rows) == 10
    for r in rows:
        assert r.incr_minus_direct == 0, r
        assert r.n_rows > 0 and r.total_price > 0


def test_null_ordering_brute_force(spark, sf_small):
    ev = spark.read.parquet(f"{sf_small}/events.parquet").collect()
    per_user = defaultdict(list)
    for r in ev:
        v = None if r.event_type == "view" else r.value
        per_user[r.user_id].append((v, r.event_id))
    got = defaultdict(dict)
    for r in (
        QUERIES["null_ordering_ranks"].builder(spark, sf_small).collect()
    ):
        got[r.user_id][r.event_id] = (r.rnk_desc, r.rnk_asc)
    NEG = float("-inf")
    POS = float("inf")
    for uid, vs in per_user.items():
        desc = sorted(vs, key=lambda t: (-(t[0] if t[0] is not None else NEG), t[1]))
        asc = sorted(vs, key=lambda t: ((t[0] if t[0] is not None else NEG), t[1]))
        # DESC NULLS LAST: nulls sort as -inf under negated key -> last.
        for i, (_, eid) in enumerate(desc, 1):
            assert got[uid][eid][0] == i
        # ASC NULLS FIRST: nulls as -inf -> first.
        for i, (_, eid) in enumerate(asc, 1):
            assert got[uid][eid][1] == i


# ------------------------------------------------------------ wave 7


def test_bloom_audit_brute_force(spark, sf_small):
    import hashlib

    BITS, WPB, K = 4092, 62, 3
    cust = spark.read.parquet(f"{sf_small}/customer.parquet").collect()
    orders = spark.read.parquet(f"{sf_small}/orders.parquet").collect()
    keys = {c.c_custkey for c in cust if c.c_mktsegment == "AUTOMOBILE"}

    def positions(key):
        return [
            int(hashlib.md5(f"{j}:{key}".encode()).hexdigest()[:8], 16) % BITS
            for j in range(1, K + 1)
        ]

    bloom = set()
    for k in keys:
        bloom.update(positions(k))
    n_cand = n_fp = n_mem = 0
    for o in orders:
        cand = all(p in bloom for p in positions(o.o_custkey))
        member = o.o_custkey in keys
        n_cand += cand
        n_mem += member
        n_fp += cand and not member
        # No false negatives, ever — the Bloom guarantee.
        if member:
            assert cand
    row = QUERIES["bloom_semi_join_audit"].builder(spark, sf_small).collect()[0]
    assert row.n_keys == len(keys)
    assert row.n_probe == len(orders)
    assert row.n_candidates == n_cand
    assert row.n_members == n_mem
    assert row.n_false_pos == n_fp
    assert row.n_candidates >= row.n_members
    assert row.fp_rate is None or row.fp_rate < 0.05


def test_bloom_bitmap_broadcasts(spark, sf_oracle):
    plan = _plan(spark, sf_oracle, "bloom_semi_join_audit")
    # The 66-row bitmap reaches the probe side as a broadcast — the
    # probe-side fact never shuffles for the filter step.
    assert "BroadcastHashJoin" in plan


# ------------------------------------------- late plan-shape pins


def test_span_removal_hashes_grams_at_source(spark, sf_oracle):
    # The 50-gram text never shuffles: the gram frame carries only
    # the 8-byte md5-derived key (+ ids/positions) into the dup
    # aggregation, and no cartesian appears anywhere.
    plan = _plan(spark, sf_oracle, "duplicate_span_removal")
    assert "CartesianProduct" not in plan
    assert "conv" in plan or "md5" in plan  # hash computed in the scan stage


def test_gini_broadcasts_nation_dim(spark, sf_oracle):
    plan = _plan(spark, sf_oracle, "customer_revenue_gini")
    assert "BroadcastHashJoin" in plan
    # The rank window partitions by nation — no global ordering.
    assert "Exchange SinglePartition" not in plan


def test_seasonal_windows_run_on_preaggregate(spark, sf_oracle):
    # Both window families consume the per-(type, day) AGGREGATE;
    # the raw events frame feeds exactly one partial+final count.
    plan = _plan(spark, sf_oracle, "seasonal_decompose_daily")
    assert len(re.findall(r"partial_count", plan)) >= 1
    assert "CartesianProduct" not in plan


def test_triples_and_hop_reuse_edges(spark, sf_oracle):
    # Both graph queries sparsify edges with the support>=2 aggregate
    # BEFORE their joins; neither plans a cartesian.
    for name in ("frequent_triples", "copurchase_hop_distance"):
        df = QUERIES[name].builder(spark, sf_oracle)
        plan = df._jdf.queryExecution().executedPlan().toString()
        release(df)
        assert "CartesianProduct" not in plan, name


def test_pareto_random_points_with_ties(spark, tmp_path):
    """Adversarial skyline check: random points drawn from a TINY grid
    so equal-price ties, equal-size ties, and exact duplicates are
    frequent — the cases where banded carry-in windows are easiest to
    get wrong. Verified against the quadratic definition."""
    import random

    for seed in (7, 23, 99):
        random.seed(seed)
        pts = [
            (i + 1, round(random.randrange(9000, 9010) / 1.0, 2), random.randrange(1, 6))
            for i in range(120)
        ]
        spark.createDataFrame(
            pts, "p_partkey long, p_retailprice double, p_size int"
        ).write.mode("overwrite").parquet(f"{tmp_path}/part.parquet")

        def dominated(p):
            return any(
                q[1] <= p[1] and q[2] >= p[2] and (q[1] < p[1] or q[2] > p[2])
                for q in pts
            )

        expected = {p[0] for p in pts if not dominated(p)}
        got = {
            r.p_partkey
            for r in QUERIES["pareto_frontier_parts"]
            .builder(spark, str(tmp_path))
            .collect()
        }
        assert got == expected, f"seed {seed}"
        # Duplicate optimal points co-survive (neither dominates), so
        # every point sharing a frontier (price, size) is kept.
        frontier_pts = {(p[1], p[2]) for p in pts if p[0] in expected}
        for fp in frontier_pts:
            same = {p[0] for p in pts if (p[1], p[2]) == fp}
            assert same <= expected


def test_percentile_disc_pins_native_function(spark, sf_oracle):
    """The rank-formula discrete percentiles equal Spark's native
    percentile_disc WITHIN GROUP — pinning the native aggregate to
    nearest-rank semantics so a silent convention change would fail
    here before it could diverge from the oracle."""
    from pyspark.sql import functions as F

    o = spark.read.parquet(f"{sf_oracle}/orders.parquet")
    native = {
        r.o_orderstatus: (r.p50, r.p90, r.p99)
        for r in o.groupBy("o_orderstatus")
        .agg(
            *[
                F.round(
                    F.expr(
                        f"percentile_disc({p}) WITHIN GROUP (ORDER BY o_totalprice)"
                    ),
                    2,
                ).alias(name)
                for p, name in [(0.5, "p50"), (0.9, "p90"), (0.99, "p99")]
            ]
        )
        .collect()
    }
    mine = {
        r.o_orderstatus: (r.p50, r.p90, r.p99)
        for r in QUERIES["revenue_percentile_disc"].builder(spark, sf_oracle).collect()
    }
    assert native == mine


def test_percentile_disc_exact_on_rank_boundaries(spark, tmp_path):
    """n=10 values 1..10: nearest-rank ceil(0.9*10) = rank 9 -> 9.0.
    A floating ceil(0.9*n) computes 54.000000000000007-style artifacts
    and picks rank p*n+1 whenever n is a multiple of 10/100; the
    integer-arithmetic rank ((90*n+99) div 100) cannot. Regression
    for the exact-boundary convention (and it matches Spark's native
    percentile_disc, which also gets the boundary right)."""
    from pyspark.sql import functions as F

    o = spark.range(1, 11).select(
        F.lit("Z").alias("o_orderstatus"),
        F.col("id").cast("double").alias("o_totalprice"),
    )
    o.write.parquet(f"{tmp_path}/orders.parquet")
    row = (
        QUERIES["revenue_percentile_disc"].builder(spark, str(tmp_path)).collect()[0]
    )
    assert (row.p50, row.p90, row.p99) == (5.0, 9.0, 10.0), row


def test_holt_forecast_matches_python_recipe(spark, sf_small):
    """holt_forecast_daily computes exactly its defined recursion: a
    Python re-run of the same 6-dp-rounded Holt steps from the same
    daily counts must agree to the printed precision."""
    from pyspark.sql import functions as F

    e = spark.read.parquet(f"{sf_small}/events.parquet")
    daily = (
        e.select("event_type", F.to_date("ts").alias("day"))
        .groupBy("event_type", "day")
        .count()
        .collect()
    )
    from decimal import ROUND_HALF_UP, Decimal

    def r6(x):
        # Engine ROUND semantics: HALF_UP on the shortest decimal
        # representation (Python's round() is banker's and diverges
        # at exact .5e-6 boundaries, which this recursion does hit).
        return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))

    series = defaultdict(list)
    for r in daily:
        series[r.event_type].append((r.day, r["count"]))
    expected = {}
    for et, pts in series.items():
        pts.sort()
        ys = [c for _, c in pts]
        l, b = float(ys[0]), float(ys[1] - ys[0])
        for y in ys[1:]:
            l_new = r6(0.75 * y + 0.25 * (l + b))
            b = r6(0.25 * (l_new - l) + 0.75 * b)
            l = l_new
        for h in (1, 2, 3):
            expected[(et, h)] = (r6(l), r6(b), r6(l + h * b))
    got = {
        (r.event_type, r.h): (r.level, r.trend, r.forecast)
        for r in QUERIES["holt_forecast_daily"].builder(spark, sf_small).collect()
    }
    assert set(got) == set(expected)
    for k in expected:
        for g, x in zip(got[k], expected[k]):
            assert abs(g - x) < 1e-9, (k, got[k], expected[k])


def test_holt_guard_rejects_wrong_series_length(spark, sf_small, tmp_path):
    # Drop one day: the unrolled recursion must refuse, not mis-fit.
    from pyspark.sql import functions as F

    e = spark.read.parquet(f"{sf_small}/events.parquet")
    first_day = e.select(F.min(F.to_date("ts"))).first()[0]
    e.where(F.to_date("ts") != F.lit(first_day)).write.parquet(
        f"{tmp_path}/events.parquet"
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="expected exactly 30 days"):
        QUERIES["holt_forecast_daily"].builder(spark, str(tmp_path)).collect()

"""Accuracy bounds for the sketch-based rows-only queries — the same
falsifiability upgrade tests/test_lsh_recall.py gives the LSH paths:
the approximate result must sit within a stated error of its exact
twin, not merely "return rows"."""

from __future__ import annotations

from optimized_climate_data_integration_with_real_time_llm_querying_spark.queries import (
    all_queries,
)

from conftest import collect_released

QS = all_queries()


def test_hll_distinct_within_rsd(spark, sf_small):
    exact = {
        r["o_orderpriority"]: r["n_customers"]
        for r in QS["count_distinct_custkeys"].builder(spark, sf_small).collect()
    }
    approx = {
        r["o_orderpriority"]: r["n_customers_approx"]
        for r in QS["approx_distinct_custkeys"].builder(spark, sf_small).collect()
    }
    assert set(exact) == set(approx)
    for k, e in exact.items():
        # rsd=0.02 -> 2% standard deviation; 5 sigma is a generous,
        # stable bound that still catches a broken sketch outright.
        rel_err = abs(approx[k] - e) / e
        print(f"{k}: exact={e} approx={approx[k]} rel_err={rel_err:.4f}")
        assert rel_err <= 0.10


def test_approx_quantiles_within_rank_error(spark, sf_small):
    # percentile_approx's contract is RANK error (<= 1/accuracy), not
    # value error: it returns an actual element, while the exact twin
    # interpolates — so on small groups value deltas are expected. The
    # falsifiable claim: each approx quantile must lie within the
    # exact [q-0.02, q+0.02] quantile band of its group.
    from pyspark.sql import functions as F

    from optimized_climate_data_integration_with_real_time_llm_querying_spark.catalog import (
        load_table,
    )

    approx = {
        r["o_orderstatus"]: (r["p50_approx"], r["p90_approx"], r["p99_approx"])
        for r in QS["approx_revenue_quantiles"].builder(spark, sf_small).collect()
    }
    o = load_table(spark, sf_small, "orders")
    eps = 0.02
    bands = {
        r["o_orderstatus"]: r["bands"]
        for r in o.groupBy("o_orderstatus")
        .agg(
            F.percentile(
                "o_totalprice",
                F.array(*[F.lit(x) for q in (0.5, 0.9, 0.99) for x in (max(q - eps, 0.0), min(q + eps, 1.0))]),
            ).alias("bands")
        )
        .collect()
    }
    assert set(approx) == set(bands)
    for k, vals in approx.items():
        b = bands[k]
        for i, (a, q) in enumerate(zip(vals, ("p50", "p90", "p99"))):
            lo, hi = b[2 * i], b[2 * i + 1]
            print(f"{k}/{q}: approx={a} band=[{lo:.2f}, {hi:.2f}]")
            assert lo - 1e-6 <= a <= hi + 1e-6


def test_minhash_estimator_error_bound(spark, sf_small):
    """The MinHash estimator's per-pair |est - exact| should respect
    its binomial bound: std dev sqrt(J(1-J)/32) <= 0.0884, so 4 sigma
    (~0.36) catches a broken estimator while never flaking. Also pin
    the mean error well below one sigma — the aggregate signal a
    subtly mis-seeded permutation family would break."""
    rows = collect_released(QS["minhash_estimate_vs_exact"].builder(spark, sf_small))
    assert rows, "LSH produced no candidate pairs at sf_small"
    errs = [r["abs_err"] for r in rows]
    assert max(errs) <= 0.36, max(errs)
    assert sum(errs) / len(errs) <= 0.09, sum(errs) / len(errs)

"""Trend and anomaly questions read their series once and finish on the
driver.

- ``round6`` is Spark's ``round(double, 6)`` bit for bit: exact 6-dp
  ties, near-ties, negatives and Holt-shaped dyadic sums.
- ``holt_forecast_daily`` leaves no persisted RDD behind.
- Each analytic ``ASK_QUESTIONS`` entry runs at most 6 Spark jobs and
  keeps the result schema it had when it was planned in Spark.
- The driver-side anomaly equals the same aggregates run in Spark.
"""

from __future__ import annotations

import math
import random
import struct
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from optimized_climate_data_integration_with_real_time_llm_querying_spark.nl.pipeline import (
    ClimateEngine,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.trend import (
    round6,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.queries import (
    all_queries,
)
from scripts.capture_plans import ASK_QUESTIONS

ANALYTIC = [q for q in ASK_QUESTIONS if q.startswith(("trend_", "anomaly_"))]

# Result schemas of the analytic answers while their plans ran in Spark.
SCHEMAS = {
    "trend_disasters": "struct<disaster_type:string,level:double,trend:double,forecast_next:double>",
    "trend_emissions": "struct<country:string,level:double,trend:double,forecast_next:double>",
    "trend_era5": "struct<series:string,level:double,trend:double,forecast_next:double>",
    "anomaly_city": "struct<city:string,metric:string,year:int,month:int,value:double,"
    "climatology:double,anomaly:double,n_years:bigint>",
    "anomaly_cities": "struct<city:string,metric:string,year:int,mean_anomaly:double,"
    "mean_abs_anomaly:double,n_months:bigint>",
}

MAX_JOBS = 6


@pytest.fixture(scope="module")
def engine(spark):
    return ClimateEngine(spark)


def _round6_inputs() -> list[float]:
    rng = random.Random(20240601)
    out = [0.0, -0.0, 1e-7, -1e-7, 5e-7, -5e-7, 2.5e-7, 1e22, -1e22, 123456.0000005,
           float("nan"), float("inf"), float("-inf")]
    for _ in range(5000):
        # An exact tie: the shortest repr ends in a 5 at the 7th decimal.
        whole = rng.choice([0, rng.randrange(10), rng.randrange(1000), rng.randrange(10**6)])
        tie = float(f"{whole}.{rng.randrange(10**6):06d}5")
        out += [tie, math.nextafter(tie, math.inf), math.nextafter(tie, -math.inf)]
    for _ in range(2500):
        # One Holt step over 6-dp state and an integer or 6-dp observation.
        l_ = rng.randrange(-10**9, 10**9) / 10**6
        b = rng.randrange(-10**8, 10**8) / 10**6
        y = rng.choice([rng.randrange(500), rng.randrange(-10**9, 10**9) / 10**6])
        l_new = 0.75 * y + 0.25 * (l_ + b)
        out += [l_new, 0.25 * (round6(l_new) - l_) + 0.75 * b, l_ + 3 * b]
    out += [rng.uniform(-1e6, 1e6) for _ in range(2000)]
    return out + [-x for x in out]


def _is_tie(v: float) -> bool:
    # Halfway between two 6-dp numbers, as the shortest repr reads.
    if not math.isfinite(v):
        return False
    sign, digits, exponent = Decimal(repr(v)).as_tuple()
    return exponent == -7 and digits[-1] == 5


def _bits(x: float) -> bytes:
    return struct.pack("<d", x)


def test_round6_is_spark_round_bit_for_bit(spark):
    values = _round6_inputs()
    assert sum(map(_is_tie, values)) > 10000
    df = spark.createDataFrame(list(enumerate(values)), "i long, v double")
    got = {r.i: r.r for r in df.select("i", F.round("v", 6).alias("r")).collect()}
    mismatches = [
        (v, got[i], round6(v))
        for i, v in enumerate(values)
        if not (math.isnan(v) and math.isnan(got[i]))
        and _bits(got[i]) != _bits(round6(v))
    ]
    assert mismatches == []


def test_holt_forecast_daily_leaves_nothing_persisted(spark, sf_small):
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    rows = all_queries()["holt_forecast_daily"].builder(spark, sf_small).collect()
    assert rows
    assert jsc.getPersistentRDDs().size() == before


@pytest.mark.parametrize("label", ANALYTIC)
def test_analytic_question_runs_few_jobs(spark, engine, label):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"test-driver-analytics-{label}"
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, label)
    try:
        result = engine.ask(ASK_QUESTIONS[label]).result
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = set(tracker.getJobIdsForGroup(group)) | (
        set(tracker.getJobIdsForGroup(None)) - ungrouped
    )
    assert len(jobs) <= MAX_JOBS, sorted(jobs)
    assert result.schema.simpleString() == SCHEMAS[label]


def _spark_anomaly(engine, question):
    """The anomaly as Spark aggregates over the question's filtered
    series: full-table climatology per (city, metric, month), the
    spec's years' monthly values, their 6-dp departure."""
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.plans import (
        apply_filters,
    )

    spec = engine._spec_era5(question)
    lo, hi = engine.ask(question).spec.year_range
    monthly, _ = apply_filters(spec, engine.tables["era5_monthly"])
    monthly = monthly.select("city", "metric", F.year("date").alias("year"),
                             F.month("date").alias("month"), "value")
    clim = monthly.groupBy("city", "metric", "month").agg(
        F.round(F.avg("value"), 6).alias("climatology"),
        F.countDistinct("year").alias("n_years"),
    )
    target = (
        monthly.filter(F.col("year").between(lo, hi))
        .groupBy("city", "metric", "year", "month")
        .agg(F.round(F.avg("value"), 6).alias("value"))
    )
    return target.join(clim, ["city", "metric", "month"]).select(
        "city", "metric", "year", "month", "value", "climatology",
        F.round(F.col("value") - F.col("climatology"), 6).alias("anomaly"),
        "n_years",
    )


def test_driver_anomaly_equals_spark_aggregates(engine):
    question = ASK_QUESTIONS["anomaly_city"]
    want = _spark_anomaly(engine, question).orderBy("city", "metric", "year", "month")
    assert engine.ask(question).result.collect() == want.collect()


def test_driver_anomaly_summary_equals_spark_aggregates(engine):
    question = ASK_QUESTIONS["anomaly_cities"]
    want = (
        _spark_anomaly(engine, question)
        .groupBy("city", "metric", "year")
        .agg(
            F.round(F.avg("anomaly"), 6).alias("mean_anomaly"),
            F.round(F.avg(F.abs("anomaly")), 6).alias("mean_abs_anomaly"),
            F.count(F.lit(1)).alias("n_months"),
        )
        .orderBy(F.col("mean_abs_anomaly").desc(), "city", "metric", "year")
    )
    assert engine.ask(question).result.collect() == want.collect()

#!/usr/bin/env python
"""Capture .explain('formatted') output for registry queries or for the
final plans of ``ClimateEngine.ask()`` questions.

Usage:
    python scripts/capture_plans.py [--out DIR] SUFFIX name1 name2 ...
    python scripts/capture_plans.py --ask [--out DIR] SUFFIX [label ...]

Writes DIR/<name>_<SUFFIX>.txt (DIR defaults to plans/r17). Registry
mode builds each named query; SPARK_GRAFT_SF_DIR selects the data
directory (default sf0.1 — the bench scale, where TRAIN_CAP stride
engages, so the captured plan is the benched plan). ``--ask`` asks the
questions of ``ASK_QUESTIONS`` (all of them, or the labels given) and
captures the plan behind each answer; for a trend or anomaly question
it also writes <label>_series_<SUFFIX>.txt, the plan of the series the
question collects before finishing on the driver (see
``series_inputs``).
"""
from __future__ import annotations

import argparse
import os
import sys
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# One question per ask() intent: a plain lookup in each domain, trend
# in the three time-series domains, single- and multi-city anomaly.
ASK_QUESTIONS = {
    "lookup_disasters": "How many droughts occurred in 1980?",
    "lookup_fema": "List hurricane incidents in Florida from 2005 to 2010",
    "lookup_era5": "Skin temperature in Dhaka in March 2020",
    "lookup_emissions": "What were the CO2 emissions in India in 2020?",
    "trend_disasters": "Which disaster type is trending up?",
    "trend_emissions": "Is CO2 rising in Brazil?",
    "trend_era5": "What is the skin temperature trend in Dhaka?",
    "anomaly_city": "Was skin temperature in Dhaka in 2020 above normal?",
    "anomaly_cities": "Was wind speed in 2021 more anomalous in Dhaka than in Delhi?",
}


def explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def registry_plans(spark, names):
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.lifecycle import (
        release,
    )
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.queries import (
        all_queries,
    )

    qs = all_queries()
    for name in names:
        df = qs[name].builder(spark, SF_DIR)
        yield name, explain(df)
        release(df)


@contextmanager
def series_inputs():
    """Collect the series frames a trend or anomaly question reads with
    its one Spark action while the block runs. Such an answer's final
    plan only scans rows computed on the driver; the domain table is
    read in the plan of the series frame."""
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.nl import (
        pipeline,
    )

    seen = []
    original = pipeline._collect_series

    def spy(df):
        seen.append(df)
        return original(df)

    pipeline._collect_series = spy
    try:
        yield seen
    finally:
        pipeline._collect_series = original


def ask_plans(spark, labels):
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.nl.pipeline import (
        ClimateEngine,
    )

    engine = ClimateEngine(spark)
    for label in labels or ASK_QUESTIONS:
        with series_inputs() as series:
            result = engine.ask(ASK_QUESTIONS[label]).result
        yield label, explain(result)
        for seq in series:
            yield f"{label}_series", explain(seq)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", default=os.path.join(ROOT, "plans", "r17"))
    ap.add_argument("--ask", action="store_true", help="capture ask() question plans")
    ap.add_argument("suffix")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args(argv)

    from optimized_climate_data_integration_with_real_time_llm_querying_spark.session import (
        get_spark,
    )

    spark = get_spark("plan-capture")
    os.makedirs(args.out, exist_ok=True)
    plans = ask_plans if args.ask else registry_plans
    for name, plan in plans(spark, args.names):
        path = os.path.join(args.out, f"{name}_{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

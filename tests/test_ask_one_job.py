"""Every ``ask()`` question runs as one Spark job of one task.

- Each ``ASK_QUESTIONS`` entry runs exactly one job with one task,
  counted with a job group and ``statusTracker()`` as perfbench counts.
- No plan that reads a domain table (a lookup's answer, a trend's or an
  anomaly's series) has an exchange, a broadcast or a nested-loop join.
- A key filter on ERA5 (city, metric) and on emissions (country, gas)
  sits below the ``Generate`` that explodes the time axis, so only the
  matching keys are exploded and hashed.
"""

from __future__ import annotations

import re

import pytest

from optimized_climate_data_integration_with_real_time_llm_querying_spark.nl.pipeline import (
    ClimateEngine,
)
from scripts.capture_plans import ASK_QUESTIONS, explain, series_inputs

SHUFFLE_NODES = ("Exchange", "BroadcastExchange", "BroadcastNestedLoopJoin")


@pytest.fixture(scope="module")
def engine(spark):
    return ClimateEngine(spark)


def _jobs_and_tasks(spark, engine, label) -> tuple[list[int], int]:
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"test-ask-one-job-{label}"
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, label)
    try:
        engine.ask(ASK_QUESTIONS[label])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = set(tracker.getJobIdsForGroup(group)) | (
        set(tracker.getJobIdsForGroup(None)) - ungrouped
    )
    stages = [tracker.getStageInfo(s) for j in jobs for s in tracker.getJobInfo(j).stageIds]
    return sorted(jobs), sum(st.numTasks for st in stages if st is not None)


@pytest.mark.parametrize("label", list(ASK_QUESTIONS))
def test_question_runs_one_job_of_one_task(spark, engine, label):
    jobs, tasks = _jobs_and_tasks(spark, engine, label)
    assert len(jobs) == 1, jobs
    assert tasks == 1


@pytest.mark.parametrize("label", list(ASK_QUESTIONS))
def test_domain_table_plans_shuffle_nothing(engine, label):
    with series_inputs() as series:
        result = engine.ask(ASK_QUESTIONS[label]).result
    # A trend or anomaly answer scans driver rows; its series reads the table.
    plans = [explain(s) for s in series] or [explain(result)]
    for plan in plans:
        assert [n for n in SHUFFLE_NODES if n in plan] == []


def _filters_beside_generate(df) -> tuple[str, str]:
    """The Filter lines above and below the plan's Generate. The plan is
    a chain (no join), so a later line is a descendant."""
    lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
    gen = next(i for i, line in enumerate(lines) if "Generate " in line)
    above = "\n".join(line for line in lines[:gen] if "Filter " in line)
    below = "\n".join(line for line in lines[gen + 1:] if "Filter " in line)
    return above, below


@pytest.mark.parametrize(
    "label, keys",
    [
        ("lookup_era5", ["skin_temperature", "dhaka"]),
        ("lookup_emissions", ["CO2", "India"]),
    ],
)
def test_key_filter_below_generate(engine, label, keys):
    above, below = _filters_beside_generate(engine.ask(ASK_QUESTIONS[label]).result)
    for key in keys:
        predicate = re.compile(rf"= {re.escape(key)}\)", re.IGNORECASE)
        assert predicate.search(below), (key, below)
        assert not predicate.search(above), (key, above)

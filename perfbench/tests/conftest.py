from __future__ import annotations

import os
import sys

import pytest

PERFBENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(PERFBENCH)
sys.path.insert(0, ROOT)
sys.path.insert(1, PERFBENCH)


@pytest.fixture(scope="session")
def engine():
    """A ClimateEngine on a small local session (routing and spec
    building only; no question is executed)."""
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.nl.pipeline import (
        ClimateEngine,
    )
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.session import (
        get_spark,
    )

    spark = get_spark("perfbench-tests", cpus=2)
    yield ClimateEngine(spark)
    spark.stop()

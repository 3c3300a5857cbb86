from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from optimized_climate_data_integration_with_real_time_llm_querying_spark.lifecycle import (  # noqa: E402
    release,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.session import (  # noqa: E402
    get_spark,
)

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("TEST_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def collect_released(df):
    """Collect a registry result, then free whatever its builder holds
    persisted, even when the collect fails."""
    try:
        return df.collect()
    finally:
        release(df)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("ocdi-tests", cpus=int(os.environ.get("TEST_SPARK_CPUS", "8")))
    yield s


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_oracle():
    return SF_ORACLE

"""A Python-UDF registry query runs from any working directory: the
session ships the package root to the Python workers, whose path is
Spark's own, not the driver's ``sys.path``."""

from __future__ import annotations

import os
import subprocess
import sys

from conftest import SF_SMALL

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = f"""
import sys
sys.path.insert(0, {REPO!r})
from optimized_climate_data_integration_with_real_time_llm_querying_spark.queries import all_queries
from optimized_climate_data_integration_with_real_time_llm_querying_spark.session import get_spark
spark = get_spark("worker-path", cpus=2)
print("rows", len(all_queries()["media_feature_extract"].builder(spark, {SF_SMALL!r}).collect()))
"""


def test_udf_query_runs_outside_the_repo(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.setdefault("SPARK_DRIVER_MEMORY", "1g")
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "rows 4000" in out.stdout.splitlines()

#!/usr/bin/env python
"""Minimal per-query timer: noop-sink each named registry query N
times at $SPARK_GRAFT_SF_DIR, print min/all times. Development
instrument for the optimization rounds (bench.py stays the graded
harness)."""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from optimized_climate_data_integration_with_real_time_llm_querying_spark.lifecycle import (
    release,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.queries import (
    all_queries,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.session import (
    get_spark,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N = int(os.environ.get("TIME_N", "2"))


def main() -> int:
    names = sys.argv[1:]
    qs = all_queries()
    spark = get_spark("time-queries")
    # warm codegen + table cache
    qs["pricing_summary"].builder(spark, SF_DIR).write.mode("overwrite").format("noop").save()
    out = {}
    for name in names:
        times = []
        for _ in range(N):
            t0 = time.perf_counter()
            df = qs[name].builder(spark, SF_DIR)
            df.write.mode("overwrite").format("noop").save()
            times.append(round(time.perf_counter() - t0, 3))
            release(df)
        out[name] = times
        print(name, times, flush=True)
    print(json.dumps({k: min(v) for k, v in out.items()}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

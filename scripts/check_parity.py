#!/usr/bin/env python
"""Ad-hoc parity check for a subset of registry queries.

Usage: python scripts/check_parity.py name1 name2 ...
Runs each query on Spark and its DuckDB oracle at sf0.01 and
cell-compares (the same canonicalization as tests/test_oracle_parity
and the driver's hash). Fast feedback while developing new queries.
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from optimized_climate_data_integration_with_real_time_llm_querying_spark.catalog import (
    TABLES,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.lifecycle import (
    release,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.queries import (
    all_queries,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.session import (
    get_spark,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def _canon(v):
    if v is None:
        return "<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<nan>"
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


def main() -> int:
    names = sys.argv[1:]
    qs = all_queries()
    missing = [n for n in names if n not in qs]
    if missing:
        print("unknown queries:", missing)
        return 2
    spark = get_spark("parity-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    rc = 0
    for n in names:
        q = qs[n]
        df = q.builder(spark, SF_DIR)
        scols = df.columns
        srows = [tuple(r) for r in df.collect()]
        release(df)
        if q.oracle is None:
            print(f"{n}: rows-only ({len(srows)} rows)")
            continue
        res = con.execute(q.oracle)
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        if sorted(scols) != sorted(ocols):
            print(f"{n}: SCHEMA MISMATCH spark={sorted(scols)} oracle={sorted(ocols)}")
            rc = 1
            continue
        sc, oc = _canon_rows(scols, srows), _canon_rows(ocols, orows)
        if len(sc) != len(oc):
            print(f"{n}: ROWCOUNT MISMATCH spark={len(sc)} oracle={len(oc)}")
            rc = 1
            continue
        bad = [(a, b) for a, b in zip(sc, oc) if a != b]
        if bad:
            print(f"{n}: VALUE MISMATCH ({len(bad)}/{len(sc)} rows); first:")
            print("  spark :", bad[0][0])
            print("  oracle:", bad[0][1])
            rc = 1
        else:
            print(f"{n}: OK ({len(sc)} rows)")
    return rc


if __name__ == "__main__":
    sys.exit(main())

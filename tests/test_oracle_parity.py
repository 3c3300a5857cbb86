"""The local twin of the driver's correctness gate: run every
registered query on Spark AND its DuckDB oracle on the same parquet,
then compare row count, column names, and order-insensitive values.

Values are compared cell-by-cell after sorting rows by all columns
(stringified) — stricter than a hash, so mismatches print the first
differing rows instead of just failing.
"""

from __future__ import annotations

import math

import duckdb
import pytest

from optimized_climate_data_integration_with_real_time_llm_querying_spark.catalog import (
    TABLES,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.lifecycle import (
    CheckpointHandle,
    release,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.queries import (
    all_queries,
)

QUERIES = all_queries()
ORACLE_QUERIES = sorted(n for n, q in QUERIES.items() if q.oracle is not None)
ROWS_ONLY_QUERIES = sorted(n for n, q in QUERIES.items() if q.oracle is None)


def _duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


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


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _release_and_check(spark, name, before, df):
    """No persisted RDD may outlive the query once it is released.
    Checkpoint blocks are exempt: the ContextCleaner frees them only
    after a later JVM GC."""
    if not any(isinstance(h, CheckpointHandle) for h in release(df)):
        assert _persisted(spark) <= before, f"{name}: persisted a frame it does not hold"


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_matches_duckdb_oracle(name, spark, sf_oracle):
    q = QUERIES[name]
    before = _persisted(spark)
    sdf = q.builder(spark, sf_oracle)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]
    _release_and_check(spark, name, before, sdf)

    con = _duck_connection(sf_oracle)
    rel = con.sql(q.oracle)
    duck_cols = list(rel.columns)
    duck_rows = rel.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch spark={spark_cols} duck={duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    s = _canon_rows(spark_cols, spark_rows)
    d = _canon_rows(duck_cols, duck_rows)
    if s != d:
        diffs = [(a, b) for a, b in zip(s, d) if a != b][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_queries_run(name, spark, sf_oracle):
    q = QUERIES[name]
    before = _persisted(spark)
    sdf = q.builder(spark, sf_oracle)
    n = sdf.count()
    _release_and_check(spark, name, before, sdf)
    assert n >= 0
    assert len(sdf.columns) > 0

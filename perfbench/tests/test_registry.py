"""Registry inputs and the oracle comparison."""

from __future__ import annotations

import hashlib
import os

import pyarrow.parquet as pq

import registry
from conftest import ROOT


def _digest(d: str) -> dict[str, str]:
    return {
        f: hashlib.sha256(pq.read_table(os.path.join(d, f)).to_pandas().to_csv().encode()).hexdigest()
        for f in sorted(os.listdir(d))
    }


def test_generator_is_seeded(tmp_path):
    registry.generate(str(tmp_path / "a"), 3)
    registry.generate(str(tmp_path / "b"), 3)
    registry.generate(str(tmp_path / "c"), 4)
    a, b, c = (_digest(str(tmp_path / x)) for x in "abc")
    assert a == b and len(a) == 10
    assert a != c


def test_generated_schema_matches_catalog(tmp_path):
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.catalog import (
        TABLE_SCHEMAS,
    )

    registry.generate(str(tmp_path), 0)
    for name, schema in TABLE_SCHEMAS.items():
        cols = pq.read_schema(tmp_path / f"{name}.parquet").names
        assert cols == [f.name for f in schema.fields], name


def test_rounding_tie_is_one_unit_of_the_round_precision():
    assert registry.rounding_tie("25049068.510000", "25049068.500000", 0.01)
    assert registry.rounding_tie("0.123500", "0.123400", 0.0001)
    assert not registry.rounding_tie("25049068.520000", "25049068.500000", 0.01)
    assert not registry.rounding_tie("25.500000", "25.600000", 0.01)
    assert not registry.rounding_tie("abc", "abd", 0.01)


def test_ties_only_in_rounded_cells(tmp_path):
    """A one-unit difference passes in a listed cell and fails anywhere
    else, including a short-valued float cell of another query."""
    registry.generate(str(tmp_path), 0)
    parity = registry.load_parity(ROOT)
    oracle = registry.Oracle(str(tmp_path), parity, ["lineitem"])
    sql = "SELECT 25.51::DOUBLE AS sum_charge, 25.5::DOUBLE AS avg_qty, 'A' AS l_returnflag"
    cols = ["sum_charge", "avg_qty", "l_returnflag"]
    assert oracle.check("pricing_summary", sql, cols, [(25.5, 25.5, "A")]) is None
    assert oracle.ties
    assert oracle.check("pricing_summary", sql, cols, [(25.51, 25.6, "A")])
    assert oracle.check("bm25_topk", sql, cols, [(25.5, 25.5, "A")])
    oracle.close()

"""Cross-engine equivalence of the oracle-able scalar primitives the
md5 query twins lean on: md5_hash64 (hygiene rule 6) and levenshtein
must produce IDENTICAL values in Spark and DuckDB for arbitrary
strings — if either ever drifts (engine upgrade, collation change),
every *_md5 oracle and the fuzzy join go red at once, so this test
localizes the blame to the primitive.

Hypothesis generates the corpus; everything runs in ONE batched
DataFrame round-trip per engine (per-example Spark jobs would take
minutes).
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.dedup import (
    md5_hash64,
)

# Printable-ish strings incl. spaces, punctuation, unicode beyond
# ASCII (md5 hashes UTF-8 bytes identically in both engines).
_STRINGS = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), min_codepoint=32),
    min_size=0,
    max_size=40,
)


@settings(max_examples=1, deadline=None)
@given(st.lists(_STRINGS, min_size=200, max_size=200, unique=True))
def test_md5_hash64_matches_duckdb(spark, strings):
    sdf = spark.createDataFrame([(s,) for s in strings], "s string").select(
        "s", md5_hash64(F.lit(7), F.col("s")).alias("h")
    )
    got = {r["s"]: r["h"] for r in sdf.collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t(s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(s,) for s in strings])
    want = dict(
        con.sql(
            "SELECT s, CAST(('0x' || substr(md5('7:' || s), 1, 8)) AS BIGINT) FROM t"
        ).fetchall()
    )
    assert got == want


# ASCII ONLY: DuckDB levenshtein counts UTF-8 BYTES while Spark
# counts CHARACTERS — ('', 'é ') is 2 in Spark, 3 in DuckDB. The
# engines agree exactly on ASCII, which is why fuzzy_name_match_pairs
# runs on the (verified all-ASCII) part-name vocabulary; any future
# levenshtein-oracled query over free text must normalize or stay
# rows-only. test_levenshtein_diverges_on_multibyte pins the
# divergence so an engine upgrade that fixes it is noticed.
_ASCII = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126),
    min_size=0,
    max_size=40,
)


@settings(max_examples=1, deadline=None)
@given(
    st.lists(
        st.tuples(_ASCII, _ASCII), min_size=150, max_size=150, unique=True
    )
)
def test_levenshtein_matches_duckdb(spark, pairs):
    sdf = spark.createDataFrame(pairs, "a string, b string").select(
        "a", "b", F.levenshtein("a", "b").alias("d")
    )
    got = {(r["a"], r["b"]): r["d"] for r in sdf.collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t(a VARCHAR, b VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(pairs))
    want = {(a, b): d for a, b, d in con.sql(
        "SELECT a, b, levenshtein(a, b) FROM t"
    ).fetchall()}
    assert got == want


def test_levenshtein_diverges_on_multibyte(spark):
    """Documents the KNOWN divergence: DuckDB is byte-based. If this
    ever starts passing equality, DuckDB changed semantics and the
    ASCII-only restriction above can be revisited."""
    spark_d = (
        spark.range(1)
        .select(F.levenshtein(F.lit(""), F.lit("é")).alias("d"))
        .collect()[0]["d"]
    )
    duck_d = duckdb.sql("SELECT levenshtein('', 'é')").fetchall()[0][0]
    assert spark_d == 1  # one character
    assert duck_d == 2  # two UTF-8 bytes


@pytest.mark.parametrize(
    "value",
    ["", " ", "a", "hello world", "0:x", "::", "ümlaut", "日本語テキスト"],
)
def test_md5_hash64_pinned_values(spark, value):
    """A few pinned literals so a drift shows the exact offending
    input, not just a hypothesis shrink."""
    got = (
        spark.range(1)
        .select(md5_hash64(F.lit(value)).alias("h"))
        .collect()[0]["h"]
    )
    want = duckdb.sql(
        "SELECT CAST(('0x' || substr(md5(?), 1, 8)) AS BIGINT)", params=[value]
    ).fetchall()[0][0]
    assert got == want


def test_md5_hash64_null_is_skipped(spark):
    """The NULL rule: ``concat_ws`` skips NULL arguments, so a NULL
    hashes as if it were absent — ``md5_hash64(NULL)`` is the hash of
    the empty string (never NULL), and a NULL next to other arguments
    drops out of the ':'-joined string. DuckDB's ``md5(NULL)`` is
    NULL, so an oracle twin over a nullable key has to decide NULL
    handling itself; every registry key hashed today is non-null."""
    null = F.lit(None).cast("string")
    row = spark.range(1).select(
        md5_hash64(null).alias("null"),
        md5_hash64(F.lit("")).alias("empty"),
        md5_hash64(null, F.lit("x")).alias("null_x"),
        md5_hash64(F.lit("x")).alias("x"),
    ).first()
    want_empty = duckdb.sql(
        "SELECT CAST(('0x' || substr(md5(''), 1, 8)) AS BIGINT)"
    ).fetchall()[0][0]
    assert row["null"] == row["empty"] == want_empty
    assert row["null_x"] == row["x"]

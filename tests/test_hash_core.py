"""The one hash core: every md5 bucket in the package is
``dedup.md5_hash64``, HyperLogLog and Count-Min are each written once
(``operators/sketch.py``) for the batch queries and the streaming
maintenance, and unweighted SimHash is the weight-1 weighted vote.

Each value pin keeps the hand-written expression a call site used
before it moved onto the core as the reference, and shows on 1,000
keys that the core call returns the same values. A source scan pins
that no module writes the md5 prefix hash by hand again.
"""

from __future__ import annotations

import pathlib
import re

import pytest
from pyspark.sql import functions as F

import optimized_climate_data_integration_with_real_time_llm_querying_spark as pkg
from optimized_climate_data_integration_with_real_time_llm_querying_spark.catalog import (
    load_table,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators import (
    dedup,
    sketch,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.clustering import (
    _train_sample_pred,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.sampling import (
    md5_bucket,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.text import (
    tokens,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.queries.clustering import (
    _eval_sample_pred,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.queries.warehouse import (
    _BLOOM_BITS,
    _bloom_pos,
)

PKG = pathlib.Path(pkg.__file__).parent
N = 1000


def _h32(col):
    """The hand-written rule-6 prefix hash the call sites used."""
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 8), 16, 10).cast("long")


def _salted(salt, col):
    return _h32(F.concat_ws(":", F.lit(salt), col.cast("string")))


@pytest.fixture(scope="module")
def keys(spark):
    """1,000 rows: a long id, two string words (one non-ASCII), and
    a salt j in 1..3."""
    return spark.range(N).select(
        F.col("id"),
        F.concat(F.lit("w"), F.col("id")).alias("w1"),
        F.concat(F.lit("ü"), (F.col("id") * 7) % 113).alias("w2"),
        (F.col("id") % 3 + 1).alias("j"),
    )


def _assert_same(df, new, old):
    pairs = df.select(new.alias("new"), old.alias("old"))
    assert pairs.count() == N
    assert pairs.filter(~F.col("new").eqNullSafe(F.col("old"))).count() == 0


def test_md5_bucket(keys):
    for seed in (0, 7):
        old = F.pmod(_salted(str(seed), F.col("id")), F.lit(1_000_000))
        _assert_same(keys, md5_bucket(F.col("id"), seed), old)


def test_train_sample_pred(keys):
    old = F.pmod(_salted("tcap", F.col("id")), F.lit(3)) == 0
    _assert_same(keys, _train_sample_pred("id", 3), old)


def test_eval_sample_pred(keys):
    old = F.pmod(_salted("esamp", F.col("id")), F.lit(4)) == 0
    _assert_same(keys, _eval_sample_pred("id", 4), old)


def test_bloom_positions(keys):
    old = F.pmod(
        _h32(F.concat_ws(":", F.col("j").cast("string"), F.col("id").cast("string"))),
        F.lit(_BLOOM_BITS),
    )
    _assert_same(keys, _bloom_pos("id"), old)


def test_source_mix_bucket(keys):
    old = _h32(F.col("id").cast("string")) % 10000
    _assert_same(keys, dedup.md5_hash64(F.col("id")) % 10000, old)


def test_temperature_mix_bucket(keys):
    old = _h32(F.concat(F.lit("t:"), F.col("id").cast("string"))) % 1000000
    _assert_same(keys, dedup.md5_hash64(F.lit("t"), F.col("id")) % 1000000, old)


def test_dsir_bigram_bucket(keys):
    pair = F.concat(F.col("w1"), F.lit(" "), F.col("w2"))
    _assert_same(keys, dedup.md5_hash64(pair) % 1024, _h32(pair) % 1024)


def test_hll_registers_and_estimate(keys):
    grp = (F.col("id") % 5).alias("g")
    df = keys.select(grp, "id")
    h = df.select(F.col("g").alias("grp"), _h32(F.col("id").cast("string")).alias("h32"))
    rem = F.col("h32") % 16777216
    rho = F.when(rem == 0, F.lit(25)).otherwise(25 - F.length(F.bin(rem)))
    old_reg = (
        h.select("grp", F.floor(F.col("h32") / 16777216).cast("long").alias("bucket"), rho.alias("rho"))
        .groupBy("grp", "bucket")
        .agg(F.max("rho").alias("m"))
    )
    new_reg = sketch.hll_registers(df, "g", "id")
    assert sorted(new_reg.collect()) == sorted(old_reg.collect())
    assert old_reg.count() > 5 * 100  # registers of every group are populated

    z = old_reg.groupBy("grp").agg(
        (256 - F.count(F.lit(1))).cast("long").alias("v"),
        ((256 - F.count(F.lit(1))) * F.lit(1.0)
         + F.sum(F.lit(1.0) / F.expr("shiftleft(CAST(1 AS BIGINT), m)"))).alias("zsum"),
    )
    alpha = 0.7213 / (1.0 + 1.079 / 256)
    est = z.select("grp", "v", (F.lit(alpha) * 256 * 256 / F.col("zsum")).alias("e_raw"))
    corrected = F.when(
        (F.col("e_raw") <= 640) & (F.col("v") > 0),
        F.lit(256.0) * F.log(F.lit(256.0) / F.col("v")),
    ).otherwise(F.col("e_raw"))
    old_est = dict(est.select("grp", corrected).collect())
    assert dict(sketch.hll_estimate(new_reg).collect()) == old_est


def test_cms_row_buckets(keys):
    toks = keys.select(F.col("w2").alias("token")).union(keys.select(F.col("w1")))
    old = toks.select(
        "token", F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("r")
    ).withColumn(
        "bucket", _h32(F.concat(F.col("r").cast("string"), F.lit("|"), F.col("token"))) % 512
    )
    new = sketch.cms_buckets(toks)
    assert new.columns == ["token", "r", "bucket"]
    assert sorted(new.collect()) == sorted(old.collect())


def test_cms_heavy_hitters_cells(spark, sf_small):
    """Cells and point estimates of the core equal the hand-written
    build over the documents' token counts."""
    d = load_table(spark, sf_small, "documents").filter(F.trim("text") != "")
    tc = d.select(F.explode(tokens("text")).alias("token")).groupBy("token").agg(
        F.count(F.lit(1)).alias("n")
    )
    hashed = tc.select(
        "token", "n", F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("r")
    ).withColumn(
        "bucket", _h32(F.concat(F.col("r").cast("string"), F.lit("|"), F.col("token"))) % 512
    )
    old_cells = hashed.groupBy("r", "bucket").agg(F.sum("n").alias("cell"))
    old_est = hashed.join(old_cells, ["r", "bucket"]).groupBy("token", "n").agg(
        F.min("cell").alias("cms_estimate")
    )
    cells = sketch.cms_cells(sketch.token_counts(d))
    assert sorted(cells.collect()) == sorted(old_cells.collect())
    new_est = sketch.cms_point_query(tc, cells)
    assert sorted(new_est.collect()) == sorted(old_est.collect())


@pytest.mark.parametrize(
    "family,n_bits", [(F.xxhash64, 64), (dedup.md5_hash64, 32)], ids=["xxhash64", "md5"]
)
def test_simhash_is_the_weight_one_vote(spark, sf_small, family, n_bits):
    docs = load_table(spark, sf_small, "documents")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("token")).select(
        "doc_id", family(F.col("token")).alias("h")
    )
    bit_sums = [
        F.sum(F.shiftrightunsigned(F.col("h"), i).bitwiseAND(F.lit(1))).alias(f"bs_{i}")
        for i in range(n_bits)
    ]
    agg = tok.groupBy("doc_id").agg(*bit_sums, F.count(F.lit(1)).alias("n_tok"))
    sig = None
    for i in range(n_bits):
        bit = F.when(
            F.col(f"bs_{i}") * 2 > F.col("n_tok"), F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
        sig = bit if sig is None else sig.bitwiseOR(bit)
    old = sorted(agg.select("doc_id", sig.alias("simhash")).collect())
    new = sorted(dedup.simhash_signatures(docs, hash_family=family, n_bits=n_bits).collect())
    assert len(new) > 100
    assert new == old


def test_one_md5_prefix_hash_in_the_package():
    """``F.conv(`` and ``substring(F.md5(`` occur once in the package,
    inside ``md5_hash64``, and no private ``_h32`` copy remains."""
    conv, prefix, h32 = [], [], []
    for path in sorted(PKG.rglob("*.py")):
        src = path.read_text()
        rel = path.relative_to(PKG).as_posix()
        conv += [rel] * src.count("F.conv(")
        prefix += [rel] * len(re.findall(r"substring\(\s*F\.md5\(", src))
        h32 += [rel] * src.count("_h32")
    assert conv == ["operators/dedup.py"]
    assert prefix == ["operators/dedup.py"]
    assert h32 == []
    src = (PKG / "operators" / "dedup.py").read_text()
    body = src[src.index("def md5_hash64("):]
    body = body[: body.index("\ndef ")]
    assert "F.conv(" in body


def test_one_sketch_and_vote_definition():
    """The HLL rho and estimate, the CMS row hash and the SimHash
    majority test each appear once in the package's code."""
    patterns = {
        "hll_rho": "F.length(F.bin(",
        "hll_estimate": 'F.expr("shiftleft(CAST(1 AS BIGINT), m)")',
        "cms_row_hash": 'F.col("r").cast("string"), F.lit("|")',
        "simhash_vote": "* 2 > F.col(",
    }
    hits = {name: [] for name in patterns}
    for path in sorted(PKG.rglob("*.py")):
        src = path.read_text()
        rel = path.relative_to(PKG).as_posix()
        for name, pat in patterns.items():
            hits[name] += [rel] * src.count(pat)
    assert hits == {
        "hll_rho": ["operators/sketch.py"],
        "hll_estimate": ["operators/sketch.py"],
        "cms_row_hash": ["operators/sketch.py"],
        "simhash_vote": ["operators/dedup.py"],
    }

"""The one n-gram core: every adjacent word k-gram comes from
``text.word_grams``, and every shingle from ``dedup.shingles``.

Pins the gram rows against Python slicing, the shingle values of all
three hash families (taken from the per-family copies this core
replaced), and, by a source scan, that no module builds word grams by
hand or with a ``lead()`` over token positions.
"""

from __future__ import annotations

import pathlib
import re

import pytest
from pyspark.sql import functions as F

import optimized_climate_data_integration_with_real_time_llm_querying_spark as pkg
from optimized_climate_data_integration_with_real_time_llm_querying_spark.lifecycle import (
    release,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators import (
    dedup,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.text import (
    word_grams,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.queries import (
    all_queries,
)

PKG = pathlib.Path(pkg.__file__).parent


@pytest.mark.parametrize("k", [1, 2, 3, 5])
def test_word_grams_equal_python_slices(spark, k):
    lengths = sorted({0, 1, max(k - 1, 0), k, k + 3})
    arrays = [[f"w{n}_{i}" for i in range(n)] for n in lengths]
    df = spark.createDataFrame(
        list(enumerate(arrays)), "id int, toks array<string>"
    )
    rows = df.select(
        "id", F.posexplode(word_grams(F.col("toks"), k)).alias("i", "g")
    ).collect()
    got = {i: [] for i in range(len(arrays))}
    for r in sorted(rows, key=lambda r: (r.id, r.i)):
        got[r.id].append(tuple(r.g[f"t{j}"] for j in range(k)))
    for i, toks in enumerate(arrays):
        want = [tuple(toks[j : j + k]) for j in range(len(toks) - k + 1)]
        assert got[i] == want, (k, len(toks))


_DOCS = [
    (1, "the cat sat on the mat"),
    (2, "hello world"),
    (3, ""),
    (4, "  spaced   out  words here "),
    (5, "solo"),
    (6, "the cat sat"),
]

# k=3, distinct=False. Docs 2 and 5 are shorter than k (one
# whole-string shingle), doc 3 has no tokens. Values as the separate
# string and pre-hashed shingle builders produced them.
_PINNED = {
    None: [
        (1, "cat sat on"), (1, "on the mat"), (1, "sat on the"),
        (1, "the cat sat"), (2, "hello world"), (4, "out words here"),
        (4, "spaced out words"), (5, "solo"), (6, "the cat sat"),
    ],
    "xxhash64": [
        (1, -7328270951497990681), (1, 584940913306581628),
        (1, 1202420172697667079), (1, 6374347959335489659),
        (2, 7620854247404556961), (4, -8761910958979876670),
        (4, 9145387254103078168), (5, -8998211557177089630),
        (6, 1202420172697667079),
    ],
    "md5_hash64": [
        (1, 1405128161), (1, 2600368758), (1, 2884907145),
        (1, 4113064982), (2, 1589001147), (4, 1677317808),
        (4, 3072306097), (5, 1448330929), (6, 4113064982),
    ],
}
_FAMILIES = {None: None, "xxhash64": F.xxhash64, "md5_hash64": dedup.md5_hash64}


@pytest.mark.parametrize("family", list(_PINNED))
def test_shingle_values_pinned_per_hash_family(spark, family):
    docs = spark.createDataFrame(_DOCS, "doc_id long, text string")
    sh = dedup.shingles(docs, k=3, distinct=False, hash_family=_FAMILIES[family])
    assert sorted(tuple(r) for r in sh.collect()) == _PINNED[family]
    # No document repeats a gram, so distinct keeps every row, the
    # gram docs 1 and 6 share included.
    distinct = dedup.shingles(docs, k=3, hash_family=_FAMILIES[family])
    assert sorted(tuple(r) for r in distinct.collect()) == _PINNED[family]


def _package_sources():
    return {
        p.relative_to(PKG).as_posix(): p.read_text() for p in PKG.rglob("*.py")
    }


def test_word_grams_are_built_in_one_place():
    slicers = sorted(f for f, src in _package_sources().items() if "F.slice(" in src)
    assert slicers == ["operators/text.py"]


# lead() stays only where it reads the next row of something that is
# not a token position: CDC chunk starts, winnowing over char-gram
# hashes, SCD2 validity ends and event gaps.
_LEAD_OK = {
    "operators/dedup.py",
    "operators/winnow.py",
    "queries/analytics.py",
    "queries/streaming_shapes.py",
}


def test_no_lead_over_token_positions():
    sources = _package_sources()
    leads = {f for f, src in sources.items() if "F.lead(" in src}
    assert leads <= _LEAD_OK, leads - _LEAD_OK
    for f in leads:
        for arg in re.findall(r"F\.lead\(([^,)]*)", sources[f]):
            assert not re.search(r"\b(tok|token|word|w\d?)\b", arg), (f, arg)


def test_char_gram_profile_caches_only_id_and_hash(spark, sf_small):
    df = all_queries()["substring_dup_profile"].builder(spark, sf_small)
    handles = release(df)
    assert [h.columns for h in handles] == [["doc_id", "gh"]]

"""BPE learn/encode properties: merge-list sanity, exact round-trip
(decode inverts encode), and token-count conservation (each merge
occurrence shortens the symbol stream by exactly one)."""

from __future__ import annotations

from pyspark.sql import functions as F

from optimized_climate_data_integration_with_real_time_llm_querying_spark.catalog import (
    load_table,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.lifecycle import (
    release,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators import (
    bpe,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.text import (
    tokens,
)

N = 6  # fewer rounds than the registered query: properties don't need 12


def _words(spark, sf_small):
    d = load_table(spark, sf_small, "documents")
    return d.select(F.explode(tokens("text")).alias("w"))


def test_learn_merges_shape_and_determinism(spark, sf_small):
    words = _words(spark, sf_small).persist()
    try:
        m1 = bpe.learn_merges(words, N)
        m2 = bpe.learn_merges(words, N)
    finally:
        words.unpersist()
    assert m1 == m2, "learning must be deterministic"
    assert len(m1) == N
    # every merge is a 2-symbol pair over the current alphabet
    assert all(len(p) == 2 for p in m1)
    # merges are distinct (a merged pair no longer exists to re-merge)
    assert len(set(m1)) == N


def test_encode_decode_round_trip(spark, sf_small):
    words = _words(spark, sf_small).persist()
    try:
        merges = bpe.learn_merges(words, N)
        n_bad = (
            words.select(
                "w",
                bpe.decode_merges(bpe.apply_merges("w", merges), merges).alias("rt"),
            )
            .filter(F.col("rt") != F.col("w"))
            .count()
        )
    finally:
        words.unpersist()
    assert n_bad == 0, "decode(apply(w)) must reproduce every word exactly"


def test_token_count_conservation(spark, sf_small):
    """len(word) == len(encoded) + total merge occurrences applied:
    every placeholder in the encoded stream stands for exactly one
    two-symbol merge, so expanding all placeholders (recursively, via
    decode) restores the original character count."""
    words = _words(spark, sf_small).persist()
    try:
        merges = bpe.learn_merges(words, N)
        enc = words.select("w", bpe.apply_merges("w", merges).alias("e"))
        # recursive expansion length: decode and re-measure
        row = (
            enc.select(
                F.sum(F.length("w")).alias("orig_chars"),
                F.sum(F.length("e")).alias("enc_syms"),
                F.sum(F.length(bpe.decode_merges("e", merges))).alias("dec_chars"),
            )
            .collect()[0]
        )
    finally:
        words.unpersist()
    assert row["dec_chars"] == row["orig_chars"]
    assert row["enc_syms"] < row["orig_chars"], "merges must actually fire"


def test_registered_encode_reconstructs_text(spark, sf_small):
    """bpe_encode_docs token ids decode back to the original words of
    the subset docs: ids -> chr -> concat per word -> decode merges."""
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.queries import (
        all_queries,
    )
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.queries.corpus_ops import (
        ENCODE_DOC_MOD,
        N_BPE_MERGES,
    )

    out = all_queries()["bpe_encode_docs"].builder(spark, sf_small)
    # rebuild words from token ids
    rebuilt = (
        out.groupBy("doc_id", "word_idx")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("sym_idx", "token_id"))
                    ),
                    lambda s: F.char(s["token_id"]),
                ),
            ).alias("enc_word")
        )
    )
    d = load_table(spark, sf_small, "documents")
    words = d.select(F.explode(tokens("text")).alias("w")).persist()
    try:
        merges = bpe.learn_merges(words, N_BPE_MERGES)
        expected = (
            d.filter(F.col("doc_id") % ENCODE_DOC_MOD == 0)
            .select("doc_id", F.posexplode(tokens("text")).alias("wi0", "w"))
            .select("doc_id", (F.col("wi0") + 1).alias("word_idx"), "w")
        )
        joined = rebuilt.join(expected, ["doc_id", "word_idx"], "full")
        n_bad = joined.filter(
            bpe.decode_merges("enc_word", merges) != F.col("w")
        ).count()
        n_null = joined.filter(
            F.col("enc_word").isNull() | F.col("w").isNull()
        ).count()
    finally:
        words.unpersist()
        release(out)
    assert n_bad == 0 and n_null == 0


def test_wordpiece_segments_reconstruct_words(spark, sf_oracle):
    """Greedy longest-match segmentation must cover every distinct
    corpus word exactly: concatenating a word's pieces in index order
    reproduces the word (single-char vocab coverage guarantees
    termination inside the unrolled rounds), and the greedy invariant
    holds — every piece is the longest vocab prefix at its cursor, so
    no piece may be extendable by the piece that follows it."""
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.queries import (
        all_queries,
    )

    q = all_queries()["wordpiece_greedy_segments"]
    df = q.builder(spark, sf_oracle)
    rows = df.collect()
    release(df)
    by_word: dict[str, list[tuple[int, str]]] = {}
    for r in rows:
        by_word.setdefault(r.word, []).append((r.piece_idx, r.piece))
    assert by_word
    for word, ps in by_word.items():
        pieces = [p for _, p in sorted(ps)]
        assert "".join(pieces) == word, (word, pieces)
    # At least some words segment into multiple pieces (vocabulary is
    # capped, so not everything can be a whole-word token).
    assert any(len(v) > 1 for v in by_word.values())


def test_unigram_segments_reconstruct_and_cover(spark, sf_small):
    """Viterbi-EM unigram segmentation: every distinct corpus word is
    segmented, pieces concatenate back to the word exactly, and every
    piece is a substring the model could have scored (length <= 6)."""
    from collections import defaultdict

    from pyspark.sql import functions as F
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.queries import (
        all_queries,
    )

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    words = {
        r.word
        for r in docs.select(
            F.explode(F.split(F.lower("text"), " ")).alias("word")
        )
        .where(F.col("word") != "")
        .distinct()
        .collect()
    }
    df = all_queries()["unigram_lm_segments"].builder(spark, sf_small)
    rows = df.collect()
    release(df)
    by_word = defaultdict(list)
    for r in rows:
        by_word[r.word].append((r.piece_idx, r.piece))
    assert set(by_word) == words
    for word, ps in by_word.items():
        ps.sort()
        assert [i for i, _ in ps] == list(range(1, len(ps) + 1))
        assert "".join(p for _, p in ps) == word
        assert all(1 <= len(p) <= 6 for _, p in ps)

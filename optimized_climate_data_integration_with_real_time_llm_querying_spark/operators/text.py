"""Text-analysis operators: tokenization, token counting, language ID,
quality scoring, fingerprinting.

Everything here is a pure column expression — no Python UDFs — so the
operators run inside whole-stage codegen and scale linearly with input
(no shuffle at all for per-document scoring; these are map-only).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Whitespace tokenizer shared by every operator. Empty/blank text ->
# empty token array (split('') would yield ['']).
_WS = r"\s+"


def tokens(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    t = F.trim(c)
    return F.when(t == "", F.array().cast("array<string>")).otherwise(F.split(t, _WS))


def word_grams(toks: Column, k: int) -> Column:
    """Every adjacent word ``k``-gram of a token array, in order, as an
    array of structs ``(t0, ..., t{k-1})``: gram i is ``toks[i:i+k]``.
    An array shorter than ``k`` has none.

    Built as ``arrays_zip`` over ``k`` shifted slices, so exploding it
    is a map-side step. A ``lead()`` window over token positions would
    shuffle and sort every corpus token by document first, and a
    ``transform`` lambda runs interpreted per element."""
    n = F.greatest(F.size(toks) - (k - 1), F.lit(0))
    return F.arrays_zip(
        *[F.slice(toks, F.lit(i + 1), n).alias(f"t{i}") for i in range(k)]
    )


def token_count(col: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(tokens(col))


# BPE-ish subword estimate: letter runs, digit runs, and single
# non-alphanumeric marks each count as one token — a cheap, regex-only
# stand-in for a real BPE vocab (the shape GPT-style pretokenizers use).
_BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_token_estimate(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(_BPE_PATTERN), F.lit(0)))


# Language-ID: count stopword hits per language, pick the argmax.
# n-gram-free heuristic (SURVEY-mandated lang-ID operator); the
# stopword inventories are tiny and inlined into the regex so the whole
# thing stays one codegen'd expression per language.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "a"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein"],
    "fr": ["le", "la", "les", "et", "est", "une", "des"],
    "es": ["el", "los", "las", "es", "una", "que", "por"],
}


def lang_hit_count(col: Column | str, lang: str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    pat = r"\b(" + "|".join(LANG_STOPWORDS[lang]) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(c), F.lit(pat), F.lit(0)))


def lang_id(col: Column | str) -> Column:
    """Predicted language = argmax of stopword hits, ties broken by the
    fixed en > de > fr > es priority; 'und' (undetermined) if no hits."""
    c = F.col(col) if isinstance(col, str) else col
    scores = {lang: lang_hit_count(c, lang) for lang in LANG_STOPWORDS}
    best = scores["en"]
    pred = F.lit("en")
    for lang in ["de", "fr", "es"]:
        is_better = scores[lang] > best
        pred = F.when(is_better, F.lit(lang)).otherwise(pred)
        best = F.when(is_better, scores[lang]).otherwise(best)
    return F.when(best > 0, pred).otherwise(F.lit("und"))


def _count_matches(col: Column, pattern: str) -> Column:
    return F.size(F.regexp_extract_all(col, F.lit(pattern), F.lit(0)))


def quality_features(col: Column | str) -> dict[str, Column]:
    """Per-document quality features (length / punctuation / stopword
    ratios — the reference-adjacent heuristics for pretraining-data
    filtering)."""
    c = F.col(col) if isinstance(col, str) else col
    n_chars = F.length(c)
    n_tokens = token_count(c)
    n_alpha = _count_matches(c, r"[A-Za-z]")
    n_punct = _count_matches(c, r"[!-/:-@\[-`{-~]")
    n_stop = lang_hit_count(c, "en")
    safe_tokens = F.greatest(n_tokens, F.lit(1))
    safe_chars = F.greatest(n_chars, F.lit(1))
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "avg_token_len": F.round((n_chars - (n_tokens - 1)) / safe_tokens.cast("double"), 4),
        "alpha_ratio": F.round(n_alpha / safe_chars.cast("double"), 4),
        "punct_ratio": F.round(n_punct / safe_chars.cast("double"), 4),
        "stopword_ratio": F.round(n_stop / safe_tokens.cast("double"), 4),
    }


def quality_score(col: Column | str) -> Column:
    """Composite quality in [0,1]: rewards alphabetic text with a sane
    stopword rate and token length, penalizes punctuation soup."""
    f = quality_features(col)
    raw = (
        0.4 * f["alpha_ratio"]
        + 0.3 * F.least(f["stopword_ratio"] * 4, F.lit(1.0))
        + 0.3 * (1 - F.least(f["punct_ratio"] * 5, F.lit(1.0)))
    )
    return F.round(raw, 4)


_GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_flags(col: Column | str) -> dict[str, Column]:
    """The Gopher quality-rule battery (Rae et al. 2021, §A1.1 — the
    published heuristic set MassiveWeb filtering used, reused by many
    later corpora): each rule as a 0/1 flag plus the features it
    reads. Rules here: word count in [50, 100k]; mean word length in
    [3, 10]; symbol-to-word ratio (# and ...) <= 0.1; >= 80% of words
    contain an alphabetic character; >= 2 distinct Gopher stopwords.
    (The two line-shape rules — bullet/ellipsis line ratios — are
    omitted: the corpus is single-line, they'd be constants.) All
    map-only codegen'd expressions; mean word length uses the
    single-space identity (n_chars - (n_words - 1)) / n_words the
    whole text family already relies on."""
    c = F.col(col) if isinstance(col, str) else col
    t = tokens(c)
    n_words = F.size(t)
    safe_words = F.greatest(n_words, F.lit(1))
    mean_wl = F.round(
        (F.length(F.trim(c)) - (n_words - 1)) / safe_words.cast("double"), 4
    )
    n_symbols = _count_matches(c, r"#") + _count_matches(c, r"\.\.\.")
    symbol_ratio = F.round(n_symbols / safe_words.cast("double"), 4)
    n_alpha_words = F.size(F.filter(t, lambda x: x.rlike("[A-Za-z]")))
    alpha_word_ratio = F.round(n_alpha_words / safe_words.cast("double"), 4)
    n_stop_distinct = F.size(
        F.array_intersect(
            F.array_distinct(F.transform(t, F.lower)),
            F.array(*[F.lit(s) for s in _GOPHER_STOPWORDS]),
        )
    )
    flags = {
        "f_word_count": ((n_words >= 50) & (n_words <= 100_000)).cast("int"),
        "f_mean_word_len": ((mean_wl >= 3.0) & (mean_wl <= 10.0)).cast("int"),
        "f_symbol_ratio": (symbol_ratio <= 0.1).cast("int"),
        "f_alpha_words": (alpha_word_ratio >= 0.8).cast("int"),
        "f_stopwords": (n_stop_distinct >= 2).cast("int"),
    }
    passes = F.lit(1)
    for f in flags.values():
        passes = passes * f
    return {
        "n_words": n_words,
        "mean_word_len": mean_wl,
        "symbol_ratio": symbol_ratio,
        "alpha_word_ratio": alpha_word_ratio,
        "n_stop_distinct": n_stop_distinct,
        **flags,
        "passes_gopher": passes.cast("int"),
    }


def normalize_text(col: Column | str) -> Column:
    """Canonical form for exact-dedup/fingerprinting: lowercase, trim,
    collapse whitespace runs to single spaces."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.lower(F.trim(c)), _WS, " ")


def fingerprint(col: Column | str) -> Column:
    """Deterministic 128-bit document fingerprint (md5 hex of the
    normalized text). md5 (not xxhash64) so external oracles can
    reproduce it."""
    return F.md5(normalize_text(col).cast("binary"))


def pmi_bigrams(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 10,
    top: int = 30,
) -> DataFrame:
    """(w1, w2, n_pair, pmi): top collocations by pointwise mutual
    information — PMI = ln(P(xy) / (P(x)P(y))) with bigram probability
    over adjacent-token pairs and unigram probabilities over all
    tokens (Church & Hanks 1990). ``min_count`` filters the unstable
    low-frequency tail before ranking; output is the ``top`` pairs by
    PMI, tie-broken lexicographically.

    Plan shape: the bigrams (:func:`word_grams`) and the tokens are
    exploded map-side from one scan, with no per-document window; the
    two scalar totals broadcast via 1-row cross joins; the final rank
    is TakeOrderedAndProject. Shuffles move (word[, word]) count rows —
    vocabulary-sized, not corpus-sized — after map-side partial
    aggregation, so the heavy frames never leave their partitions
    unaggregated. The PMI arithmetic is written as one fixed double
    expression (cast-first, left-associated) so external oracles
    replay it bit-for-bit up to the final ln ulp.
    """
    toks = tokens(F.lower(F.col(text_col)))
    big = df.select(F.explode(word_grams(toks, 2)).alias("g")).select(
        F.col("g.t0").alias("w1"), F.col("g.t1").alias("w2")
    )
    c_xy = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    n_bi = big.agg(F.count(F.lit(1)).alias("n_bi"))
    uni = (
        df.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_tok = uni.agg(F.sum("c").alias("n_tok"))
    cx = uni.select(F.col("w").alias("w1"), F.col("c").alias("c_x"))
    cy = uni.select(F.col("w").alias("w2"), F.col("c").alias("c_y"))
    pmi = F.round(
        F.log(
            (F.col("n_pair").cast("double") * F.col("n_tok") * F.col("n_tok"))
            / (F.col("n_bi").cast("double") * F.col("c_x") * F.col("c_y"))
        ),
        4,
    )
    return (
        c_xy.filter(F.col("n_pair") >= min_count)
        .join(cx, "w1")
        .join(cy, "w2")
        .crossJoin(F.broadcast(n_bi))
        .crossJoin(F.broadcast(n_tok))
        .select("w1", "w2", "n_pair", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(top)
    )


def chunk_spans(
    df: DataFrame,
    chunk_tokens: int = 512,
    overlap: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the
    context-window fitting step of a pretraining pipeline (long docs
    become ``chunk_tokens``-sized spans striding ``chunk_tokens -
    overlap``; the reference has no equivalent, net-new for LLM prep).

    Emits (doc_id, chunk_idx, start_tok, end_tok, chunk_len) spans
    over the whitespace-token sequence; the text itself is not
    re-materialized (callers slice lazily, keeping the shuffle to 5
    scalars/row). Fully relational: sequence() + explode, no UDFs, so
    it's codegen'd and oracle-checkable. Docs with zero tokens yield
    no chunks; docs shorter than one window yield exactly one.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    base = df.select(
        F.col(id_col), token_count(text_col).cast("long").alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    n_chunks = F.when(F.col("n_tokens") <= chunk_tokens, F.lit(1).cast("long")).otherwise(
        F.ceil((F.col("n_tokens") - chunk_tokens) / F.lit(float(stride))).cast("long")
        + 1
    )
    start = F.col("chunk_idx") * stride
    end = F.least(start + chunk_tokens, F.col("n_tokens"))
    return (
        base.withColumn("chunk_idx", F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)))
        .select(
            F.col(id_col),
            F.col("chunk_idx"),
            start.alias("start_tok"),
            end.alias("end_tok"),
            (end - start).alias("chunk_len"),
        )
    )


# PII scrubbing: the pre-training hygiene step every corpus pass runs.
# Patterns are deliberately RE2-compatible (no lookaround, no
# backtracking subtleties) so an external engine (DuckDB/RE2) computes
# the identical redaction — and they are structurally disjoint (email
# needs '@', phone is dash-separated, IPv4 dot-separated) so
# application order can't change the result.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("phone", r"\b\d{3}-\d{3}-\d{4}\b", "[PHONE]"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
]


def pii_counts(col: Column | str) -> dict[str, Column]:
    """Per-document match counts for each PII class (map-only)."""
    c = F.col(col) if isinstance(col, str) else col
    return {
        name: F.size(F.regexp_extract_all(c, F.lit(pat), F.lit(0)))
        for name, pat, _ in PII_PATTERNS
    }


def redact_pii(col: Column | str) -> Column:
    """Replace every PII match with its class token ([EMAIL]/[PHONE]/
    [IP]). Pure regexp_replace chain — codegen'd, no UDFs, no
    shuffle."""
    c = F.col(col) if isinstance(col, str) else col
    for _, pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 2
) -> DataFrame:
    """Gopher-style repetition features: total k-gram occurrences, the
    most frequent k-gram's count, and its fraction of all k-grams —
    the standard signal for filtering degenerate/boilerplate documents
    from pretraining corpora (a doc whose top 2-gram is >20% of all
    2-grams is template spam, not prose).

    Relational: non-distinct hashed shingles -> count per (doc,
    shingle) -> max/sum per doc. Both aggregates are two-phase with
    8-byte shuffle keys; nothing touches raw text after the shingling
    map. Docs shorter than k tokens count their whole token string as
    one k-gram (frac 1.0), matching :func:`~..operators.dedup.shingles`.
    """
    from .dedup import shingles

    sh = shingles(df, text_col, id_col, k, distinct=False, hash_family=F.xxhash64)
    counts = sh.groupBy(id_col, "shingle").agg(F.count(F.lit(1)).alias("c"))
    return counts.groupBy(id_col).agg(
        F.sum("c").alias("n_kgrams"),
        F.max("c").alias("top_kgram_count"),
        F.round(F.max("c") / F.sum("c").cast("double"), 6).alias("top_kgram_frac"),
    )


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the full per-document analysis column set (map-only)."""
    feats = quality_features(text_col)
    return df.select(
        "*",
        feats["n_tokens"].alias("n_tokens"),
        bpe_token_estimate(text_col).alias("n_bpe_tokens"),
        feats["avg_token_len"].alias("avg_token_len"),
        feats["alpha_ratio"].alias("alpha_ratio"),
        feats["punct_ratio"].alias("punct_ratio"),
        feats["stopword_ratio"].alias("stopword_ratio"),
        quality_score(text_col).alias("quality_score"),
        lang_id(text_col).alias("pred_lang"),
        fingerprint(text_col).alias("fingerprint"),
    )

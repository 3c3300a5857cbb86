"""Deduplication operators for pretraining-scale corpora.

Four families, all shuffle-conscious:

- **Exact**: hash-groupBy on (normalized) text. One shuffle on a
  128-bit fingerprint, never on the raw text bytes — at 100 TB the
  shuffle moves 16-byte keys, not documents.
- **N-gram Jaccard**: shingle -> explode -> equi-join on shingle ->
  per-pair intersection counts. Fully relational (no UDFs), with a
  document-frequency cap so ubiquitous shingles don't produce a
  quadratic join blowup.
- **MinHash + LSH**: shingle -> per-seed min of xxhash64 -> band
  buckets -> equi-join within buckets -> exact-Jaccard verify on the
  candidates only. The canonical sub-quadratic near-dup pipeline.
- **SimHash**: 64-bit signature from token hashes; candidates share a
  16-bit band; verify by Hamming distance.

Everything is deterministic (xxhash64 with fixed literal seeds) so
runs are reproducible across sessions and scale factors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..lifecycle import hold
from .text import normalize_text, tokens, word_grams


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------

def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group identical texts: representative (min id) + duplicate count.

    Shuffles on the md5 fingerprint of normalized text, not the text
    itself; group sizes are tiny so no skew handling needed.
    """
    fp = F.md5(normalize_text(text_col).cast("binary"))
    return (
        df.select(F.col(id_col), fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def drop_exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative row per normalized text (min id wins —
    deterministic, unlike dropDuplicates which keeps an arbitrary row)."""
    w_keep = exact_duplicates(df, text_col, id_col).select(F.col("keep_id").alias(id_col))
    return df.join(w_keep, id_col, "left_semi")


# --------------------------------------------------------------------------
# Shingling (shared by Jaccard + MinHash)
# --------------------------------------------------------------------------

def shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    distinct: bool = True,
    hash_family=None,
) -> DataFrame:
    """(id, shingle) pairs: k-word shingles per document (distinct by
    default — pass distinct=False for consumers where duplicates are
    harmless, e.g. MinHash mins, to skip the dedup shuffle). The grams
    are the map-side :func:`~.text.word_grams`.

    A doc with < k tokens contributes its whole token string as a
    single shingle so short docs still participate.

    ``hash_family`` None keeps the shingle strings (the k words joined
    by single spaces). ``F.xxhash64`` hashes the k gram columns at the
    source, so no shingle string is built and every downstream
    distinct, join and aggregate moves 8-byte longs; equal k-grams hash
    equal, so Jaccard arithmetic is unchanged up to negligible 64-bit
    collisions. Any other family (:func:`md5_hash64`, the
    DuckDB-recomputable twin) hashes the shingle string, which is what
    an oracle can recompute.
    """
    toks = tokens(text_col)
    gram = [F.col(f"g.t{i}") for i in range(k)]
    whole = F.concat_ws(" ", toks)
    if hash_family is F.xxhash64:
        gram, whole = F.xxhash64(*gram), F.xxhash64(whole)
    else:
        gram = F.concat_ws(" ", *gram)
    long_docs = df.select(
        F.col(id_col), F.explode(word_grams(toks, k)).alias("g")
    ).select(F.col(id_col), gram.alias("shingle"))
    short_docs = df.select(F.col(id_col), whole.alias("shingle")).filter(
        (F.size(toks) < k) & (F.size(toks) > 0)
    )
    out = long_docs.unionAll(short_docs)
    if hash_family is not F.xxhash64:
        # Only the string forms drop an empty shingle (a k=1 gram of the
        # empty token split() leaves after a leading tab); the
        # pre-hashed form keeps it, so its values stay what they were.
        out = out.filter(F.col("shingle") != "")
        if hash_family is not None:
            out = out.select(
                F.col(id_col), hash_family(F.col("shingle")).alias("shingle")
            )
    return out.distinct() if distinct else out


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    min_jaccard: float = 0.0,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """Exact Jaccard similarity on k-gram shingle sets for every pair
    sharing >= 1 shingle. Relational plan: explode -> self-equi-join on
    shingle -> count -> inclusion-exclusion.

    ``max_shingle_df`` drops shingles appearing in more than that many
    documents before the join — the standard stop-shingle guard that
    keeps the join from going quadratic on boilerplate at corpus scale
    (a shingle in f docs yields f^2 join rows).

    Shingles are xxhash64'd to 8-byte keys before any shuffle: the
    equi-join and both aggregates move longs instead of ~3-word
    strings (a 64-bit collision merging two shingles needs ~2^32
    distinct shingles per doc pair to matter — negligible).
    """
    sh = shingles(df, text_col, id_col, k, hash_family=F.xxhash64)
    if max_shingle_df is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df_count"))
            .filter(F.col("df_count") <= max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(rare, "shingle", "left_semi")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    out = (
        inter.join(sizes.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b")), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("size_a") + F.col("size_b") - F.col("n_common")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "n_common", "size_a", "size_b", "jaccard")
    )
    return out


def allpairs_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.6,
    hash_family=F.xxhash64,
) -> DataFrame:
    """EXACT all-pairs Jaccard >= ``threshold`` via prefix filtering
    (AllPairs, Bayardo et al. WWW'07; PPJoin, Xiao et al. WWW'08).

    The third point in the near-dup design space, alongside
    :func:`ngram_jaccard_pairs` (exact per-pair score, but candidate
    generation needs the stop-shingle df cap — an approximation that
    silently drops pairs whose overlap is all boilerplate) and
    :func:`minhash_near_duplicates` (sub-quadratic but probabilistic).
    Prefix filtering is exact AND sub-quadratic at a fixed threshold:
    order each doc's shingles by ascending global document frequency
    (rarest first, ties by shingle value), keep only the first
    ``|d| - ceil(t*|d|) + 1`` shingles as the doc's *prefix*, and
    equi-join prefixes. Any pair with J >= t must share a prefix
    shingle (prefix-filtering principle: |x ∩ y| >= ceil(t*max(|x|,
    |y|)) forces an intersection inside the (|z| - ceil(t*|z|) +
    1)-prefixes), so candidate generation has NO false negatives; an
    exact intersection count on the candidates then removes the false
    positives. No df cap, no probability — brute force ground truth,
    reached without the quadratic join.

    Scale shape: the prefix join fans out on the *rarest* tokens of
    each doc, so ubiquitous shingles participate only for docs where
    nothing rarer exists; candidate volume is sum over prefix shingles
    of df_prefix^2, tiny next to the full join's sum of df^2. The
    verify join is bounded by sum(|d1|) over candidates. Shingles are
    hashed to 8-byte keys before any shuffle; the df ranking reuses
    the shingle-partitioned shuffle and the per-doc position window
    shares its doc-partitioning with the size aggregate. Raising
    ``threshold`` shrinks prefixes (cost falls as the job gets more
    selective — the right direction for a 100 TB dedup pass).

    ``hash_family``: xxhash64 (production) or :func:`md5_hash64` (the
    DuckDB-recomputable twin — with it the ENTIRE pipeline, filter
    included, is checkable against brute force in SQL, which is the
    strongest statement the exactness theorem can get). The epsilon in
    the two ceil/size filters only ever *lengthens* a prefix or
    *keeps* a borderline candidate under float rounding of t*n — both
    directions preserve exactness (extra candidates die in verify).

    REGIME BOUNDARY (measured, BASELINE.md): prefix filtering is
    content-rarity-based blocking, so above VOCABULARY SATURATION —
    when even a doc's rarest shingles are shared by many docs —
    candidate volume goes quadratic (measured alpha 1.68 on the
    uniform-vocabulary twin; the PPJoin positional filter was
    measured to remove only ~1% there and is deliberately not
    shipped). In that density regime use
    :func:`minhash_near_duplicates` / the SimHash band family, whose
    hash-based blocking is content-rarity-independent; this operator
    is the exact-threshold tool for real Zipfian corpora.
    """
    from pyspark.sql import Window as W

    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    t = float(threshold)
    # Distinct AFTER hashing: a (vanishingly rare) in-doc hash
    # collision then shrinks the set identically to how an oracle
    # recomputing distinct hashed shingles sees it.
    sh = shingles(
        df, text_col, id_col, k, distinct=False, hash_family=hash_family
    ).distinct()
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_count"))
    w_pos = W.partitionBy(id_col).orderBy("df_count", "shingle")
    positioned = sh.join(dfreq, "shingle").select(
        F.col(id_col),
        "shingle",
        F.row_number().over(w_pos).alias("pos"),
        F.count(F.lit(1)).over(W.partitionBy(id_col)).alias("set_size"),
    )
    prefix = positioned.filter(
        F.col("pos")
        <= F.col("set_size") - F.ceil(F.col("set_size") * t - 1e-9) + 1
    )
    a = prefix.select(
        F.col(id_col).alias("id_a"), "shingle", F.col("set_size").alias("size_a")
    )
    b = prefix.select(
        F.col(id_col).alias("id_b"), "shingle", F.col("set_size").alias("size_b")
    )
    cand = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        # Length filter: J >= t forces min(|x|,|y|) >= t*max(|x|,|y|).
        .filter(
            F.least("size_a", "size_b").cast("double")
            >= F.greatest("size_a", "size_b") * t - 1e-9
        )
        .select("id_a", "id_b")
        .distinct()
    )
    ta = sh.select(F.col(id_col).alias("id_a"), "shingle")
    tb = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        cand.join(ta, "id_a")
        .join(tb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))
    raw = F.col("n_common") / (
        F.col("size_a") + F.col("size_b") - F.col("n_common")
    ).cast("double")
    out = (
        inter.join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b")),
            "id_b",
        )
        # Exact-threshold verify on the RAW double (rounding only for
        # display): same integer inputs -> same IEEE division in any
        # engine recomputing it.
        .filter(raw >= F.lit(t))
        .select(
            "id_a",
            "id_b",
            "n_common",
            "size_a",
            "size_b",
            F.round(raw, 6).alias("jaccard"),
        )
    )
    return out


def weighted_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    min_jaccard: float = 0.0,
    max_shingle_df: int | None = 1000,
    hash_family=F.xxhash64,
) -> DataFrame:
    """Multiset (occurrence-weighted) Jaccard pairs over k-gram
    shingles: J_w(A, B) = sum_s min(c_A(s), c_B(s)) /
    sum_s max(c_A(s), c_B(s)) with c the shingle's occurrence count.

    Set Jaccard (:func:`ngram_jaccard_pairs`) collapses repeats — a
    doc that repeats one templated sentence ten times looks identical
    to one containing it once. The weighted form sees repetition
    structure, which is what separates boilerplate-heavy/templated
    docs from true near-copies — the multiset identity the ICWS
    family of weighted-MinHash sketches estimates, computed here
    exactly. For repeat-free documents it equals set Jaccard
    (property-tested).

    Relational plan (the ngram_jaccard shape plus counts): shingle
    WITHOUT dedup -> per-(doc, shingle) counts -> self-equi-join on
    the shingle -> SUM(LEAST(c_a, c_b)); the denominator follows from
    the multiset identity sum(max) = |A| + |B| - sum(min), so no
    second join. Shingles are hashed to 8-byte keys at the source;
    ``max_shingle_df`` is the stop-shingle guard keeping pair fan-out
    sub-quadratic at corpus scale. ``hash_family``: xxhash64
    (default, production) and :func:`md5_hash64` (the DuckDB-
    recomputable twin, the tfidf_doc_similarity precedent) both join
    on 8-byte keys; ``None`` keeps raw shingle strings.
    """
    sh = shingles(df, text_col, id_col, k, distinct=False, hash_family=hash_family)
    counts = sh.groupBy(id_col, "shingle").agg(F.count(F.lit(1)).alias("c"))
    if max_shingle_df is not None:
        rare = (
            counts.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df_count"))
            .filter(F.col("df_count") <= max_shingle_df)
            .select("shingle")
        )
        counts = counts.join(rare, "shingle", "left_semi")
    sizes = counts.groupBy(id_col).agg(F.sum("c").alias("total"))
    a = counts.select(F.col(id_col).alias("id_a"), "shingle", F.col("c").alias("c_a"))
    b = counts.select(F.col(id_col).alias("id_b"), "shingle", F.col("c").alias("c_b"))
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.least("c_a", "c_b")).alias("sum_min"))
    )
    out = (
        inter.join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("total").alias("size_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("total").alias("size_b")),
            "id_b",
        )
        .withColumn(
            "w_jaccard",
            F.round(
                F.col("sum_min")
                / (F.col("size_a") + F.col("size_b") - F.col("sum_min")).cast("double"),
                6,
            ),
        )
        .filter(F.col("w_jaccard") >= min_jaccard)
        .select("id_a", "id_b", "w_jaccard")
    )
    return out


def cdc_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 8,
    gate: int = 64,
    hash_family=None,  # default md5_hash64 (defined below), oracle-able
) -> DataFrame:
    """Content-defined chunking (the rolling-hash boundary idea behind
    rsync/LBFS/FastCDC): a chunk boundary falls AFTER char position e
    whenever the hash of the w-gram ending at e passes the gate
    (h % gate == 0), so boundaries are anchored to CONTENT, not
    offsets — an insertion early in a document shifts every
    fixed-size block but leaves all later CDC chunks identical, which
    is what makes chunk-level dedup robust to edits. Expected chunk
    length = ``gate`` chars.

    Returns (id, chunk_idx, chunk_start, chunk_len, chunk) — 1-based
    start, chunks concatenate back to the exact document
    (property-tested). Plan shape: one position explode (n-w+1 rows
    per doc, the winnowing scan shape) + two per-doc window passes
    (boundary ordering + lead for chunk ends); no self-joins, no
    Python. With the default md5 family every boundary decision
    replays in DuckDB.
    """
    from pyspark.sql import Window as W

    if hash_family is None:
        hash_family = md5_hash64
    t = F.trim(F.col(text_col))
    base = df.select(F.col(id_col), t.alias("tx"), F.length(t).alias("n")).filter(
        F.col("n") > 0
    )
    # n >= w guard: F.sequence(w, n) would emit a DESCENDING range for
    # shorter docs (Spark's default step is -1 when start > stop);
    # sub-w docs simply have no gate positions and stay one chunk.
    grams = base.filter(F.col("n") >= w).select(
        F.col(id_col),
        "tx",
        "n",
        F.explode(F.sequence(F.lit(w), F.col("n"))).alias("e"),
    )
    ends = grams.filter(
        F.pmod(hash_family(F.expr(f"substring(tx, e - {w} + 1, {w})")), F.lit(gate))
        == 0
    ).select(F.col(id_col), "tx", "n", F.col("e").alias("end_pos"))
    # Chunk starts: position 1 plus (end + 1) for every gate hit that
    # is not already the document end.
    starts = (
        base.select(F.col(id_col), "tx", "n", F.lit(1).alias("s"))
        .unionByName(
            ends.filter(F.col("end_pos") < F.col("n")).select(
                F.col(id_col), "tx", "n", (F.col("end_pos") + 1).alias("s")
            )
        )
        .distinct()
    )
    win = W.partitionBy(id_col).orderBy("s")
    return (
        starts.select(
            F.col(id_col),
            "tx",
            "n",
            "s",
            (F.row_number().over(win) - 1).alias("chunk_idx"),
            F.coalesce(F.lead("s").over(win), F.col("n") + 1).alias("next_s"),
        )
        .select(
            F.col(id_col),
            "chunk_idx",
            F.col("s").alias("chunk_start"),
            (F.col("next_s") - F.col("s")).alias("chunk_len"),
            F.expr("substring(tx, s, next_s - s)").alias("chunk"),
        )
    )


def decontaminate(
    corpus: DataFrame,
    test_set: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_common: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """Test-set decontamination: drop corpus documents sharing >=
    ``min_common`` distinct k-gram shingles with any test document.

    Relational plan: shingle both sides, semi-join style overlap count
    on the shingle key, anti-join the contaminated ids out. Shingles
    are xxhash64'd so the join/shuffle keys are 8-byte longs, not
    5-word strings; the contaminated-id set is tiny and broadcasts.
    Returns (clean, contaminated_ids).
    """
    c_sh = shingles(corpus, text_col, id_col, k, hash_family=F.xxhash64)
    t_sh = (
        shingles(test_set, text_col, id_col, k, hash_family=F.xxhash64)
        .select("shingle")
        .distinct()
    )
    contaminated = (
        c_sh.join(t_sh, "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )
    clean = corpus.join(contaminated.select(id_col), id_col, "left_anti")
    return clean, contaminated


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

def md5_hash64(*cols) -> "F.Column":
    """Cross-engine deterministic hash (oracle-hygiene rule 6): Spark
    ``conv(substring(md5(concat_ws(':', ...)), 1, 8), 16, 10)`` equals
    DuckDB ``CAST('0x' || substr(md5(...), 1, 8) AS BIGINT)`` — a
    32-bit-valued long both engines compute identically over the same
    ':'-joined string. The slow-but-oracle-able twin of ``xxhash64``:
    registered ``*_md5`` query variants use it so DuckDB can recompute
    the full signature -> band -> candidate -> verify pipeline, while
    production defaults keep xxhash64 (64-bit, no hex/string work).

    This is the one Spark side of rule 6: every md5 bucket in the
    package is this value, with ``pmod``/``%`` where a site buckets.
    ``concat_ws`` skips NULL arguments, so a NULL hashes as if it were
    absent: ``md5_hash64(NULL)`` is the hash of the empty string,
    never NULL (DuckDB's ``md5(NULL)`` is NULL, so a twin over a
    nullable key must say how it treats NULL; the registry's keys
    are non-null).
    """
    s = F.concat_ws(":", *[c.cast("string") for c in cols])
    return F.conv(F.substring(F.md5(s.cast("binary")), 1, 8), 16, 10).cast("long")


def _minhash_shingles(df, text_col, id_col, k, hash_family) -> DataFrame:
    """Non-distinct shingles for a MinHash ``hash_family``: pre-hashed
    longs under xxhash64; under any other family the strings, which
    the family hashes per seed exactly as an oracle recomputes them."""
    pre = F.xxhash64 if hash_family is F.xxhash64 else None
    return shingles(df, text_col, id_col, k, distinct=False, hash_family=pre)


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    k: int = 3,
    hash_family=F.xxhash64,
) -> DataFrame:
    """(id, mh_0..mh_{n-1}): per-document MinHash signature.

    Hash family j is ``hash_family(j, shingle)`` — JVM-side,
    deterministic, no Python; the default is xxhash64, and the
    oracle-able :func:`md5_hash64` family plugs in for registered
    ``*_md5`` twins. One explode + one hash-aggregate; the aggregate
    does map-side partial mins so the shuffle carries only signatures.
    Duplicate shingles don't change a min, so the dedup shuffle is
    skipped (distinct=False). With the xxhash64 family, shingles are
    pre-hashed to longs so the per-seed hashing and partial mins run
    over 8-byte keys; the md5 family keeps string shingles so the
    oracle can recompute them.
    """
    sh = _minhash_shingles(df, text_col, id_col, k, hash_family)
    aggs = [
        F.min(hash_family(F.lit(j), F.col("shingle"))).alias(f"mh_{j}")
        for j in range(num_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def band_buckets(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    hash_family=F.xxhash64,
) -> DataFrame:
    """(id, band, bucket) rows: each document's LSH band buckets —
    bucket = hash_family(band, the band's row-mins in j order). This
    IS the compact persistable LSH index of a corpus (bands rows of
    ~24 bytes per doc, no text, no shingles): store it once, band new
    batches against it, never recompute the old side
    (:func:`incremental_minhash_near_duplicates`)."""
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(hash_family(F.lit(b), *cols).alias(f"band_{b}"))
    banded = signatures.select(F.col(id_col), *band_cols)
    return banded.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), F.col(f"band_{b}").alias("bucket"))
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(F.col(id_col), F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    max_bucket_size: int = 200,
    hash_family=F.xxhash64,
) -> DataFrame:
    """Banding: docs agreeing on all rows of any band become candidate
    pairs. Pairs are generated by an equi-join on (band, bucket-hash);
    oversized buckets (degenerate content) are dropped by
    ``max_bucket_size`` — the LSH skew guard. ``hash_family`` folds a
    band's row values into its bucket key (default xxhash64;
    :func:`md5_hash64` for oracle-able twins).
    """
    buckets = band_buckets(signatures, id_col, num_hashes, bands, hash_family)
    small = (
        buckets.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") <= max_bucket_size)
        .select("band", "bucket")
    )
    buckets = buckets.join(small, ["band", "bucket"], "left_semi")
    a = buckets.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b = buckets.select(F.col(id_col).alias("id_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    k: int = 3,
    min_jaccard: float = 0.5,
    hash_family=F.xxhash64,
) -> DataFrame:
    """Full MinHash-LSH pipeline: signatures -> banded candidates ->
    exact-Jaccard verification of the candidates ONLY.

    ``hash_family`` parameterizes the permutation family: the default
    xxhash64 is the production path (8-byte pre-hashed shingles);
    passing :func:`md5_hash64` keeps string shingles and derives every
    hash from md5, so a DuckDB oracle can recompute the entire
    signature -> band -> candidate -> verify pipeline exactly (see
    the registered ``minhash_near_dup_pairs_md5`` twin).

    Verification joins each candidate pair to its two shingle sets
    (collected as arrays) and computes |A∩B| via array_intersect —
    work proportional to the candidate count, never to all pairs.
    That's the sub-quadratic contract that makes LSH worth running
    at corpus scale.

    Signatures AND verification sets come from ONE shingling pass:
    a single groupBy(id) computes the per-seed mins and the
    collect_set together (collect_set dedups internally, so the
    non-distinct shingle frame serves both). The combined aggregate
    is persisted (MEMORY_AND_DISK default — spills, never OOMs) so
    the candidate branch and the verification branch share one
    tokenize+shingle+aggregate stage instead of recomputing it;
    column pruning would otherwise specialize the two branches into
    different aggregates that ReuseExchange can't unify.

    The persisted frame stays pinned until the caller runs
    ``lifecycle.release`` on the result (one-shot batch jobs can let
    the app teardown reclaim it).

    Shingles are pre-hashed to 8-byte longs, so the signature mins,
    the persisted collect_set, and the array_intersect verify all
    operate on longs — the persisted frame holds ~8 bytes per
    distinct shingle instead of a multi-word string.
    """
    sh = _minhash_shingles(df, text_col, id_col, k, hash_family)
    aggs = [
        F.min(hash_family(F.lit(j), F.col("shingle"))).alias(f"mh_{j}")
        for j in range(num_hashes)
    ] + [F.collect_set("shingle").alias("shingle_set")]
    combined = sh.groupBy(id_col).agg(*aggs).persist()
    sigs = combined.select(F.col(id_col), *[f"mh_{j}" for j in range(num_hashes)])
    cands = lsh_candidate_pairs(sigs, id_col, num_hashes, bands, hash_family=hash_family)
    sets = combined.select(F.col(id_col), "shingle_set")
    result = (
        cands.join(
            sets.select(F.col(id_col).alias("id_a"), F.col("shingle_set").alias("set_a")), "id_a"
        )
        .join(
            sets.select(F.col(id_col).alias("id_b"), F.col("shingle_set").alias("set_b")), "id_b"
        )
        .withColumn("n_common", F.size(F.array_intersect("set_a", "set_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.size("set_a") + F.size("set_b") - F.col("n_common")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "jaccard")
    )
    return hold(result, combined)


def minhash_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    k: int = 3,
    hash_family=F.xxhash64,
) -> DataFrame:
    """The persistable LSH index of a corpus: (id, band, bucket) rows
    from :func:`band_buckets` over the MinHash signatures. ``bands``
    rows of ~24 bytes per document — at 100 TB of text this is a few
    hundred GB of 8-byte keys, cheap to store as Parquet and to
    shuffle. Incremental curation re-reads THIS instead of
    re-shingling the existing corpus when a new crawl arrives."""
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, k, hash_family)
    return band_buckets(sigs, id_col, num_hashes, bands, hash_family)


def incremental_minhash_near_duplicates(
    old_index: DataFrame,
    old_docs: DataFrame,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    k: int = 3,
    min_jaccard: float = 0.5,
    max_bucket_size: int = 200,
    hash_family=F.xxhash64,
) -> DataFrame:
    """Cross-batch near-dup detection: find every near-dup pair that
    TOUCHES the new batch (new-vs-old and new-vs-new) without
    re-shingling the existing corpus.

    The old side enters only as (a) its compact LSH index
    (``old_index`` from :func:`minhash_index` — typically re-read from
    Parquet, bands x 24 bytes per doc) and (b) ``old_docs`` text
    consulted EXCLUSIVELY for candidate-touched ids (a left-semi join
    cuts it before any shingling), so per-batch cost is proportional
    to the new batch plus its candidate volume, never to corpus size.

    Equivalence contract: because a document's signature and buckets
    depend only on its own text, and the bucket-size guard counts the
    UNION population (old index + new batch — exactly the full-corpus
    population), the result equals the full-corpus
    :func:`minhash_near_duplicates` run restricted to pairs with at
    least one new-side id — asserted per-cell in
    tests/test_incremental_dedup.py and by the registered query's
    DuckDB oracle.

    The result holds the persisted new-batch combined aggregate and
    candidate frames.
    """
    # One shingling pass over the NEW batch feeds both its signatures
    # and its verify-stage shingle sets (the minhash_near_duplicates
    # combined-aggregate shape).
    new_sh = _minhash_shingles(new_docs, text_col, id_col, k, hash_family)
    aggs = [
        F.min(hash_family(F.lit(j), F.col("shingle"))).alias(f"mh_{j}")
        for j in range(num_hashes)
    ] + [F.collect_set("shingle").alias("shingle_set")]
    new_combined = new_sh.groupBy(id_col).agg(*aggs).persist()
    new_sigs = new_combined.select(
        F.col(id_col), *[f"mh_{j}" for j in range(num_hashes)]
    )
    new_buckets = band_buckets(new_sigs, id_col, num_hashes, bands, hash_family)

    # Persist the union bucket population: it feeds the size guard AND
    # both join sides AND (via cands) the verify stage — without the
    # persist each consumer re-derives the OLD side's signatures from
    # text, which is exactly the recompute the incremental contract
    # forbids (measured 36 s -> ~4 s at sf0.1). In production the old
    # half arrives pre-materialized from Parquet; the persist makes
    # the in-query build behave the same way.
    union = (
        old_index.select(
            F.col(id_col), "band", "bucket", F.lit(False).alias("is_new")
        )
        .unionByName(
            new_buckets.select(
                F.col(id_col), "band", "bucket", F.lit(True).alias("is_new")
            )
        )
        .persist()
    )
    small = (
        union.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") <= max_bucket_size)
        .select("band", "bucket")
    )
    guarded = union.join(small, ["band", "bucket"], "left_semi")
    a = guarded.select(
        F.col(id_col).alias("id_a"), "band", "bucket", F.col("is_new").alias("new_a")
    )
    b = guarded.select(
        F.col(id_col).alias("id_b"), "band", "bucket", F.col("is_new").alias("new_b")
    )
    # cands is read twice (verify join + the touched-ids cut): persist
    # the tiny pair list so the banded self-join runs once.
    cands = (
        a.join(b, ["band", "bucket"])
        .filter((F.col("id_a") < F.col("id_b")) & (F.col("new_a") | F.col("new_b")))
        .select("id_a", "id_b")
        .distinct()
        .persist()
    )

    # Verify stage: exact shingle sets ONLY for candidate-touched old
    # docs (semi-join cuts old_docs before shingling) + the already-
    # aggregated new-batch sets.
    touched = cands.select(F.col("id_a").alias(id_col)).unionByName(
        cands.select(F.col("id_b").alias(id_col))
    ).distinct()
    old_touched = old_docs.join(touched, id_col, "left_semi")
    old_sets = (
        _minhash_shingles(old_touched, text_col, id_col, k, hash_family)
        .groupBy(id_col)
        .agg(F.collect_set("shingle").alias("shingle_set"))
    )
    sets = new_combined.select(F.col(id_col), "shingle_set").unionByName(old_sets)
    result = (
        cands.join(
            sets.select(F.col(id_col).alias("id_a"), F.col("shingle_set").alias("set_a")),
            "id_a",
        )
        .join(
            sets.select(F.col(id_col).alias("id_b"), F.col("shingle_set").alias("set_b")),
            "id_b",
        )
        .withColumn("n_common", F.size(F.array_intersect("set_a", "set_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.size("set_a") + F.size("set_b") - F.col("n_common")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "jaccard")
    )
    return hold(result, new_combined, union, cands)


def minhash_jaccard_estimates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    k: int = 3,
    hash_family=F.xxhash64,
) -> DataFrame:
    """(id_a, id_b, est_jaccard, jaccard, abs_err): for every LSH
    candidate pair, the signature-estimated Jaccard (fraction of
    agreeing MinHash components — the unbiased estimator the whole
    MinHash construction exists to provide) next to the exact
    shingle-set Jaccard and the absolute estimation error.

    This is the accuracy audit of the near-dup pipeline: it
    quantifies, per pair, how far the sketch is from ground truth —
    at corpus scale you run it on a sampled slice to pick
    ``num_hashes`` (the estimator's std dev is
    sqrt(J(1-J)/num_hashes)). Same one-pass combined aggregate and
    persist contract as :func:`minhash_near_duplicates`; exact
    verification touches candidates only, never all pairs. With
    ``hash_family=md5_hash64`` the whole audit — signatures, bands,
    candidates, estimates, exact sets — is DuckDB-recomputable.

    The result holds the persisted combined aggregate.
    """
    sh = _minhash_shingles(df, text_col, id_col, k, hash_family)
    aggs = [
        F.min(hash_family(F.lit(j), F.col("shingle"))).alias(f"mh_{j}")
        for j in range(num_hashes)
    ] + [F.collect_set("shingle").alias("shingle_set")]
    combined = sh.groupBy(id_col).agg(*aggs).persist()
    sigs = combined.select(F.col(id_col), *[f"mh_{j}" for j in range(num_hashes)])
    cands = lsh_candidate_pairs(sigs, id_col, num_hashes, bands, hash_family=hash_family)
    side_a = combined.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f"mh_{j}").alias(f"a_mh_{j}") for j in range(num_hashes)],
        F.col("shingle_set").alias("set_a"),
    )
    side_b = combined.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"mh_{j}").alias(f"b_mh_{j}") for j in range(num_hashes)],
        F.col("shingle_set").alias("set_b"),
    )
    n_eq = sum(
        F.when(F.col(f"a_mh_{j}") == F.col(f"b_mh_{j}"), 1).otherwise(0)
        for j in range(num_hashes)
    )
    n_common = F.size(F.array_intersect("set_a", "set_b"))
    union_size = F.size("set_a") + F.size("set_b") - n_common
    est_raw = n_eq / F.lit(float(num_hashes))
    exact_raw = n_common / union_size.cast("double")
    result = (
        cands.join(side_a, "id_a")
        .join(side_b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(est_raw, 6).alias("est_jaccard"),
            F.round(exact_raw, 6).alias("jaccard"),
            F.round(F.abs(est_raw - exact_raw), 6).alias("abs_err"),
        )
    )
    return hold(result, combined)


# --------------------------------------------------------------------------
# Exact substring duplication (Lee et al. 2022, arXiv:2107.06499 shape)
# --------------------------------------------------------------------------

def _char_grams(
    df: DataFrame, text_col: str, id_col: str, k: int, hash_family
) -> DataFrame:
    """(id, p, k_eff, gh): the hashed char ``k``-gram at every 1-based
    start ``p`` of each document (``k_eff`` = k). A non-empty document
    shorter than ``k`` is one gram of its whole text (``p`` 1,
    ``k_eff`` its length); an empty one has none. Each gram is hashed
    at the source, so 8-byte keys shuffle, never k-char strings."""
    n = F.length(text_col)
    long_g = (
        df.filter(n >= k)
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.lit(1), n - (k - 1))).alias("p"),
            F.lit(k).alias("k_eff"),
            F.col(text_col),
        )
        .select(
            F.col(id_col),
            F.col("p"),
            F.col("k_eff"),
            hash_family(F.expr(f"substring({text_col}, p, {k})")).alias("gh"),
        )
    )
    short_g = df.filter((n > 0) & (n < k)).select(
        F.col(id_col),
        F.lit(1).alias("p"),
        n.alias("k_eff"),
        hash_family(F.col(text_col)).alias("gh"),
    )
    return long_g.unionAll(short_g)


def char_ngram_dup_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 50,
    hash_family=F.xxhash64,
) -> DataFrame:
    """Per-document exact-substring duplication profile: (id, n_grams,
    n_dup_grams, dup_frac), where a char ``k``-gram instance counts as
    duplicated iff the same k-gram occurs in MORE THAN ONE document —
    the fingerprinting approximation of "Deduplicating Training Data
    Makes Language Models Better" (Lee et al. 2022; the paper's
    suffix-array substring dedup at k=50 chars). Docs shorter than
    ``k`` contribute their whole text as one gram.

    Plan shape: explode stride-1 positions, hash each k-gram at the
    source (8-byte keys shuffle, never the 50-char strings), two-phase
    distinct-doc count per gram, then a gram->dup-set equi-join and a
    per-doc aggregate. At 100 TB the gram frame is ~8 bytes x chars —
    heavy but linear, the standard price of substring-level dedup;
    the alternative (suffix arrays) doesn't distribute relationally.
    ``hash_family=md5_hash64`` makes the whole profile DuckDB-checkable
    (both engines then see identical 32-bit gram keys, so even hash
    collisions agree).
    """
    # Persisted: the gram frame feeds the dup-set aggregate AND the
    # per-doc profile join, and left lazy the stride-1 hash-per-position
    # pass (the operator's dominant compute) would run twice. Only
    # (id, gh) is kept, and MEMORY_AND_DISK (the default) spills the
    # 8-byte keys at corpus scale, still far cheaper than a second
    # hashing pass over every character position.
    g = (
        _char_grams(df, text_col, id_col, k, hash_family)
        .select(id_col, "gh")
        .persist()
    )
    dup = (
        g.groupBy("gh")
        .agg(F.count_distinct(F.col(id_col)).alias("nd"))
        .filter(F.col("nd") > 1)
        .select("gh", F.lit(1).alias("is_dup"))
    )
    out = (
        g.join(dup, "gh", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("is_dup"), F.lit(0))).alias("n_dup_grams"),
        )
        .select(
            id_col,
            "n_grams",
            "n_dup_grams",
            F.round(
                F.col("n_dup_grams") / F.col("n_grams").cast("double"), 4
            ).alias("dup_frac"),
        )
    )
    return hold(out, g)


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family=F.xxhash64,
    n_bits: int = 64,
) -> DataFrame:
    """``n_bits``-bit SimHash per document from token hashes: the
    weight-1 case of :func:`weighted_simhash_signatures`, so bit_i is
    the majority vote 2*sum(bit_i) > n_tokens. The token hash is
    projected ONCE before the aggregate (not inlined into all the
    sums, which would lean on codegen CSE).

    The default is 64 bits over xxhash64; the oracle-able twin passes
    ``hash_family=md5_hash64, n_bits=32`` (md5_hash64 values carry 32
    meaningful bits), which DuckDB recomputes bit-for-bit.
    """
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("token")).select(
        F.col(id_col), hash_family(F.col("token")).alias("h"), F.lit(1).alias("w")
    )
    return weighted_simhash_signatures(tok, id_col, "h", "w", n_bits)


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    hash_family=F.xxhash64,
    n_bits: int = 64,
) -> DataFrame:
    """Near-dups by SimHash: candidates share one of four bands of
    ``n_bits / 4`` bits (any pair within Hamming distance 3 must agree
    on >= 1 band, by pigeonhole), verified with an exact popcount on
    the XOR."""
    band_bits = n_bits // 4
    band_mask = (1 << band_bits) - 1
    sigs = simhash_signatures(df, text_col, id_col, hash_family, n_bits)
    banded = sigs.select(
        F.col(id_col),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("simhash"), b * band_bits)
                        .bitwiseAND(F.lit(band_mask))
                        .alias("bucket"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select(F.col(id_col), "simhash", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    a = banded.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sig_a"), "band", "bucket")
    b = banded.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sig_b"), "band", "bucket")
    pairs = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
    )
    return (
        pairs.withColumn("hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def weighted_simhash_signatures(
    w_df: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "tm",
    weight_col: str = "wint",
    n_bits: int = 32,
) -> DataFrame:
    """Charikar WEIGHTED SimHash over a sparse vector frame
    (id, term-hash, integer weight): bit_i(sig) = 1 iff
    sum_t w_t * sign_i(h_t) > 0, computed branchlessly as
    2 * sum(w * bit_i(h)) > sum(w).

    This is the content-rarity-INDEPENDENT candidate generator for
    cosine similarity over sparse weighted vectors (tf-idf): random
    hyperplanes are realized by the term hash's bit planes, so
    collision probability tracks the angle between vectors — not the
    rarity of shared terms. It therefore keeps working where the
    df-capped posting joins hit the measured regime boundary
    (BASELINE.md 100x table): above vocabulary saturation there are
    no rare terms, but similar VECTORS still collide in bands.

    Weights must be pre-quantized integers (the tf-idf caller uses
    floor(w*1e6 + 0.5) micro-units): the per-bit sums are then exact
    int64 arithmetic — accumulation-order-free, so the sign (and the
    whole signature) is deterministic across partitionings and
    engines, the same discipline as the covariance grid. Each sum is
    plain shift/mask arithmetic, wide but fully codegen'd, no UDF.
    """
    bit_sums = [
        F.sum(
            F.col(weight_col)
            * F.shiftrightunsigned(F.col(hash_col), i).bitwiseAND(F.lit(1))
        ).alias(f"bs_{i}")
        for i in range(n_bits)
    ]
    agg = w_df.groupBy(id_col).agg(*bit_sums, F.sum(weight_col).alias("wtot"))
    sig = None
    for i in range(n_bits):
        bit = F.when(
            F.col(f"bs_{i}") * 2 > F.col("wtot"),
            F.shiftleft(F.lit(1).cast("long"), i),
        ).otherwise(F.lit(0).cast("long"))
        sig = bit if sig is None else sig.bitwiseOR(bit)
    return agg.select(F.col(id_col), sig.alias("simhash"))


def simhash_band_candidates(
    sigs: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    n_bits: int = 32,
    n_bands: int = 4,
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing at least one of
    ``n_bands`` bands of ``n_bits / n_bands`` signature bits — the
    banding step of both SimHash dedup paths, factored so the
    weighted (tf-idf) and unweighted (token multiset) variants share
    one join shape: equi-join on (band, bucket), never all-pairs.
    """
    band_bits = n_bits // n_bands
    band_mask = (1 << band_bits) - 1
    banded = sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col(sig_col), b * band_bits)
                        .bitwiseAND(F.lit(band_mask))
                        .alias("bucket"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select(
        F.col(id_col), F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    a = banded.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 50,
    hash_family=F.xxhash64,
) -> DataFrame:
    """Exact-substring span REMOVAL — the second half of Lee et al.
    2022 (arXiv:2107.06499): :func:`char_ngram_dup_profile` measures
    how much of a document is duplicated; this rewrites the corpus
    with those spans cut out. A position ``p`` in a document starts a
    duplicated span iff the char ``k``-gram at ``p`` occurs in MORE
    THAN ONE document; overlapping/adjacent duplicated k-gram
    intervals ``[p, p+k)`` are merged (gaps-and-islands over
    positions), the merged spans are removed, and the surviving
    segments are stitched back in order. Documents shorter than ``k``
    are treated as one whole-text gram (a cross-doc short duplicate
    empties the document). Returns one row per input document:
    ``(id, n_spans, removed_chars, clean_len, clean_text)`` —
    untouched documents pass through with ``n_spans = 0``.

    Plan shape: the gram/dup stages are char_ngram_dup_profile's
    (8-byte hashed keys shuffle, two-phase distinct-doc counts); the
    interval merge is two window passes over the (doc, position)
    frame partitioned by document; stitching concatenates the per-doc
    kept segments via a rank-sorted collect_list (bounded: one
    struct per surviving span + tail, not per character). At 100 TB
    every stage is linear in corpus chars and partitioned by doc_id;
    nothing global. ``hash_family=md5_hash64`` makes the whole
    rewrite DuckDB-replayable, collisions included (rule 6).
    """
    from pyspark.sql import Window as W

    g = _char_grams(df, text_col, id_col, k, hash_family)
    dup = (
        g.groupBy("gh")
        .agg(F.count_distinct(F.col(id_col)).alias("nd"))
        .filter(F.col("nd") > 1)
        .select("gh")
    )
    dpos = g.join(dup, "gh").select(id_col, "p", "k_eff").distinct()

    w_prev = (
        W.partitionBy(id_col)
        .orderBy("p")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    prev_end = F.max(F.col("p") + F.col("k_eff")).over(w_prev)
    marked = dpos.withColumn(
        "new_s",
        F.when(F.col("p") > F.coalesce(prev_end, F.lit(-1)), 1).otherwise(0),
    )
    w_run = W.partitionBy(id_col).orderBy("p").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    islands = marked.withColumn("isl", F.sum("new_s").over(w_run))
    spans = islands.groupBy(id_col, "isl").agg(
        F.min("p").alias("s"),
        F.max(F.col("p") + F.col("k_eff")).alias("e"),
    )

    w_s = W.partitionBy(id_col).orderBy("s")
    head_pieces = spans.select(
        id_col,
        F.coalesce(F.lag("e").over(w_s), F.lit(1)).alias("ks"),
        F.col("s").alias("ke"),
    )
    tail_pieces = spans.groupBy(id_col).agg(F.max("e").alias("ks")).select(
        id_col, "ks", F.lit(None).cast("long").alias("ke")
    )
    pieces = head_pieces.unionByName(tail_pieces)
    texts = df.select(id_col, text_col)
    cut = pieces.join(texts, id_col).select(
        id_col,
        F.col("ks"),
        F.expr(
            f"substring({text_col}, ks, "
            f"coalesce(ke, length({text_col}) + 1) - ks)"
        ).alias("piece"),
    )
    clean = cut.groupBy(id_col).agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(ks, piece)))"
            ", x -> x.piece), '')"
        ).alias("clean_text")
    )
    stats = spans.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum(F.col("e") - F.col("s")).cast("long").alias("removed_chars"),
    )
    out = (
        df.select(id_col, text_col)
        .join(clean, id_col, "left")
        .join(stats, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce(F.col("removed_chars"), F.lit(0))
            .cast("long")
            .alias("removed_chars"),
            F.length(F.coalesce(F.col("clean_text"), F.col(text_col)))
            .cast("long")
            .alias("clean_len"),
            F.coalesce(F.col("clean_text"), F.col(text_col)).alias("clean_text"),
        )
    )
    return out

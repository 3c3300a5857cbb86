"""LLM-training-data pipeline queries: dedup, text analysis,
similarity search — each wired to the operators in
``..operators`` with a DuckDB oracle where the semantics are
ANSI-SQL-expressible (hash-based LSH internals get rows-only checks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators import dedup, similarity, text
from . import register

# Shared oracle fragments (kept textually identical across queries so
# Spark and DuckDB compute the same expressions).
_NORM = r"regexp_replace(lower(trim(text)), '\s+', ' ', 'g')"
_NTOK = r"CASE WHEN trim(text) = '' THEN 0 ELSE len(string_split_regex(trim(text), '\s+')) END"
_SCORES = r"""
  SELECT doc_id,
         len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|a)\b'))       AS s_en,
         len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|ein)\b')) AS s_de,
         len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|une|des)\b'))    AS s_fr,
         len(regexp_extract_all(lower(text), '\b(el|los|las|es|una|que|por)\b'))   AS s_es
  FROM documents
"""


@register(
    "exact_dedup_docs",
    f"""
    SELECT md5({_NORM}) AS fingerprint,
           MIN(doc_id)  AS keep_id,
           COUNT(*)     AS n_copies
    FROM documents
    GROUP BY md5({_NORM})
    """,
    doc="Exact dedup: hash-groupBy on the md5 of normalized text; the "
    "shuffle moves 16-byte fingerprints, never document bytes.",
)
def exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_duplicates(load_table(spark, sf_dir, "documents", rebalance=True))


@register(
    "token_stats",
    f"""
    WITH scores AS ({_SCORES})
    SELECT d.doc_id,
           {_NTOK} AS n_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_tokens,
           CASE WHEN GREATEST(s.s_en, s.s_de, s.s_fr, s.s_es) = 0 THEN 'und'
                WHEN s.s_es > GREATEST(s.s_en, s.s_de, s.s_fr)   THEN 'es'
                WHEN s.s_fr > GREATEST(s.s_en, s.s_de)           THEN 'fr'
                WHEN s.s_de > s.s_en                             THEN 'de'
                ELSE 'en' END AS pred_lang,
           md5({_NORM}) AS fingerprint
    FROM documents d JOIN scores s USING (doc_id)
    """,
    doc="Token counting (whitespace + BPE-ish regex), n-gram-heuristic "
    "language ID, md5 fingerprint — all map-only codegen'd expressions.",
)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", rebalance=True)
    return d.select(
        "doc_id",
        text.token_count("text").alias("n_tokens"),
        text.bpe_token_estimate("text").alias("n_bpe_tokens"),
        text.lang_id("text").alias("pred_lang"),
        text.fingerprint("text").alias("fingerprint"),
    )


@register(
    "quality_scores",
    f"""
    WITH feats AS (
      SELECT doc_id,
             length(text) AS n_chars,
             {_NTOK} AS n_tokens,
             len(regexp_extract_all(text, '[A-Za-z]'))        AS n_alpha,
             len(regexp_extract_all(text, '[!-/:-@\\[-`{{-~]')) AS n_punct,
             len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|is|a)\\b')) AS n_stop
      FROM documents
    ), ratios AS (
      SELECT doc_id,
             ROUND((n_chars - (n_tokens - 1)) / CAST(GREATEST(n_tokens, 1) AS DOUBLE), 4) AS avg_token_len,
             ROUND(n_alpha / CAST(GREATEST(n_chars, 1) AS DOUBLE), 4) AS alpha_ratio,
             ROUND(n_punct / CAST(GREATEST(n_chars, 1) AS DOUBLE), 4) AS punct_ratio,
             ROUND(n_stop  / CAST(GREATEST(n_tokens, 1) AS DOUBLE), 4) AS stopword_ratio
      FROM feats
    )
    SELECT doc_id, avg_token_len, alpha_ratio, punct_ratio, stopword_ratio,
           ROUND(0.4 * alpha_ratio
                 + 0.3 * LEAST(stopword_ratio * 4, 1.0)
                 + 0.3 * (1 - LEAST(punct_ratio * 5, 1.0)), 4) AS quality_score
    FROM ratios
    """,
    doc="Per-document quality features + composite score for "
    "pretraining-data filtering (length/punct/stopword ratios).",
)
def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", rebalance=True)
    feats = text.quality_features("text")
    return d.select(
        "doc_id",
        feats["avg_token_len"].alias("avg_token_len"),
        feats["alpha_ratio"].alias("alpha_ratio"),
        feats["punct_ratio"].alias("punct_ratio"),
        feats["stopword_ratio"].alias("stopword_ratio"),
        text.quality_score("text").alias("quality_score"),
    )


@register(
    "document_chunks",
    f"""
    WITH d AS (
      SELECT doc_id, CAST({_NTOK} AS BIGINT) AS n_tokens
      FROM documents
    ), c AS (
      SELECT doc_id, n_tokens,
             CASE WHEN n_tokens <= 64 THEN 1
                  ELSE CAST(CEIL((n_tokens - 64) / 48.0) AS BIGINT) + 1 END AS n_chunks
      FROM d WHERE n_tokens > 0
    ), e AS (
      SELECT doc_id, n_tokens, unnest(range(0, n_chunks)) AS chunk_idx FROM c
    )
    SELECT doc_id, chunk_idx,
           chunk_idx * 48 AS start_tok,
           LEAST(chunk_idx * 48 + 64, n_tokens) AS end_tok,
           LEAST(chunk_idx * 48 + 64, n_tokens) - chunk_idx * 48 AS chunk_len
    FROM e
    """,
    doc="Overlapping token-window chunking (64-token windows, stride "
    "48) — the context-window fitting step for pretraining; "
    "sequence()+explode, no UDFs.",
)
def document_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", rebalance=True)
    return text.chunk_spans(d, chunk_tokens=64, overlap=16)


@register(
    "embedding_quantize_int8",
    """
    WITH m AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs
      FROM embeddings
    ), e AS (
      SELECT vec_id, embedding, maxabs,
             unnest(range(0, len(embedding))) AS idx
      FROM m
    )
    SELECT vec_id,
           CAST(idx AS INTEGER) AS idx,
           CAST(CASE WHEN maxabs = 0 THEN 0
                ELSE ROUND(CAST(embedding[CAST(idx + 1 AS BIGINT)] AS DOUBLE)
                           * 127.0 / maxabs) END AS TINYINT) AS q_val,
           ROUND(maxabs / 127.0, 6) AS scale
    FROM e
    """,
    doc="Symmetric per-vector int8 quantization (scale = max|x|/127): "
    "4x smaller vectors for billion-scale similarity corpora; pure "
    "array expressions, cosine error bounded in tests/"
    "test_quantization.py. Registered output is the EXPLODED scalar "
    "form (vec_id, idx, q_val, scale) — the driver canonicalizer "
    "cannot hash array cells (oracle-hygiene rule 5, queries/"
    "__init__.py); engine callers get the array form from "
    "operators.similarity.quantize_int8.",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings", rebalance=True)
    q8 = similarity.quantize_int8(e)
    return q8.select(
        "vec_id", F.posexplode("q").alias("idx", "q_val"), "scale"
    )


@register(
    "embedding_cosine_topk_int8",
    """
    WITH m AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs
      FROM embeddings
    ), e AS (
      SELECT vec_id, embedding, maxabs,
             UNNEST(range(0, len(embedding))) AS idx
      FROM m
    ), qe AS (
      SELECT vec_id, idx,
             CAST(CASE WHEN maxabs = 0 THEN 0
                  ELSE ROUND(CAST(embedding[CAST(idx + 1 AS BIGINT)] AS DOUBLE)
                             * 127.0 / maxabs) END AS DOUBLE) AS qval
      FROM e
    ), v AS (
      SELECT vec_id, list(qval ORDER BY idx) AS qv FROM qe GROUP BY vec_id
    ), q AS (SELECT qv AS q_vec FROM v WHERE vec_id = 0)
    SELECT v.vec_id,
           ROUND(list_cosine_similarity(v.qv, q.q_vec), 6) AS cosine_sim
    FROM v, q
    WHERE v.vec_id <> 0
    ORDER BY cosine_sim DESC, v.vec_id
    LIMIT 10
    """,
    doc="Exact top-k over int8-quantized vectors: cosine is scale-"
    "invariant, so ranking quantized vectors equals ranking "
    "dequantized ones — the search-over-compressed-storage path. "
    "Same TakeOrderedAndProject shape as the float twin. FULLY "
    "oracled: quantization is deterministic (the identical CASE/ROUND "
    "expression is already cell-for-cell green in "
    "embedding_quantize_int8), and the search over quantized vectors "
    "is exact integer arithmetic — DuckDB rebuilds the int8 codes and "
    "replays the ranked cut with the vec_id tie-break (rule 4); "
    "cosine error vs the float twin stays floored in "
    "tests/test_quantization.py.",
)
def embedding_cosine_topk_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings", rebalance=True)
    q8 = similarity.quantize_int8(e)
    query = q8.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("q").alias("q_vec")
    )
    return similarity.cosine_topk(q8, query, k=10, vec_col="q")


@register(
    "media_feature_extract",
    """
    WITH h AS (SELECT doc_id, sha256(sha256(text)) AS fh FROM documents)
    SELECT doc_id, 64 AS n_bytes,
           CAST(i.range AS INTEGER) AS i,
           CAST(('0x' || substr(fh, CAST(i.range * 8 + 1 AS INT), 8)) AS BIGINT)
               / 4294967296.0 AS feature
    FROM h, range(0, 8) i
    """,
    doc="Multimodal plumbing under the correctness gate: synthesize "
    "binary media payloads from documents, run the Arrow-batched "
    "mapInPandas featurizer (deterministic sha256 stand-in for a "
    "vision encoder), and hash-compare the Python-boundary output "
    "against DuckDB recomputing the same bytes — the mapInPandas "
    "batch/schema contract itself is what's being checked. Registered "
    "output is the EXPLODED scalar form (doc_id, n_bytes, i, feature) "
    "— no array columns reach the driver (oracle-hygiene rule 5, "
    "queries/__init__.py); engine callers get array features from "
    "operators.multimodal.extract_features.",
)
def media_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal

    d = load_table(spark, sf_dir, "documents", rebalance=True)
    media = multimodal.synthesize_media(d)
    feats = multimodal.extract_features(media)
    return feats.select(
        "doc_id", "n_bytes", F.posexplode("features").alias("i", "feature")
    )


@register(
    "media_resize_report",
    """
    WITH m AS (
      SELECT doc_id,
             CAST(doc_id % 64 + 16 AS INTEGER) AS w,
             CAST(doc_id % 48 + 16 AS INTEGER) AS h,
             sha256(text) AS fh
      FROM documents
    ), s AS (
      SELECT doc_id, fh, w, h,
             LEAST(24.0 / w, 24.0 / h, 1.0) AS sc
      FROM m
    ), d AS (
      SELECT doc_id, fh,
             CAST(GREATEST(1, FLOOR(w * sc + 0.5)) AS INTEGER) AS new_w,
             CAST(GREATEST(1, FLOOR(h * sc + 0.5)) AS INTEGER) AS new_h
      FROM s
    )
    SELECT doc_id, new_w, new_h,
           sha256(fh || '|' || CAST(new_w AS VARCHAR) || 'x'
                     || CAST(new_h AS VARCHAR)) AS resized_fp
    FROM d
    """,
    doc="The resize quarter of the multimodal plumbing under the "
    "correctness gate (completing the decode/featurize/resize/"
    "frame-sample family — featurize and exact-dedup-through-the-"
    "featurizer are already gated). Synthesizes media, runs the "
    "Arrow-batched resize_media operator (aspect-preserving "
    "fit-within, never upscaling, HALF-UP rounding — floor(x+0.5) "
    "on both engines because Python's round() is banker's and "
    "SQL's is not), and the oracle replays BOTH halves: the "
    "dimension math in SQL doubles and the fake resample's "
    "sha256(payload || '|WxH') derivation, so the mapInPandas "
    "metadata rewrite and payload derivation are hash-checked "
    "end-to-end. Map-only (no shuffle), linear in documents.",
)
def media_resize_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal

    d = load_table(spark, sf_dir, "documents", rebalance=True)
    media = multimodal.synthesize_media(d)
    resized = multimodal.resize_media(media, max_w=24, max_h=24)
    return resized.select(
        "doc_id",
        F.col("media_meta.width").alias("new_w"),
        F.col("media_meta.height").alias("new_h"),
        F.lower(F.hex("media")).alias("resized_fp"),
    )


@register(
    "doc_length_buckets",
    """
    SELECT CAST(FLOOR(n_chars / 50) * 50 AS BIGINT) AS bucket_lo,
           COUNT(*)  AS n_docs,
           -- DuckDB SUM(BIGINT) yields HUGEINT (int128); cast back so the
           -- cross-engine value hash canonicalizes like Spark's BIGINT.
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY 1
    """,
    doc="Corpus length histogram (bucketed) — the summary-stats shape "
    "every corpus audit starts with.",
)
def doc_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", rebalance=True)
    return (
        d.groupBy((F.floor(F.col("n_chars") / 50) * 50).cast("long").alias("bucket_lo"))
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )


@register(
    "ngram_jaccard_top_pairs",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      FROM documents WHERE trim(text) <> ''
    ), sh AS (
      SELECT DISTINCT doc_id, sh FROM (
        SELECT doc_id, array_to_string(t[i:i+2], ' ') AS sh
        FROM (
          SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
          FROM toks WHERE len(t) >= 3
        )
        UNION ALL
        SELECT doc_id, array_to_string(t, ' ') AS sh
        FROM toks WHERE len(t) < 3
      ) WHERE sh <> ''
    ), rare AS (
      -- stop-shingle document-frequency cap, mirroring
      -- ngram_jaccard_pairs(max_shingle_df=100): shingles in > 100
      -- docs are boilerplate and would fan the join out quadratically.
      SELECT sh FROM sh GROUP BY sh HAVING COUNT(DISTINCT doc_id) <= 100
    ), shc AS (
      SELECT s.doc_id, s.sh FROM sh s JOIN rare r ON s.sh = r.sh
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS set_size FROM shc GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM shc a JOIN shc b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           ROUND(n_common / CAST(sa.set_size + sb.set_size - n_common AS DOUBLE), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    ORDER BY jaccard DESC, id_a, id_b
    LIMIT 20
    """,
    doc="Exact n-gram (3-word shingle) Jaccard similarity, top-20 pairs. "
    "Fully relational: explode -> equi-join on shingle -> "
    "inclusion-exclusion, WITH the stop-shingle document-frequency cap "
    "active (max_shingle_df=100, mirrored in the oracle's HAVING) so "
    "boilerplate shingles can't fan the join out quadratically at scale.",
)
def ngram_jaccard_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", rebalance=True)
    pairs = dedup.ngram_jaccard_pairs(d, k=3, min_jaccard=0.0, max_shingle_df=100)
    out = (
        pairs.orderBy(F.col("jaccard").desc(), "id_a", "id_b")
        .limit(20)
        .select("id_a", "id_b", "jaccard")
    )
    return out


@register(
    "weighted_jaccard_top_pairs",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      FROM documents WHERE trim(text) <> ''
    ), shm AS (
      -- MULTISET shingles: no DISTINCT — occurrence counts matter
      -- here; md5-hashed to 8-byte join keys (rule 6, the
      -- tfidf_doc_similarity 'tm' precedent)
      SELECT doc_id, CAST(('0x' || substr(md5(sh), 1, 8)) AS BIGINT) AS sh
      FROM (
        SELECT doc_id, array_to_string(t[i:i+2], ' ') AS sh
        FROM (
          SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
          FROM toks WHERE len(t) >= 3
        )
        UNION ALL
        SELECT doc_id, array_to_string(t, ' ') AS sh
        FROM toks WHERE len(t) < 3
      ) WHERE sh <> ''
    ), counts AS (
      SELECT doc_id, sh, COUNT(*) AS c FROM shm GROUP BY doc_id, sh
    ), rare AS (
      SELECT sh FROM counts GROUP BY sh HAVING COUNT(*) <= 100
    ), cr AS (
      SELECT c.doc_id, c.sh, c.c FROM counts c JOIN rare r ON c.sh = r.sh
    ), sizes AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS total FROM cr GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS sum_min
      FROM cr a JOIN cr b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           ROUND(sum_min / CAST(sa.total + sb.total - sum_min AS DOUBLE), 6) AS w_jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    ORDER BY w_jaccard DESC, id_a, id_b
    LIMIT 20
    """,
    doc="Multiset (occurrence-weighted) Jaccard over 3-word shingles, "
    "top-20 pairs: the exact form of the similarity that weighted-"
    "MinHash/ICWS sketches estimate. Set Jaccard collapses repeats — "
    "a doc repeating one templated sentence ten times scores like one "
    "containing it once; the weighted form sees repetition structure. "
    "Same relational shape and stop-shingle df-guard (<= 100) as the "
    "set twin ngram_jaccard_top_pairs, plus per-(doc, shingle) counts "
    "and the multiset identity sum(max) = |A|+|B|-sum(min) (no second "
    "join). Equals set Jaccard on repeat-free docs (property-tested).",
)
def weighted_jaccard_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", rebalance=True)
    pairs = dedup.weighted_jaccard_pairs(
        d, k=3, min_jaccard=0.0, max_shingle_df=100,
        hash_family=dedup.md5_hash64,
    )
    out = (
        pairs.orderBy(F.col("w_jaccard").desc(), "id_a", "id_b")
        .limit(20)
        .select("id_a", "id_b", "w_jaccard")
    )
    return out


@register(
    "allpairs_jaccard_exact",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      FROM documents WHERE trim(text) <> ''
    ), shs AS (
      SELECT DISTINCT doc_id,
             CAST(('0x' || substr(md5(sh), 1, 8)) AS BIGINT) AS sh
      FROM (
        SELECT doc_id, array_to_string(t[i:i+2], ' ') AS sh
        FROM (
          SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
          FROM toks WHERE len(t) >= 3
        )
        UNION ALL
        SELECT doc_id, array_to_string(t, ' ') AS sh
        FROM toks WHERE len(t) < 3
      ) WHERE sh <> ''
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS set_size FROM shs GROUP BY doc_id
    ), inter AS (
      -- BRUTE FORCE ground truth: the oracle deliberately does NOT
      -- mirror the prefix filter. The engine's filtered plan must
      -- equal the unfiltered quadratic join exactly — that is the
      -- prefix-filtering theorem under test.
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM shs a JOIN shs b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, n_common,
           sa.set_size AS size_a, sb.set_size AS size_b,
           ROUND(n_common / CAST(sa.set_size + sb.set_size - n_common AS DOUBLE), 6)
             AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE n_common / CAST(sa.set_size + sb.set_size - n_common AS DOUBLE) >= 0.6
    ORDER BY id_a, id_b
    """,
    doc="EXACT all-pairs Jaccard >= 0.6 via prefix filtering "
    "(AllPairs, Bayardo et al. WWW'07; PPJoin, Xiao et al. WWW'08) — "
    "the third near-dup path: exact like ngram_jaccard (but with NO "
    "stop-shingle df cap, so no silently dropped boilerplate-overlap "
    "pairs) and sub-quadratic like MinHash (but with zero false-"
    "negative probability). Docs order their shingles rarest-first by "
    "global document frequency; only each doc's (|d| - ceil(t|d|) + "
    "1)-prefix enters the candidate join, and an exact intersection "
    "count verifies. The oracle is the UNfiltered brute-force join — "
    "equality IS the prefix-filtering theorem. md5-hashed 8-byte "
    "shingle keys (rule 6) keep the oracle able to recompute every "
    "stage.",
)
def allpairs_jaccard_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", rebalance=True)
    core = dedup.allpairs_jaccard_pairs(
        d, k=3, threshold=0.6, hash_family=dedup.md5_hash64
    )
    out = core.select("id_a", "id_b", "n_common", "size_a", "size_b", "jaccard")
    return out


@register(
    "cdc_chunk_dedup",
    r"""
    WITH base AS (
      SELECT doc_id, trim(text) AS tx, length(trim(text)) AS n
      FROM documents WHERE length(trim(text)) > 0
    ), grams AS (
      SELECT doc_id, tx, n, UNNEST(range(8, n + 1)) AS e FROM base
    ), ends AS (
      SELECT doc_id, tx, n, e AS end_pos FROM grams
      WHERE CAST(('0x' || substr(md5(substr(tx, CAST(e - 7 AS BIGINT), 8)), 1, 8)) AS BIGINT)
            % 64 = 0
    ), starts AS (
      SELECT DISTINCT doc_id, tx, n, s FROM (
        SELECT doc_id, tx, n, 1 AS s FROM base
        UNION ALL
        SELECT doc_id, tx, n, end_pos + 1 AS s FROM ends WHERE end_pos < n
      )
    ), ch AS (
      SELECT doc_id,
             substr(tx, CAST(s AS BIGINT),
                    CAST(COALESCE(LEAD(s) OVER w, n + 1) - s AS BIGINT)) AS chunk
      FROM starts
      WINDOW w AS (PARTITION BY doc_id ORDER BY s)
    )
    SELECT md5(chunk) AS chunk_md5,
           CAST(length(chunk) AS BIGINT) AS chunk_len,
           COUNT(*) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM ch
    GROUP BY md5(chunk), length(chunk)
    HAVING COUNT(*) >= 2
    """,
    doc="Chunk-level dedup over content-defined chunks (the rsync/"
    "LBFS/FastCDC rolling-hash boundary family): boundaries fall "
    "where the md5 of the trailing 8-gram passes a %64 gate (expected "
    "chunk ~64 chars), so an edit shifts only its own chunk while "
    "every later chunk stays bit-identical — the property that makes "
    "chunk dedup robust to insertions where fixed-size blocks are "
    "not. Reports every chunk content appearing >= 2 times with its "
    "occurrence and document counts — the storage/transfer-dedup "
    "complement to document-level near-dup. One position explode + "
    "two per-doc windows; chunks re-concatenate to the exact document "
    "(property-tested); every boundary decision replays in DuckDB.",
)
def cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", rebalance=True)
    ch = dedup.cdc_chunks(d, w=8, gate=64)
    return (
        ch.groupBy(
            F.md5(F.col("chunk").cast("binary")).alias("chunk_md5"),
            F.col("chunk_len").cast("long").alias("chunk_len"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_occurrences") >= 2)
    )


# RETIRED (round 14, second exercise of the displacement policy —
# __spark_entry__.py): the rows-only "minhash_near_dup_pairs" entry
# (MinHash 32 hashes + LSH 8 bands, exact-Jaccard verify >= 0.5,
# xxhash64 seeds) was displaced by the oracled ivf_pq_batch_topk
# addition, per the retirement order pinned in round 13 (it was #2,
# after simhash). The operator (dedup.minhash_near_duplicates)
# stays: the FULL-oracled minhash_near_dup_pairs_md5 twin below
# drives the identical plan through DuckDB every round, and the
# production xxhash path keeps direct pytest coverage
# (tests/test_lsh_recall.py recall floor,
# tests/test_incremental_dedup.py full-vs-incremental equivalence).
# The plan keeps its fixed r1-bar-18 bench slot and its scale-bench
# alpha rows via local builders (bench.py / scripts/scale_bench.py).


# RETIRED (round 14, first exercise of the displacement policy —
# __spark_entry__.py): the rows-only "simhash_near_dup_pairs" entry
# (64-bit xxhash SimHash, Hamming <= 3, 16-bit bands) was displaced
# by the oracled anomaly_compare_event_types addition. The operator
# itself (dedup.simhash_near_duplicates) stays: the FULL-oracled
# simhash_near_dup_pairs_md5 twin below drives the identical plan
# through DuckDB every round, and the production xxhash/64-bit
# default keeps direct pytest coverage
# (tests/test_lsh_recall.py::test_simhash_production_path).


@register(
    "minhash_near_dup_pairs_md5",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      FROM documents WHERE trim(text) <> ''
    ), sh AS (
      SELECT DISTINCT doc_id, sh FROM (
        SELECT doc_id, array_to_string(t[i:i+2], ' ') AS sh
        FROM (
          SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
          FROM toks WHERE len(t) >= 3
        )
        UNION ALL
        SELECT doc_id, array_to_string(t, ' ') AS sh
        FROM toks WHERE len(t) < 3
      ) WHERE sh <> ''
    ), mh AS (
      -- permutation family j = md5-derived 32-bit hash of 'j:shingle'
      -- (hygiene rule 6) == Spark md5_hash64(lit(j), shingle)
      SELECT doc_id, j,
             MIN(CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || sh), 1, 8)) AS BIGINT)) AS mh
      FROM sh, range(0, 32) t(j)
      GROUP BY doc_id, j
    ), bands AS (
      -- band bucket = same hash family over 'band:mh0:mh1:mh2:mh3'
      -- (the 4 row-mins of the band, in j order)
      SELECT doc_id, band,
             CAST(('0x' || substr(md5(
               CAST(band AS VARCHAR) || ':' ||
               string_agg(CAST(mh AS VARCHAR), ':' ORDER BY j)
             ), 1, 8)) AS BIGINT) AS bucket
      FROM (SELECT doc_id, j, mh, CAST(j // 4 AS INT) AS band FROM mh)
      GROUP BY doc_id, band
    ), small AS (
      SELECT band, bucket FROM bands
      GROUP BY band, bucket HAVING COUNT(*) <= 200
    ), bb AS (
      SELECT b.doc_id, b.band, b.bucket
      FROM bands b JOIN small s ON b.band = s.band AND b.bucket = s.bucket
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bb a JOIN bb b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS n_common
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.id_a
      JOIN sh sb ON sb.doc_id = c.id_b AND sb.sh = sa.sh
      GROUP BY c.id_a, c.id_b
    )
    SELECT id_a, id_b, jaccard FROM (
      SELECT i.id_a, i.id_b,
             ROUND(i.n_common / CAST(za.set_size + zb.set_size - i.n_common AS DOUBLE), 6) AS jaccard
      FROM inter i
      JOIN sizes za ON za.doc_id = i.id_a
      JOIN sizes zb ON zb.doc_id = i.id_b
    ) WHERE jaccard >= 0.5
    """,
    doc="MinHash+LSH near-dup pairs under a FULL cross-engine oracle: "
    "the permutation family is md5-derived (md5_hash64, hygiene rule "
    "6) instead of xxhash64, so DuckDB recomputes the entire "
    "signature -> band -> bucket-guard -> candidate -> exact-Jaccard "
    "verify pipeline and hash-checks it. Same parameters as the "
    "production twin (32 hashes, 8 bands, 3-word shingles, jaccard "
    ">= 0.5, bucket cap 200); same plan shape — only the hash "
    "primitive differs.",
)
def minhash_near_dup_pairs_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", rebalance=True)
    return dedup.minhash_near_duplicates(
        d, min_jaccard=0.5, hash_family=dedup.md5_hash64
    )


@register(
    "incremental_minhash_dedup",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      FROM documents WHERE trim(text) <> ''
    ), sh AS (
      SELECT DISTINCT doc_id, sh FROM (
        SELECT doc_id, array_to_string(t[i:i+2], ' ') AS sh
        FROM (
          SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
          FROM toks WHERE len(t) >= 3
        )
        UNION ALL
        SELECT doc_id, array_to_string(t, ' ') AS sh
        FROM toks WHERE len(t) < 3
      ) WHERE sh <> ''
    ), split AS (
      -- deterministic 20% "new crawl" batch: md5 bucket of the doc id
      -- (hygiene rule 6) == Spark md5_hash64(lit('inc'), doc_id) % 5
      SELECT doc_id,
             (CAST(('0x' || substr(md5('inc:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
              % 5 = 0) AS is_new
      FROM documents
    ), mh AS (
      SELECT doc_id, j,
             MIN(CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || sh), 1, 8)) AS BIGINT)) AS mh
      FROM sh, range(0, 32) t(j)
      GROUP BY doc_id, j
    ), bands AS (
      SELECT doc_id, band,
             CAST(('0x' || substr(md5(
               CAST(band AS VARCHAR) || ':' ||
               string_agg(CAST(mh AS VARCHAR), ':' ORDER BY j)
             ), 1, 8)) AS BIGINT) AS bucket
      FROM (SELECT doc_id, j, mh, CAST(j // 4 AS INT) AS band FROM mh)
      GROUP BY doc_id, band
    ), small AS (
      SELECT band, bucket FROM bands
      GROUP BY band, bucket HAVING COUNT(*) <= 200
    ), bb AS (
      SELECT b.doc_id, b.band, b.bucket
      FROM bands b JOIN small s ON b.band = s.band AND b.bucket = s.bucket
    ), cand AS (
      -- only pairs TOUCHING the new batch: the incremental contract
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bb a JOIN bb b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
      JOIN split pa ON pa.doc_id = a.doc_id
      JOIN split pb ON pb.doc_id = b.doc_id
      WHERE pa.is_new OR pb.is_new
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS n_common
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.id_a
      JOIN sh sb ON sb.doc_id = c.id_b AND sb.sh = sa.sh
      GROUP BY c.id_a, c.id_b
    )
    SELECT id_a, id_b, jaccard FROM (
      SELECT i.id_a, i.id_b,
             ROUND(i.n_common / CAST(za.set_size + zb.set_size - i.n_common AS DOUBLE), 6) AS jaccard
      FROM inter i
      JOIN sizes za ON za.doc_id = i.id_a
      JOIN sizes zb ON zb.doc_id = i.id_b
    ) WHERE jaccard >= 0.5
    """,
    doc="Incremental (cross-batch) near-dup curation: the corpus is "
    "split 80/20 by a deterministic md5 bucket into EXISTING and NEW; "
    "the existing side enters only as its compact LSH index "
    "(minhash_index: (id, band, bucket), ~24 bytes x 8 bands per doc) "
    "and its text is consulted solely for candidate-touched ids — the "
    "re-crawl workflow where per-batch cost tracks the batch, not the "
    "corpus. Bucket guard counts the UNION population, so the result "
    "is provably the full-corpus pipeline restricted to pairs "
    "touching the new batch — which is exactly what the DuckDB "
    "oracle computes (full md5 pipeline + new-side filter); the "
    "union-vs-incremental equivalence is ALSO asserted cell-for-cell "
    "against minhash_near_duplicates in tests/"
    "test_incremental_dedup.py, including through a Parquet "
    "round-trip of the index.",
)
def incremental_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", rebalance=True)
    is_new = dedup.md5_hash64(F.lit("inc"), F.col("doc_id")) % 5 == 0
    new_docs = d.filter(is_new)
    old_docs = d.filter(~is_new)
    old_index = dedup.minhash_index(old_docs, hash_family=dedup.md5_hash64)
    return dedup.incremental_minhash_near_duplicates(
        old_index,
        old_docs,
        new_docs,
        min_jaccard=0.5,
        hash_family=dedup.md5_hash64,
    )


@register(
    "minhash_estimate_vs_exact",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      FROM documents WHERE trim(text) <> ''
    ), sh AS MATERIALIZED (
      SELECT DISTINCT doc_id, sh FROM (
        SELECT doc_id, array_to_string(t[i:i+2], ' ') AS sh
        FROM (
          SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
          FROM toks WHERE len(t) >= 3
        )
        UNION ALL
        SELECT doc_id, array_to_string(t, ' ') AS sh
        FROM toks WHERE len(t) < 3
      ) WHERE sh <> ''
    ), mh AS MATERIALIZED (
      SELECT doc_id, j,
             MIN(CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || sh), 1, 8)) AS BIGINT)) AS mh
      FROM sh, range(0, 32) t(j)
      GROUP BY doc_id, j
    ), bands AS (
      SELECT doc_id, band,
             CAST(('0x' || substr(md5(
               CAST(band AS VARCHAR) || ':' ||
               string_agg(CAST(mh AS VARCHAR), ':' ORDER BY j)
             ), 1, 8)) AS BIGINT) AS bucket
      FROM (SELECT doc_id, j, mh, CAST(j // 4 AS INT) AS band FROM mh)
      GROUP BY doc_id, band
    ), small AS (
      SELECT band, bucket FROM bands
      GROUP BY band, bucket HAVING COUNT(*) <= 200
    ), bb AS MATERIALIZED (
      SELECT b.doc_id, b.band, b.bucket
      FROM bands b JOIN small s ON b.band = s.band AND b.bucket = s.bucket
    ), cand AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bb a JOIN bb b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ), est AS (
      SELECT c.id_a, c.id_b,
             SUM(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) AS n_eq
      FROM cand c
      JOIN mh ma ON ma.doc_id = c.id_a
      JOIN mh mb ON mb.doc_id = c.id_b AND mb.j = ma.j
      GROUP BY c.id_a, c.id_b
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS n_common
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.id_a
      JOIN sh sb ON sb.doc_id = c.id_b AND sb.sh = sa.sh
      GROUP BY c.id_a, c.id_b
    )
    SELECT e.id_a, e.id_b,
           ROUND(e.n_eq / 32.0, 6) AS est_jaccard,
           ROUND(COALESCE(i.n_common, 0)
                 / CAST(za.set_size + zb.set_size - COALESCE(i.n_common, 0) AS DOUBLE),
                 6) AS jaccard,
           ROUND(ABS(e.n_eq / 32.0
                     - COALESCE(i.n_common, 0)
                       / CAST(za.set_size + zb.set_size - COALESCE(i.n_common, 0) AS DOUBLE)),
                 6) AS abs_err
    FROM est e
    LEFT JOIN inter i ON i.id_a = e.id_a AND i.id_b = e.id_b
    JOIN sizes za ON za.doc_id = e.id_a
    JOIN sizes zb ON zb.doc_id = e.id_b
    """,
    doc="Sketch-accuracy audit of the MinHash pipeline: for every LSH "
    "candidate pair, the signature-estimated Jaccard (agreeing "
    "components / 32 — the construction's unbiased estimator, std "
    "dev sqrt(J(1-J)/32)) next to the exact shingle-set Jaccard and "
    "the absolute error. md5 permutation family (hygiene rule 6), so "
    "DuckDB recomputes signatures, bands, candidates, estimates AND "
    "ground truth — the estimator itself is hash-checked, not just "
    "bounded in a unit test. Exact sets touch candidates only.",
)
def minhash_estimate_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", rebalance=True)
    return dedup.minhash_jaccard_estimates(d, hash_family=dedup.md5_hash64)


@register(
    "simhash_near_dup_pairs_md5",
    r"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
      FROM documents WHERE trim(text) <> ''
    ), th AS (
      -- md5_hash64(token): 32 meaningful bits, identical in Spark
      SELECT doc_id, CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) AS h
      FROM tok
    ), bits AS (
      SELECT doc_id, i,
             CAST(SUM((h >> CAST(i AS INT)) & 1) AS BIGINT) AS bs,
             COUNT(*) AS n_tok
      FROM th, range(0, 32) t(i)
      GROUP BY doc_id, i
    ), sig AS (
      -- majority vote per bit; disjoint powers of two make SUM == OR
      SELECT doc_id,
             CAST(SUM(CASE WHEN 2 * bs > n_tok
                           THEN (CAST(1 AS BIGINT) << CAST(i AS INT))
                           ELSE 0 END) AS BIGINT) AS simhash
      FROM bits GROUP BY doc_id
    ), banded AS (
      SELECT doc_id, simhash, CAST(b AS INT) AS band,
             (simhash >> CAST(b * 8 AS INT)) & 255 AS bucket
      FROM sig, range(0, 4) t(b)
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.simhash AS sig_a, b.simhash AS sig_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
    FROM pairs
    WHERE bit_count(xor(sig_a, sig_b)) <= 3
    """,
    doc="SimHash near-dup pairs under a FULL cross-engine oracle: "
    "32-bit signatures from md5-derived token hashes (md5_hash64 "
    "carries 32 meaningful bits), four 8-bit bands (pigeonhole still "
    "guarantees any Hamming<=3 pair shares a band), exact popcount "
    "verify — DuckDB recomputes signatures, bands, and the verify "
    "bit-for-bit. Production twin keeps 64-bit xxhash64 signatures.",
)
def simhash_near_dup_pairs_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", rebalance=True)
    return dedup.simhash_near_duplicates(
        d, max_hamming=3, hash_family=dedup.md5_hash64, n_bits=32
    ).withColumn("hamming", F.col("hamming").cast("int"))


@register(
    "substring_dup_profile",
    r"""
    WITH g AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(substr(text, CAST(p AS INT), 50)), 1, 8)) AS BIGINT) AS gh
      FROM (SELECT doc_id, text, unnest(range(1, length(text) - 48)) AS p
            FROM documents WHERE length(text) >= 50)
      UNION ALL
      SELECT doc_id, CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) AS gh
      FROM documents WHERE length(text) > 0 AND length(text) < 50
    ), dup AS (
      SELECT gh FROM g GROUP BY gh HAVING COUNT(DISTINCT doc_id) > 1
    )
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN d.gh IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_dup_grams,
           ROUND(SUM(CASE WHEN d.gh IS NULL THEN 0 ELSE 1 END)
                 / CAST(COUNT(*) AS DOUBLE), 4) AS dup_frac
    FROM g LEFT JOIN dup d ON g.gh = d.gh
    GROUP BY g.doc_id
    """,
    doc="Exact-substring duplication profile per document (Lee et al. "
    "2022, arXiv:2107.06499: suffix-array substring dedup at 50 "
    "chars, here as stride-1 50-gram fingerprinting): a gram "
    "instance is duplicated iff the same 50-gram occurs in another "
    "document; output is each doc's gram count, duplicated-gram "
    "count, and duplicated fraction — the signal the paper thresholds "
    "to cut boilerplate. Grams are hashed AT THE SOURCE to md5-derived "
    "32-bit keys on both engines (rule 6), so the 8-byte-key shuffle "
    "plan is exactly what DuckDB replays — hash collisions included.",
)
def substring_dup_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", rebalance=True)
    return dedup.char_ngram_dup_profile(d, k=50, hash_family=dedup.md5_hash64)


# Winnowing fingerprint selection (Schleimer et al. 2003), shared by
# both winnow queries: char 8-grams hashed with the md5 family
# (hygiene rule 6), window = 4, rightmost-min tie rule. MATERIALIZED
# because full/small branches both read `led` (rule 9).
_WINNOW_FP_CTE = r"""
    WITH g AS MATERIALIZED (
      SELECT doc_id, CAST(p AS INT) AS p,
             CAST(('0x' || substr(md5(substr(text, CAST(p AS INT), 8)), 1, 8)) AS BIGINT) AS gh
      FROM (SELECT doc_id, text, unnest(range(1, length(text) - 6)) AS p
            FROM documents WHERE length(text) >= 8)
      UNION ALL
      SELECT doc_id, 1 AS p, CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) AS gh
      FROM documents WHERE length(text) > 0 AND length(text) < 8
    ), led AS MATERIALIZED (
      SELECT doc_id, p, gh,
             lead(gh, 1) OVER w AS gh1,
             lead(gh, 2) OVER w AS gh2,
             lead(gh, 3) OVER w AS gh3,
             COUNT(*) OVER (PARTITION BY doc_id) AS ng,
             MIN(gh)  OVER (PARTITION BY doc_id) AS mn
      FROM g
      WINDOW w AS (PARTITION BY doc_id ORDER BY p)
    ), full_fp AS (
      SELECT DISTINCT doc_id,
             p + (CASE WHEN gh3 = m THEN 3 WHEN gh2 = m THEN 2
                       WHEN gh1 = m THEN 1 ELSE 0 END) AS fp_pos,
             m AS fp
      FROM (SELECT *, LEAST(gh, gh1, gh2, gh3) AS m
            FROM led WHERE gh3 IS NOT NULL)
    ), small_fp AS (
      SELECT doc_id, MAX(p) AS fp_pos, mn AS fp
      FROM led WHERE ng < 4 AND gh = mn
      GROUP BY doc_id, mn
    ), fp AS MATERIALIZED (
      SELECT doc_id, CAST(fp_pos AS INT) AS fp_pos, fp FROM full_fp
      UNION ALL
      SELECT doc_id, CAST(fp_pos AS INT) AS fp_pos, fp FROM small_fp
    )
"""


@register(
    "doc_winnow_fingerprints",
    _WINNOW_FP_CTE + "SELECT doc_id, fp_pos, fp FROM fp",
    doc="Rolling-hash document fingerprinting by winnowing (Schleimer "
    "et al., SIGMOD 2003 / MOSS): hash every char 8-gram, slide a "
    "4-wide window, keep each window's minimum hash (rightmost on "
    "ties). Any shared substring of >= 11 chars between two docs "
    "yields a shared fingerprint while only ~2/5 of grams are kept. "
    "md5-derived gram hashes (hygiene rule 6) let DuckDB replay the "
    "selection bit-for-bit — window minima, tie-breaks, collisions "
    "and all. Production twin uses xxhash64 via the operator default.",
)
def doc_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import winnow

    d = load_table(spark, sf_dir, "documents", rebalance=True)
    return winnow.winnow_fingerprints(d, k=8, window=4, hash_family=dedup.md5_hash64)


@register(
    "winnow_dup_candidates",
    _WINNOW_FP_CTE
    + """
    , fps AS MATERIALIZED (SELECT DISTINCT doc_id, fp FROM fp),
    rare AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= 10),
    fr AS MATERIALIZED (
      SELECT f.doc_id, f.fp FROM fps f JOIN rare r ON f.fp = r.fp
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM fr a JOIN fr b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= 3
    """,
    doc="MOSS match step over winnowed fingerprints: doc pairs sharing "
    ">= 3 distinct fingerprints, with a document-frequency cap (<= 10 "
    "docs per fingerprint) dropping boilerplate before the self-join "
    "— the guard that keeps the pair count sub-quadratic at corpus "
    "scale. The join input is the winnowed ~40% of grams, on 8-byte "
    "keys; fully DuckDB-oracled via the md5 gram-hash family. "
    "REGIME BOUNDARY (measured, BASELINE.md 100x table): the "
    "ABSOLUTE df cap bounds COST but collapses RECALL once nearly "
    "every fingerprint exceeds it at vocabulary saturation — in that "
    "density regime use the MinHash bands (the retired-entry plan, "
    "still benched; oracled twin minhash_near_dup_pairs_md5) "
    "or tfidf_simhash_topk, whose candidate generation does not "
    "depend on content rarity.",
)
def winnow_dup_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import winnow

    d = load_table(spark, sf_dir, "documents", rebalance=True)
    return winnow.winnow_match_pairs(
        d, k=8, window=4, min_shared=3, max_fp_df=10, hash_family=dedup.md5_hash64
    )


def _query_vec(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return e.filter(F.col("vec_id") == vec_id).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )


@register(
    "embedding_cosine_topk",
    """
    WITH q AS (SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        CAST(q.q_vec AS DOUBLE[])), 6) AS cosine_sim
    FROM embeddings e, q
    WHERE e.vec_id <> 0
    ORDER BY cosine_sim DESC, e.vec_id
    LIMIT 10
    """,
    doc="Brute-force exact cosine top-k (ANN correctness baseline): "
    "zip_with/aggregate dot products, TakeOrderedAndProject top-k.",
)
def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings", rebalance=True)
    return similarity.cosine_topk(e, _query_vec(spark, sf_dir), k=10)


def _cosine_batch_topk_oracle(n_queries: int, k: int) -> str:
    """FULL oracle for the batched exact cosine top-k — pre-built for
    the round-17 registration of ``embedding_cosine_batch_topk``
    (pre-registered in __spark_entry__.py; it will displace
    curation_end_to_end, #5 in the pinned retirement order). The
    per-query ranking is the single-query oracle generalized with
    QUALIFY over q_id, same 6-dp round and vec_id tie-break.
    Cross-engine-verified ahead of registration in
    tests/test_clustering_retrieval.py::test_cosine_batch_topk_oracle_ready."""
    return f"""
    WITH q AS (
      SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec FROM embeddings
      WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {n_queries})
    )
    SELECT q.q_id, e.vec_id,
           ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        q.q_vec), 6) AS cosine_sim
    FROM embeddings e JOIN q ON e.vec_id <> q.q_id
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY q.q_id ORDER BY cosine_sim DESC, e.vec_id
    ) <= {k}
    ORDER BY q.q_id, cosine_sim DESC, e.vec_id
    """


@register(
    "embedding_cosine_batch_topk",
    _cosine_batch_topk_oracle(8, 10),
    doc="Batched exact cosine top-k (the batched brute-force ANN "
    "baseline): 8 queries share ONE corpus scan via a broadcast "
    "query frame, per-query ranks are two-phase (partition-local "
    "prune then final), partitioning-independent. The batched twin "
    "of embedding_cosine_topk the way ivf_pq_batch_topk twins "
    "ivf_pq_topk; also the exact side of the ann_batch_recall_at_10 "
    "eval. Landed round 17 as pre-registered (displaced "
    "curation_end_to_end, #5 — the final name — in the pinned "
    "retirement order).",
)
def embedding_cosine_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-17 registry entry (pre-registered in round 15/16, landed
    as a pure registration — the oracle was cross-engine-verified
    AHEAD of landing in tests/test_clustering_retrieval.py::
    test_cosine_batch_topk_oracle_ready): the batched exact cosine
    top-k over the 8 lowest-id queries. Per-query equality and
    partitioning-independence of the underlying operator are
    pinned in tests/test_clustering_retrieval.py."""
    e = load_table(spark, sf_dir, "embeddings", rebalance=True)
    qset = (
        e.orderBy("vec_id")
        .limit(8)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    )
    return similarity.cosine_topk_batch(e, qset, k=10)


def _lsh_topk_oracle(
    dim: int, n_planes: int, n_tables: int, seed: int, k: int
) -> str:
    """FULL oracle for hyperplane-LSH top-k: the hyperplane family is
    deterministic seeded (the same VALUES-table trick that oracled the
    JL projection and the coarse ANN stage), so DuckDB recomputes the
    sign-pattern bucket of every vector in every table, takes the
    candidate union against the query's buckets, and replays the
    exact-cosine ranked cut. 'Approximate' describes the ALGORITHM's
    recall vs brute force, not its determinism — given the planes, the
    answer set is exact and falsifiable."""
    values = ",\n      ".join(
        f"({t}, {p}, {d}, {w!r})"
        for t, p, d, w in similarity.hyperplane_rows(dim, n_planes, n_tables, seed)
    )
    return f"""
    WITH planes(tbl, p, dim, w) AS (
      VALUES
      {values}
    ), e0 AS (
      SELECT vec_id, embedding, UNNEST(range(0, len(embedding))) AS dim
      FROM embeddings
    ), e AS (
      SELECT vec_id, dim, CAST(embedding[dim + 1] AS DOUBLE) AS val FROM e0
    ), dots AS (
      SELECT e.vec_id, pl.tbl, pl.p, SUM(e.val * pl.w) AS d
      FROM e JOIN planes pl ON e.dim = pl.dim
      GROUP BY e.vec_id, pl.tbl, pl.p
    ), buckets AS (
      SELECT vec_id, tbl,
             CAST(SUM(CASE WHEN d >= 0
                           THEN CAST(1 AS BIGINT) << p ELSE 0 END)
                  AS BIGINT) AS bucket
      FROM dots GROUP BY vec_id, tbl
    ), qb AS (
      SELECT tbl, bucket FROM buckets WHERE vec_id = 0
    ), cands AS (
      SELECT DISTINCT b.vec_id
      FROM buckets b JOIN qb ON b.tbl = qb.tbl AND b.bucket = qb.bucket
      WHERE b.vec_id <> 0
    ), q AS (SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0)
    SELECT em.vec_id,
           ROUND(list_cosine_similarity(CAST(em.embedding AS DOUBLE[]),
                                        CAST(q.q_vec AS DOUBLE[])), 6)
               AS cosine_sim
    FROM embeddings em JOIN cands c ON em.vec_id = c.vec_id, q
    ORDER BY cosine_sim DESC, em.vec_id
    LIMIT {k}
    """


@register(
    "embedding_lsh_topk",
    _lsh_topk_oracle(64, 4, 8, 7, 10),
    doc="Multi-table random-hyperplane LSH ANN (8 tables x 4 planes, "
    "seed 7): candidates are only the vectors sharing a sign-pattern "
    "bucket with the query in >= 1 table, then exact-ranked — the "
    "100 TB scale path for similarity search (bucket equi-join on an "
    "8-byte key instead of an all-pairs scan). FULLY oracled: the "
    "seeded plane family is inlined as a VALUES table and DuckDB "
    "recomputes buckets -> candidate union -> exact cosine -> top-k "
    "(the embedding_random_projection / ann_projected_coarse "
    "precedent); recall vs brute force stays separately floored in "
    "tests/test_lsh_recall.py.",
)
def embedding_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings", rebalance=True)
    return similarity.lsh_topk(
        e, _query_vec(spark, sf_dir), dim=64, k=10, n_planes=4, n_tables=8
    )


@register(
    "stratified_sample_corpus",
    """
    SELECT doc_id, source
    FROM documents
    WHERE CAST(('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
          % 1000000
        < CAST((CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
                ELSE 0.2 END) * 1000000 AS BIGINT)
    """,
    doc="Deterministic per-stratum hash-mod sampling (keep iff "
    "bucket(key) mod D < D*rate): reproducible across runs, "
    "partitionings AND engines (md5 bucket — the DuckDB oracle "
    "reproduces the exact keep-set), pushes as a plain filter, no "
    "shuffle. Rates: src0 keep-all, src1 half, default 20%.",
)
def stratified_sample_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import stratified_sample

    d = load_table(spark, sf_dir, "documents")
    return stratified_sample(
        d,
        "source",
        {"src0": 1.0, "src1": 0.5},
        key_col="doc_id",
        default_rate=0.2,
        method="md5",
    ).select("doc_id", "source")


@register(
    "corpus_train_val_test",
    """
    WITH b AS (
      SELECT doc_id, source,
             CAST(('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 1000000 AS bucket
      FROM documents
    )
    SELECT doc_id, source,
           CASE WHEN bucket < 900000 THEN 'train'
                WHEN bucket < 950000 THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """,
    doc="Deterministic 90/5/5 train/val/test split via md5-bucket "
    "ranges: engine-reproducible (oracle recomputes the exact "
    "assignment), stable under repartitioning and incremental "
    "arrival; map-side only.",
)
def corpus_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import split_corpus

    d = load_table(spark, sf_dir, "documents")
    return split_corpus(
        d, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05}
    ).select("doc_id", "source", "split")


@register(
    "tfidf_top_terms",
    r"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
      FROM documents WHERE trim(text) <> ''
    ), tf AS (
      SELECT doc_id, token, COUNT(*) AS tf
      FROM tok GROUP BY doc_id, token
    ), df AS (
      SELECT token, COUNT(DISTINCT doc_id) AS df
      FROM tok GROUP BY token
    ), n AS (
      SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tok
    ), scored AS (
      SELECT tf.doc_id, tf.token,
             ROUND(tf.tf * LN(n.n_docs / CAST(df.df AS DOUBLE)), 6) AS tfidf
      FROM tf JOIN df USING (token) CROSS JOIN n
    )
    SELECT doc_id, token, tfidf FROM (
      SELECT doc_id, token, tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rn
      FROM scored
    ) WHERE rn <= 3
    """,
    doc="TF-IDF top-3 terms per document, fully relational: token "
    "explode -> tf/df aggregates -> idf join -> ranking window. The "
    "df table is tiny (vocabulary-sized) and broadcasts; the shuffle "
    "carries (doc, token) counts, not text.",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents", rebalance=True)
    tok = d.select("doc_id", F.explode(text.tokens("text")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_tbl = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    # n_docs as a lazy 1-row broadcast aggregate (NOT an eager
    # .count(), which would run a full extra tokenize+distinct job
    # before the real plan): the whole query stays one Spark job.
    n_docs = tok.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_tbl), "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("token"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "token", "tfidf")
    )


@register(
    "decontaminate_corpus",
    r"""
    WITH toks AS (
      SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS t
      FROM documents WHERE trim(text) <> ''
    ), sh AS (
      SELECT DISTINCT doc_id, source, sh FROM (
        SELECT doc_id, source, array_to_string(t[i:i+4], ' ') AS sh
        FROM (
          SELECT doc_id, source, t, unnest(range(1, len(t) - 3)) AS i
          FROM toks WHERE len(t) >= 5
        )
        UNION ALL
        SELECT doc_id, source, array_to_string(t, ' ') AS sh
        FROM toks WHERE len(t) < 5
      ) WHERE sh <> ''
    ), test_sh AS (
      SELECT DISTINCT sh FROM sh WHERE source = 'src0'
    ), contaminated AS (
      SELECT s.doc_id FROM sh s JOIN test_sh t ON s.sh = t.sh
      WHERE s.source <> 'src0'
      GROUP BY s.doc_id
      HAVING COUNT(*) >= 1
    )
    SELECT d.doc_id, d.source
    FROM documents d
    WHERE d.source <> 'src0'
      AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
    """,
    doc="Test-set decontamination: remove corpus docs sharing any "
    "5-gram shingle with the held-out slice (source='src0'). "
    "Relational: shingle both sides, overlap-count join, anti-join "
    "the contaminated ids out.",
)
def decontaminate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", rebalance=True)
    test_set = d.filter(F.col("source") == "src0")
    corpus = d.filter(F.col("source") != "src0")
    clean, _ = dedup.decontaminate(corpus, test_set, k=5)
    return clean.select("doc_id", "source")


@register(
    "sequence_packing",
    None,  # greedy partition-local packing is procedural -> rows-only
    doc="Token-budget sequence packing (2048/pack) for training-batch "
    "prep: hash-repartition then greedy first-fit per partition via "
    "Arrow-batched mapInPandas — embarrassingly parallel, "
    "deterministic pack membership.",
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.packing import pack_sequences

    d = load_table(spark, sf_dir, "documents", rebalance=True).select(
        "doc_id", text.token_count("text").alias("n_tokens")
    )
    return pack_sequences(d, budget=2048)


@register(
    "sequence_packing_canonical",
    f"""
    WITH RECURSIVE docs0 AS (
      SELECT doc_id, CAST({_NTOK} AS BIGINT) AS n_tokens,
             CAST(('0x' || substr(md5('11:' || CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 1000000 % 8 AS bucket
      FROM documents
    ), docs AS MATERIALIZED (
      SELECT bucket, doc_id, n_tokens,
             ROW_NUMBER() OVER (PARTITION BY bucket
                                ORDER BY n_tokens DESC, doc_id) AS rn
      FROM docs0
    ), st AS (
      SELECT bucket, rn, doc_id, n_tokens,
             0 AS pack_seq, n_tokens AS run_total
      FROM docs WHERE rn = 1
      UNION ALL
      SELECT d.bucket, d.rn, d.doc_id, d.n_tokens,
             CASE WHEN s.run_total + d.n_tokens <= 2048
                  THEN s.pack_seq ELSE s.pack_seq + 1 END,
             CASE WHEN s.run_total + d.n_tokens <= 2048
                  THEN s.run_total + d.n_tokens ELSE d.n_tokens END
      FROM st s JOIN docs d ON d.bucket = s.bucket AND d.rn = s.rn + 1
    )
    SELECT 'b' || CAST(bucket AS VARCHAR) || '_' || CAST(pack_seq AS VARCHAR)
             AS pack_id,
           doc_id, n_tokens,
           CAST(SUM(n_tokens) OVER (PARTITION BY bucket, pack_seq) AS BIGINT)
             AS pack_total
    FROM st
    """,
    doc="FULL-oracled twin of sequence_packing: next-fit-decreasing "
    "within 8 fixed md5(doc_id) buckets (operators/packing."
    "pack_sequences_canonical). Pack membership depends only on the "
    "data — never on physical partitioning — so DuckDB replays the "
    "entire assignment: the bucket hash, the (n_tokens desc, doc_id) "
    "walk order, and the open-a-new-pack-on-overflow recurrence as a "
    "recursive CTE stepping each bucket's rank chain. Pins the "
    "packing algebra (budget check, reset semantics, totals) the "
    "way the md5 twins pinned MinHash/SimHash; the partition-local "
    "best-fit variant stays rows-only by nature.",
)
def sequence_packing_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.packing import pack_sequences_canonical

    d = load_table(spark, sf_dir, "documents", rebalance=True).select(
        "doc_id", text.token_count("text").alias("n_tokens")
    )
    return pack_sequences_canonical(d, budget=2048, n_buckets=8)


@register(
    "embedding_cosine_near_dups",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6) AS cosine_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])), 6) >= 0.45
    """,
    doc="Embedding-cosine near-dup pairs, exact all-pairs baseline "
    "(oracle-checked). Threshold 0.45 is tuned to the synthetic "
    "embedding distribution (max pairwise cosine ~0.51) so the check "
    "is non-trivial; production near-dup runs ~0.95. The LSH-bucketed "
    "sub-quadratic variant is embedding_cosine_near_dups_lsh.",
)
def embedding_cosine_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings", rebalance=True)
    return similarity.cosine_near_dup_pairs(e, threshold=0.45)


# embedding_cosine_near_dups_lsh: registry entry RETIRED in round 15
# (third exercise of the pinned displacement policy — displaced by the
# FULL-oracled ivf_pq_batch_rerank_topk). The LSH-bucketed production
# path (similarity.cosine_near_dup_pairs(use_lsh=True)) keeps its
# direct recall-floor pytest (tests/test_lsh_recall.py::
# test_cosine_lsh_near_dup_recall at the registered parameters), the
# exact twin embedding_cosine_near_dups above stays FULL-oracled, and
# the retired plan keeps its graded bench slot via a local builder in
# bench.py (same treatment as the round-14 minhash/simhash
# retirements).


@register(
    "pii_redact",
    r"""
    WITH salted AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or 555-'
                  || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  || ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1'
               AS text
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
           len(regexp_extract_all(text, '\b\d{3}-\d{3}-\d{4}\b')) AS n_phones,
           len(regexp_extract_all(text,
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ips,
           md5(regexp_replace(regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
               '\b\d{3}-\d{3}-\d{4}\b', '[PHONE]', 'g'),
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'))
             AS redacted_fp
    FROM salted
    """,
    doc="PII scrubbing under the correctness gate: the synthetic corpus "
    "carries no natural PII, so the query deterministically salts "
    "each document with an email, phone, and IPv4 derived from its "
    "doc_id (both engines compute the same salt), then redacts with "
    "the RE2-compatible pattern set (operators.text.PII_PATTERNS) and "
    "hash-compares counts + the md5 of the fully redacted text. "
    "Map-only regexp_replace chain — codegen'd, no shuffle.",
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", rebalance=True)
    salted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-"),
            F.lpad(F.pmod(F.col("doc_id"), 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad(F.pmod(F.col("doc_id"), 10000).cast("string"), 4, "0"),
            F.lit(" from 10."),
            F.pmod(F.col("doc_id"), 256).cast("string"),
            F.lit(".0.1"),
        ).alias("text"),
    )
    counts = text.pii_counts("text")
    return salted.select(
        "doc_id",
        counts["email"].alias("n_emails"),
        counts["phone"].alias("n_phones"),
        counts["ipv4"].alias("n_ips"),
        F.md5(text.redact_pii("text").cast("binary")).alias("redacted_fp"),
    )


@register(
    "repetition_stats",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      FROM documents WHERE trim(text) <> ''
    ), sh AS (
      SELECT doc_id, array_to_string(t[i:i+1], ' ') AS sh
      FROM (
        SELECT doc_id, t, unnest(range(1, len(t))) AS i
        FROM toks WHERE len(t) >= 2
      )
      UNION ALL
      SELECT doc_id, array_to_string(t, ' ') AS sh FROM toks WHERE len(t) < 2
    ), counts AS (
      SELECT doc_id, sh, COUNT(*) AS c FROM sh WHERE sh <> ''
      GROUP BY doc_id, sh
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_kgrams,
           CAST(MAX(c) AS BIGINT) AS top_kgram_count,
           ROUND(MAX(c) / CAST(SUM(c) AS DOUBLE), 6) AS top_kgram_frac
    FROM counts GROUP BY doc_id
    """,
    doc="Gopher-style repetition features (top-2-gram fraction) for "
    "filtering degenerate/templated documents. Spark side counts "
    "xxhash64'd 2-grams (8-byte shuffle keys); the oracle counts the "
    "string 2-grams — equal counts modulo negligible 64-bit "
    "collisions.",
)
def repetition_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", rebalance=True)
    return text.repetition_stats(d, k=2)


@register(
    "vocab_top_terms",
    r"""
    WITH tok AS (
      SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
      FROM documents WHERE trim(text) <> ''
    )
    SELECT token, COUNT(*) AS n_occurrences
    FROM tok GROUP BY token
    ORDER BY n_occurrences DESC, token
    LIMIT 30
    """,
    doc="Tokenizer-vocabulary induction, step 1: corpus-wide token "
    "frequencies, top-30 with deterministic tie-break — explode -> "
    "two-phase count -> TakeOrderedAndProject (per-partition heaps, "
    "no global sort; the full-corpus scan never shuffles text).",
)
def vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", rebalance=True)
    tok = d.select(F.explode(text.tokens("text")).alias("token"))
    return (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "token")
        .limit(30)
    )


@register(
    "decontaminate_embeddings",
    """
    SELECT e.vec_id, e.label
    FROM embeddings e
    WHERE e.vec_id % 10 <> 0
      AND NOT EXISTS (
        SELECT 1 FROM embeddings h
        WHERE h.vec_id % 10 = 0
          AND ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                           CAST(h.embedding AS DOUBLE[])), 6)
              >= 0.4
      )
    """,
    doc="Semantic decontamination: drop corpus embeddings cosine-"
    "similar (>= 0.4, tuned to the synthetic distribution) to any "
    "held-out vector — catches paraphrased eval leakage that n-gram "
    "decontamination misses. The held-out side broadcasts (eval sets "
    "are small against a 100 TB corpus) so scoring is map-side and "
    "only contaminated ids shuffle; the LSH-bucketed variant covers "
    "the large-held-out case (recall floor in tests/"
    "test_lsh_recall.py).",
)
def decontaminate_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings", rebalance=True)
    heldout = e.filter(F.col("vec_id") % 10 == 0)
    corpus = e.filter(F.col("vec_id") % 10 != 0)
    clean, _ = similarity.decontaminate_by_embedding(corpus, heldout, threshold=0.4)
    return clean.select("vec_id", "label")


@register(
    "embedding_label_centroids",
    """
    SELECT label,
           CAST(i.range AS INTEGER) AS dim,
           ROUND(AVG(CAST(embedding[CAST(i.range AS BIGINT)] AS DOUBLE)), 6) AS centroid
    FROM embeddings, range(1, 65) i
    GROUP BY label, i.range
    """,
    doc="Per-label mean embedding (IVF coarse-quantizer building block) "
    "via posexplode -> groupBy(label, dim): the shuffle carries scalar "
    "components, not whole vectors.",
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings", rebalance=True)
    return similarity.label_centroids(e)


@register(
    "lang_id_confusion",
    f"""
    WITH scores AS ({_SCORES}),
    pred AS (
      SELECT d.lang,
             CASE WHEN GREATEST(s.s_en, s.s_de, s.s_fr, s.s_es) = 0 THEN 'und'
                  WHEN s.s_es > GREATEST(s.s_en, s.s_de, s.s_fr)   THEN 'es'
                  WHEN s.s_fr > GREATEST(s.s_en, s.s_de)           THEN 'fr'
                  WHEN s.s_de > s.s_en                             THEN 'de'
                  ELSE 'en' END AS pred_lang
      FROM documents d JOIN scores s USING (doc_id)
    ), agg AS (
      SELECT lang, pred_lang, COUNT(*) AS n FROM pred GROUP BY lang, pred_lang
    )
    SELECT lang, pred_lang, CAST(n AS BIGINT) AS n,
           ROUND(n / CAST(SUM(n) OVER (PARTITION BY lang) AS DOUBLE), 4) AS share
    FROM agg
    """,
    doc="Language-ID accuracy audit: confusion matrix of the stopword "
    "lang-ID heuristic against the labeled lang column, with each "
    "cell's share of its true-language row. Ties the classifier to "
    "ground truth (e.g. zh has no stopword inventory and must land "
    "in 'und'/misses — visible here, invisible to a rows-only "
    "check). The share window runs over the per-(lang,pred) "
    "AGGREGATE — a provably tiny domain (#langs x #preds), the "
    "documented safe use of a partition window.",
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents", rebalance=True)
    agg = (
        d.select(F.col("lang"), text.lang_id("text").alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = W.partitionBy("lang")
    return agg.select(
        "lang",
        "pred_lang",
        "n",
        F.round(F.col("n") / F.sum("n").over(w).cast("double"), 4).alias("share"),
    )


@register(
    "char_entropy_scores",
    """
    WITH ch AS (
      SELECT doc_id, substr(text, CAST(p AS INT), 1) AS ch
      FROM (SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS p
            FROM documents WHERE length(text) > 0)
    ), cnt AS (
      SELECT doc_id, ch, COUNT(*) AS c FROM ch GROUP BY doc_id, ch
    ), tot AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY doc_id
    )
    SELECT t.doc_id, t.n AS n_chars,
           ROUND(-SUM((c.c / CAST(t.n AS DOUBLE))
                      * LN(c.c / CAST(t.n AS DOUBLE))), 4) + 0.0 AS entropy
    FROM cnt c JOIN tot t ON t.doc_id = c.doc_id
    GROUP BY t.doc_id, t.n
    """,
    doc="Per-document Shannon character entropy (nats): the "
    "gibberish/boilerplate screen — repetitive filler scores low, "
    "keyboard-mash scores anomalously high; filters threshold both "
    "tails (Gopher-style quality rules). Char counts shuffle (doc, "
    "char) scalars with map-side partials, linear in characters. "
    "Single-char docs hit -0.0: pinned with ROUND + 0.0 on both "
    "engines (hygiene rule 8).",
)
def char_entropy_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", rebalance=True)
    n = F.length("text")
    ch = (
        d.filter(n > 0)
        .select("doc_id", "text", F.explode(F.sequence(F.lit(1), n)).alias("p"))
        .select("doc_id", F.expr("substring(text, p, 1)").alias("ch"))
    )
    cnt = ch.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.groupBy("doc_id").agg(F.sum("c").alias("n"))
    p = F.col("c") / F.col("n").cast("double")
    return (
        cnt.join(tot, "doc_id")
        .groupBy("doc_id", F.col("n").alias("n_chars"))
        .agg((F.round(-F.sum(p * F.log(p)), 4) + F.lit(0.0)).alias("entropy"))
    )


@register(
    "dup_rate_by_source",
    f"""
    WITH fp AS (
      SELECT doc_id, source, md5({_NORM}) AS fingerprint
      FROM documents
    ), keep AS (
      SELECT fingerprint, MIN(doc_id) AS keep_id FROM fp GROUP BY fingerprint
    )
    SELECT f.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN f.doc_id = k.keep_id THEN 0 ELSE 1 END) AS BIGINT)
             AS n_dup_docs,
           ROUND(SUM(CASE WHEN f.doc_id = k.keep_id THEN 0 ELSE 1 END)
                 / CAST(COUNT(*) AS DOUBLE), 4) AS dup_rate
    FROM fp f JOIN keep k ON k.fingerprint = f.fingerprint
    GROUP BY f.source
    """,
    doc="Exact-duplicate rate per source (min-doc_id keeper rule): the "
    "provenance audit that tells you WHICH source is reprinting "
    "content before you spend near-dup compute on it. 16-byte "
    "fingerprints shuffle, never text; the keeper join is on the "
    "fingerprint key.",
)
def dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", rebalance=True)
    fp = d.select("doc_id", "source", text.fingerprint("text").alias("fingerprint"))
    keep = fp.groupBy("fingerprint").agg(F.min("doc_id").alias("keep_id"))
    is_dup = F.when(F.col("doc_id") == F.col("keep_id"), 0).otherwise(1)
    return (
        fp.join(keep, "fingerprint")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(is_dup).alias("n_dup_docs"),
            F.round(F.sum(is_dup) / F.count(F.lit(1)).cast("double"), 4).alias(
                "dup_rate"
            ),
        )
    )


@register(
    "duplicate_span_removal",
    r"""
    WITH g AS MATERIALIZED (
      SELECT doc_id, CAST(p AS INT) AS p, 50 AS k_eff,
             CAST(('0x' || substr(md5(substr(text, CAST(p AS INT), 50)), 1, 8))
               AS BIGINT) AS gh
      FROM (SELECT doc_id, text, unnest(range(1, length(text) - 48)) AS p
            FROM documents WHERE length(text) >= 50)
      UNION ALL
      SELECT doc_id, 1 AS p, length(text) AS k_eff,
             CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) AS gh
      FROM documents WHERE length(text) > 0 AND length(text) < 50
    ), dup AS MATERIALIZED (
      SELECT gh FROM g GROUP BY gh HAVING COUNT(DISTINCT doc_id) > 1
    ), dpos AS MATERIALIZED (
      SELECT DISTINCT g.doc_id, g.p, g.k_eff FROM g JOIN dup USING (gh)
    ), marked AS MATERIALIZED (
      SELECT doc_id, p, k_eff,
             CASE WHEN p > COALESCE(MAX(p + k_eff) OVER
                  (PARTITION BY doc_id ORDER BY p
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                  THEN 1 ELSE 0 END AS new_s
      FROM dpos
    ), islands AS MATERIALIZED (
      SELECT doc_id, p, k_eff,
             SUM(new_s) OVER (PARTITION BY doc_id ORDER BY p
                              ROWS UNBOUNDED PRECEDING) AS isl
      FROM marked
    ), spans AS MATERIALIZED (
      SELECT doc_id, isl, MIN(p) AS s, MAX(p + k_eff) AS e
      FROM islands GROUP BY doc_id, isl
    ), pieces AS MATERIALIZED (
      SELECT doc_id,
             COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY s), 1) AS ks,
             s AS ke
      FROM spans
      UNION ALL
      SELECT doc_id, MAX(e) AS ks, NULL AS ke FROM spans GROUP BY doc_id
    ), cleaned AS MATERIALIZED (
      SELECT p.doc_id,
             string_agg(substr(d.text, CAST(ks AS INT),
                        CAST(COALESCE(ke, length(d.text) + 1) - ks AS INT)),
                        '' ORDER BY ks) AS clean_text
      FROM pieces p JOIN documents d USING (doc_id) GROUP BY p.doc_id
    ), stats AS MATERIALIZED (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
             CAST(SUM(e - s) AS BIGINT) AS removed_chars
      FROM spans GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(st.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(COALESCE(st.removed_chars, 0) AS BIGINT) AS removed_chars,
           CAST(length(COALESCE(c.clean_text, d.text)) AS BIGINT) AS clean_len,
           COALESCE(c.clean_text, d.text) AS clean_text
    FROM documents d
    LEFT JOIN cleaned c USING (doc_id)
    LEFT JOIN stats st USING (doc_id)
    """,
    doc="Exact-substring span removal — the rewrite half of Lee et "
    "al. 2022 (arXiv:2107.06499), completing substring_dup_profile "
    "(which only measures): every char 50-gram occurring in more "
    "than one document marks its interval, overlapping/adjacent "
    "intervals merge by gaps-and-islands, merged spans are cut out "
    "and the survivors stitched in order; untouched docs pass "
    "through. FULL oracle via the md5 gram family: DuckDB replays "
    "grams, dup set, interval merge, and the stitched clean_text "
    "byte for byte (collisions included). Spark side: the gram/dup "
    "stages are the profile's (8-byte keys shuffle, two-phase "
    "distinct-doc counts); the merge is two doc-partitioned window "
    "passes; stitching is a rank-sorted collect_list over one "
    "struct per surviving span — bounded per doc, never per char. "
    "At 100 TB every stage is linear in corpus chars; this plus the "
    "keeper-join family makes the engine's dedup story "
    "measure -> pair -> cluster -> REWRITE complete.",
)
def duplicate_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", rebalance=True)
    return dedup.remove_duplicate_spans(
        d, k=50, hash_family=dedup.md5_hash64
    )


@register(
    "media_dedup_report",
    f"""
    WITH media AS (
      SELECT doc_id, sha256({_NORM}) AS fingerprint,
             sha256(sha256({_NORM})) AS feat_hex
      FROM documents
    ), feats AS (
      SELECT doc_id, fingerprint,
             ROUND(CAST(('0x' || substr(feat_hex, 1, 8)) AS BIGINT)
                   / 4294967296.0, 6) + 0.0 AS feat0,
             ROUND(CAST(('0x' || substr(feat_hex, 9, 8)) AS BIGINT)
                   / 4294967296.0, 6) + 0.0 AS feat1
      FROM media
    )
    SELECT fingerprint,
           CAST(MIN(doc_id) AS BIGINT) AS keep_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           MIN(feat0) AS feat0,
           MIN(feat1) AS feat1
    FROM feats GROUP BY fingerprint
    """,
    doc="Exact MEDIA dedup through the Arrow featurizer — the check "
    "that welds the multimodal plumbing to the dedup family: media "
    "payloads (deterministic fakes: sha256-of-text bytes, "
    "operators/multimodal.py synthesize_media) flow through the "
    "mapInPandas feature extractor, and identical payloads collapse "
    "to one keeper row (min doc_id) with the copy count AND the "
    "first two feature components in the hashed output. The oracle "
    "replays the mapInPandas UDF bit-for-bit in SQL: DuckDB's "
    "sha256 reproduces both the payload bytes and the featurizer's "
    "uint32/2^32 dyadic rationals (exact in double, so the 6-dp "
    "round is deterministic) — a full cross-engine check ACROSS the "
    "Python/Arrow boundary, which rows-only checks usually excuse. "
    "Scale: featurization is Arrow-batched map-side; the dedup "
    "shuffles 64-hex-char fingerprints, never payload bytes; with a "
    "real decoder the fingerprint would be the media bytes' own "
    "hash and nothing else changes.",
)
def media_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal

    d = load_table(spark, sf_dir, "documents", rebalance=True)
    # Payloads derive from NORMALIZED text (exact_dedup_docs
    # semantics) so re-encoded copies of the same document collapse.
    norm = d.withColumn("text", text.normalize_text("text"))
    media = multimodal.synthesize_media(norm)
    feats = multimodal.extract_features(media, decoder="fake")
    fp = norm.select(
        "doc_id",
        F.sha2(F.col("text").cast("binary"), 256).alias("fingerprint"),
    )
    joined = feats.join(fp, "doc_id").select(
        "doc_id",
        "fingerprint",
        (F.round(F.element_at("features", 1), 6) + F.lit(0.0)).alias("feat0"),
        (F.round(F.element_at("features", 2), 6) + F.lit(0.0)).alias("feat1"),
    )
    return joined.groupBy("fingerprint").agg(
        F.min("doc_id").cast("long").alias("keep_id"),
        F.count(F.lit(1)).cast("long").alias("n_copies"),
        F.min("feat0").alias("feat0"),
        F.min("feat1").alias("feat1"),
    )

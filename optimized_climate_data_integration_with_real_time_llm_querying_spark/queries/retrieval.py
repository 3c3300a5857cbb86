r"""Retrieval + contamination-measurement queries (round 6).

- ``bm25_topk``: query-conditioned document ranking (BM25) — the
  quality-mining primitive for assembling topical training subsets.
- ``contamination_rate``: a per-document eval-overlap RATE — the
  measurement twin of the binary ``decontaminate_corpus`` gate
  (thresholdable, auditable: "how contaminated is this doc"
  rather than "is it contaminated at >=1 shingle").

Oracle notes (see ORACLE-HYGIENE RULES in ``queries/__init__``):
BM25 sums <= |terms| doubles (round 4); the contamination oracle
recomputes 5-token shingles as strings (DuckDB list slicing is
inclusive: ``t[i:i+4]`` is 5 tokens) while Spark shingles through
xxhash64 longs — counts agree because equal k-grams hash equal and
64-bit collisions are negligible at any realistic scale (same
contract as decontaminate_corpus / curation_end_to_end_exact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.dedup import shingles
from ..operators.retrieval import bm25_scores
from ..operators.text import tokens
from . import register

BM25_TERMS = ["spark", "window", "join", "vector"]
_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_TERMS)


@register(
    "bm25_topk",
    rf"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
      FROM documents WHERE trim(text) <> ''
    ), dl AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id
    ), stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, AVG(dl) AS avgdl FROM dl
    ), tf AS (
      SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks WHERE token IN ({_TERMS_SQL})
      GROUP BY doc_id, token
    ), dfq AS (
      SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS dfc
      FROM toks WHERE token IN ({_TERMS_SQL})
      GROUP BY token
    ), scored AS (
      SELECT t.doc_id,
             ROUND(SUM(
               ln(1 + (s.n_docs - d.dfc + 0.5) / (d.dfc + 0.5))
               * t.tf * 2.2
               / (t.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl))
             ), 4) AS bm25
      FROM tf t
      JOIN dfq d ON t.token = d.token
      JOIN dl l ON l.doc_id = t.doc_id
      CROSS JOIN stats s
      GROUP BY t.doc_id
    )
    SELECT doc_id, bm25 FROM scored
    ORDER BY bm25 DESC, doc_id
    LIMIT 20
    """,
    doc="BM25 top-20 documents for a fixed seed-term query (k1=1.2, "
    "b=0.75, Lucene idf). One explode + two aggregates; idf and "
    "corpus stats broadcast; the ranking is a TakeOrderedAndProject "
    "top-k with a doc_id tie-break over the 4-dp-rounded score.",
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", rebalance=True)
    tok = d.select("doc_id", F.explode(tokens("text")).alias("token"))
    return (
        bm25_scores(tok, BM25_TERMS)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )


@register(
    "contamination_rate",
    r"""
    WITH heldout AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0
    ), corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0
    ), ctoks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      FROM corpus WHERE trim(text) <> ''
    ), csh AS (
      SELECT DISTINCT doc_id, sh FROM (
        SELECT doc_id, array_to_string(t[i:i+4], ' ') AS sh
        FROM (
          SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS i
          FROM ctoks WHERE len(t) >= 5
        )
        UNION ALL
        SELECT doc_id, array_to_string(t, ' ') AS sh
        FROM ctoks WHERE len(t) < 5
      ) WHERE sh <> ''
    ), htoks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      FROM heldout WHERE trim(text) <> ''
    ), hsh AS (
      SELECT DISTINCT sh FROM (
        SELECT array_to_string(t[i:i+4], ' ') AS sh
        FROM (
          SELECT t, unnest(range(1, len(t) - 3)) AS i
          FROM htoks WHERE len(t) >= 5
        )
        UNION ALL
        SELECT array_to_string(t, ' ') AS sh FROM htoks WHERE len(t) < 5
      ) WHERE sh <> ''
    )
    SELECT c.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN h.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hit,
           ROUND(SUM(CASE WHEN h.sh IS NOT NULL THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 4) AS hit_rate
    FROM csh c LEFT JOIN hsh h ON c.sh = h.sh
    GROUP BY c.doc_id
    """,
    doc="Per-document eval-contamination RATE: the fraction of a "
    "doc's distinct 5-token shingles that appear anywhere in the "
    "held-out split (doc_id % 97). Generalizes the binary "
    "decontaminate gate into a thresholdable audit metric. Spark "
    "joins xxhash64'd shingle longs against the broadcast held-out "
    "shingle set — one map-side-partial groupBy(doc_id); the oracle "
    "recomputes with string shingles.",
)
def contamination_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", rebalance=True)
    heldout = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    c_sh = shingles(corpus, k=5, hash_family=F.xxhash64)
    t_sh = (
        shingles(heldout, k=5, hash_family=F.xxhash64)
        .select("shingle")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        c_sh.join(F.broadcast(t_sh), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_hit"),
            F.round(
                F.sum(F.coalesce(F.col("hit"), F.lit(0)))
                / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("hit_rate"),
        )
    )


@register(
    "hybrid_rrf_topk",
    rf"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
      FROM documents WHERE trim(text) <> ''
    ), dl AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id
    ), stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, AVG(dl) AS avgdl FROM dl
    ), corpus AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_tok FROM toks
    ), ctf AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS ctf
      FROM toks WHERE token IN ({_TERMS_SQL}) GROUP BY token
    ), tf AS (
      SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks WHERE token IN ({_TERMS_SQL})
      GROUP BY doc_id, token
    ), cand AS (
      SELECT DISTINCT doc_id FROM tf
    ), bm25 AS (
      SELECT t.doc_id,
             ROUND(SUM(
               ln(1 + (s.n_docs - d.dfc + 0.5) / (d.dfc + 0.5))
               * t.tf * 2.2
               / (t.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl))
             ), 4) AS bm25
      FROM tf t
      JOIN (SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS dfc
            FROM toks WHERE token IN ({_TERMS_SQL}) GROUP BY token) d
        ON t.token = d.token
      JOIN dl l ON l.doc_id = t.doc_id
      CROSS JOIN stats s
      GROUP BY t.doc_id
    ), ql AS (
      SELECT c.doc_id,
             ROUND(SUM(
               ln((COALESCE(tf.tf, 0) + 100.0 * ctf.ctf / co.n_tok)
                  / (l.dl + 100.0))
             ), 4) AS ql
      FROM cand c
      CROSS JOIN ctf
      LEFT JOIN tf ON tf.doc_id = c.doc_id AND tf.token = ctf.token
      JOIN dl l ON l.doc_id = c.doc_id
      CROSS JOIN corpus co
      GROUP BY c.doc_id
    ), ranked AS (
      SELECT b.doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY b.bm25 DESC, b.doc_id)
                  AS INT) AS rank_bm25,
             CAST(ROW_NUMBER() OVER (ORDER BY q.ql DESC, q.doc_id)
                  AS INT) AS rank_ql
      FROM bm25 b JOIN ql q ON q.doc_id = b.doc_id
    )
    SELECT doc_id, rank_bm25, rank_ql,
           ROUND(1.0 / (60 + rank_bm25) + 1.0 / (60 + rank_ql), 6)
             AS rrf_score
    FROM ranked
    ORDER BY rrf_score DESC, doc_id
    LIMIT 20
    """,
    doc="Hybrid retrieval via Reciprocal Rank Fusion (Cormack et al. "
    "2009, k=60): fuse BM25 (the lexical ranker the registry already "
    "exposes standalone) with a Dirichlet-smoothed query-likelihood "
    "model (Zhai & Lafferty 2001, mu=100) — two genuinely different "
    "published rankers — by summing 1/(60+rank) over both rankings "
    "for the shared candidate set (docs matching >= 1 query term). "
    "Scores are rounded to 4 dp BEFORE ranking with a doc_id "
    "tie-break, so ranks (and therefore the fusion) are "
    "FP-order-independent. RRF is what production hybrid search "
    "(lexical + vector) ships, expressed here entirely relationally: "
    "two scoring aggregates over the same tf/dl frames, two "
    "rank windows over the query-bounded candidate set (never the "
    "corpus), one fuse join, one top-k heap.",
)
def hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents", rebalance=True).filter(
        F.trim(F.col("text")) != ""
    )
    toks = d.select("doc_id", F.explode(tokens("text")).alias("token"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    n_tok = toks.agg(F.count(F.lit(1)).alias("n_tok"))
    qt = toks.filter(F.col("token").isin(BM25_TERMS))
    ctf = qt.groupBy("token").agg(F.count(F.lit(1)).alias("ctf"))
    tf = qt.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    cand = tf.select("doc_id").distinct()
    bm25 = bm25_scores(toks, BM25_TERMS)
    ql = (
        cand.crossJoin(F.broadcast(ctf))
        .join(tf, ["doc_id", "token"], "left")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(n_tok))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(
                    F.log(
                        (
                            F.coalesce(F.col("tf"), F.lit(0))
                            + 100.0 * F.col("ctf") / F.col("n_tok")
                        )
                        / (F.col("dl") + 100.0)
                    )
                ),
                4,
            ).alias("ql")
        )
    )
    ranked = bm25.join(ql, "doc_id").select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.desc("bm25"), "doc_id"))
        .cast("int")
        .alias("rank_bm25"),
        F.row_number()
        .over(W.orderBy(F.desc("ql"), "doc_id"))
        .cast("int")
        .alias("rank_ql"),
    )
    return (
        ranked.select(
            "doc_id",
            "rank_bm25",
            "rank_ql",
            F.round(
                1.0 / (60 + F.col("rank_bm25")) + 1.0 / (60 + F.col("rank_ql")),
                6,
            ).alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), "doc_id")
        .limit(20)
    )


@register(
    "retrieval_ndcg_at_10",
    rf"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
      FROM documents WHERE trim(text) <> ''
    ), dl AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id
    ), stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, AVG(dl) AS avgdl FROM dl
    ), tf AS (
      SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks WHERE token IN ({_TERMS_SQL})
      GROUP BY doc_id, token
    ), dfq AS (
      SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS dfc
      FROM toks WHERE token IN ({_TERMS_SQL})
      GROUP BY token
    ), scored AS (
      SELECT t.doc_id,
             ROUND(SUM(
               ln(1 + (s.n_docs - d.dfc + 0.5) / (d.dfc + 0.5))
               * t.tf * 2.2
               / (t.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl))
             ), 4) AS bm25
      FROM tf t
      JOIN dfq d ON t.token = d.token
      JOIN dl l ON l.doc_id = t.doc_id
      CROSS JOIN stats s
      GROUP BY t.doc_id
    ), rel AS (
      SELECT doc_id, CAST(COUNT(DISTINCT token) AS BIGINT) AS rel
      FROM toks WHERE token IN ({_TERMS_SQL})
      GROUP BY doc_id
    ), ranked AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rk
      FROM scored QUALIFY rk <= 10
    ), dcg AS (
      SELECT SUM((POWER(2, COALESCE(rel.rel, 0)) - 1) / LOG2(rk + 1)) AS dcg
      FROM ranked LEFT JOIN rel ON rel.doc_id = ranked.doc_id
    ), ideal AS (
      SELECT rel, ROW_NUMBER() OVER (ORDER BY rel DESC, doc_id) AS rk
      FROM rel QUALIFY rk <= 10
    ), idcg AS (
      SELECT SUM((POWER(2, rel) - 1) / LOG2(rk + 1)) AS idcg FROM ideal
    )
    SELECT ROUND(dcg.dcg, 4) AS dcg_at_10,
           ROUND(idcg.idcg, 4) AS idcg_at_10,
           ROUND(dcg.dcg / idcg.idcg, 4) AS ndcg_at_10
    FROM dcg, idcg
    """,
    doc="Ranking-quality evaluation for the retrieval family: "
    "nDCG@10 of the BM25 ranking against graded relevance (number "
    "of distinct query terms a doc contains, 0..4 — the standard "
    "overlap-graded label when no human judgments exist). DCG uses "
    "the (2^rel - 1)/log2(rank+1) gain; IDCG re-ranks the whole "
    "corpus by relevance, so the metric is corpus-complete, not "
    "retrieved-set-relative. Everything is two aggregates plus two "
    "top-10 rankings (TakeOrderedAndProject shapes) — at 100 TB the "
    "eval costs one BM25 pass plus a 10-row window, which is why "
    "retrieval eval belongs IN the engine rather than in a "
    "driver-side notebook. Ties break on doc_id over the 4-dp "
    "rounded score in both engines.",
)
def retrieval_ndcg_at_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents", rebalance=True)
    tok = d.select("doc_id", F.explode(tokens("text")).alias("token"))
    scores = bm25_scores(tok, BM25_TERMS)
    rel = (
        tok.filter(F.col("token").isin(BM25_TERMS))
        .groupBy("doc_id")
        .agg(F.countDistinct("token").alias("rel"))
    )
    gain = (F.pow(F.lit(2.0), F.col("rel")) - 1.0) / F.log2(F.col("rk") + 1.0)
    ranked = (
        scores.orderBy(F.col("bm25").desc(), "doc_id")
        .limit(10)
        .select("doc_id", F.row_number().over(
            W.orderBy(F.col("bm25").desc(), "doc_id")
        ).alias("rk"))
    )
    dcg = (
        ranked.join(rel, "doc_id", "left")
        .na.fill({"rel": 0})
        .agg(F.sum(gain).alias("dcg"))
    )
    ideal = (
        rel.orderBy(F.col("rel").desc(), "doc_id")
        .limit(10)
        .select("rel", F.row_number().over(
            W.orderBy(F.col("rel").desc(), "doc_id")
        ).alias("rk"))
    )
    idcg = ideal.agg(F.sum(gain).alias("idcg"))
    return dcg.crossJoin(idcg).select(
        F.round("dcg", 4).alias("dcg_at_10"),
        F.round("idcg", 4).alias("idcg_at_10"),
        F.round(F.col("dcg") / F.col("idcg"), 4).alias("ndcg_at_10"),
    )


@register(
    "retrieval_mrr_at_10",
    rf"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
      FROM documents WHERE trim(text) <> ''
    ), dl AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id
    ), stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, AVG(dl) AS avgdl FROM dl
    ), tf AS (
      SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks WHERE token IN ({_TERMS_SQL})
      GROUP BY doc_id, token
    ), dfq AS (
      SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS dfc
      FROM toks WHERE token IN ({_TERMS_SQL})
      GROUP BY token
    ), scored AS (
      SELECT t.doc_id,
             ROUND(SUM(
               ln(1 + (s.n_docs - d.dfc + 0.5) / (d.dfc + 0.5))
               * t.tf * 2.2
               / (t.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl))
             ), 4) AS bm25
      FROM tf t
      JOIN dfq d ON t.token = d.token
      JOIN dl l ON l.doc_id = t.doc_id
      CROSS JOIN stats s
      GROUP BY t.doc_id
    ), rel AS (
      SELECT doc_id
      FROM toks WHERE token IN ({_TERMS_SQL})
      GROUP BY doc_id
      HAVING COUNT(DISTINCT token) >= 3
    ), ranked AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rk
      FROM scored QUALIFY rk <= 10
    ), hits AS (
      SELECT ranked.rk FROM ranked JOIN rel ON rel.doc_id = ranked.doc_id
    ), n_rel AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rel FROM rel
    )
    SELECT ROUND(COALESCE(1.0 / MIN(hits.rk), 0.0), 4) AS mrr_at_10,
           ROUND(CAST(COUNT(hits.rk) AS DOUBLE) / 10.0, 4) AS precision_at_10,
           ROUND(CAST(COUNT(hits.rk) AS DOUBLE) / n_rel.n_rel, 4) AS recall_at_10
    FROM n_rel LEFT JOIN hits ON TRUE
    GROUP BY n_rel.n_rel
    """,
    doc="Binary-relevance companions to retrieval_ndcg_at_10, "
    "completing the retrieval-eval family: MRR@10 / precision@10 / "
    "recall@10 of the BM25 top-10 against high-grade relevance "
    "(docs containing >= 3 of the 4 query terms). Same cost shape "
    "as the nDCG eval — one BM25 pass plus a 10-row ranking — so at "
    "100 TB the whole eval family is a single corpus scan; recall's "
    "denominator is the corpus-wide relevant count (one extra "
    "map-side-combined aggregate, no second shuffle).",
)
def retrieval_mrr_at_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents", rebalance=True)
    tok = d.select("doc_id", F.explode(tokens("text")).alias("token"))
    scores = bm25_scores(tok, BM25_TERMS)
    rel = (
        tok.filter(F.col("token").isin(BM25_TERMS))
        .groupBy("doc_id")
        .agg(F.countDistinct("token").alias("rel"))
        .filter(F.col("rel") >= 3)
        .select("doc_id")
    )
    ranked = (
        scores.orderBy(F.col("bm25").desc(), "doc_id")
        .limit(10)
        .select("doc_id", F.row_number().over(
            W.orderBy(F.col("bm25").desc(), "doc_id")
        ).alias("rk"))
    )
    hits = ranked.join(rel, "doc_id", "inner").agg(
        F.min("rk").alias("first_rk"), F.count("rk").alias("n_hits")
    )
    n_rel = rel.agg(F.count("doc_id").alias("n_rel"))
    return hits.crossJoin(n_rel).select(
        F.round(F.coalesce(1.0 / F.col("first_rk"), F.lit(0.0)), 4).alias(
            "mrr_at_10"
        ),
        F.round(F.col("n_hits") / 10.0, 4).alias("precision_at_10"),
        F.round(F.col("n_hits") / F.col("n_rel"), 4).alias("recall_at_10"),
    )


_BAND_CONFIGS = [(b, 32 // b) for b in (1, 2, 4, 8, 16, 32)]
_BAND_VALUES_SQL = ", ".join(f"({b}, {r})" for b, r in _BAND_CONFIGS)


@register(
    "minhash_band_plan",
    f"""
    WITH cfg(bands, rows_per_band) AS (VALUES {_BAND_VALUES_SQL})
    SELECT bands, rows_per_band,
           ROUND(POWER(1.0 / bands, 1.0 / rows_per_band), 4) AS threshold,
           ROUND(1 - POWER(1 - POWER(0.3, rows_per_band), bands), 4) AS p_at_j30,
           ROUND(1 - POWER(1 - POWER(0.5, rows_per_band), bands), 4) AS p_at_j50,
           ROUND(1 - POWER(1 - POWER(0.8, rows_per_band), bands), 4) AS p_at_j80
    FROM cfg ORDER BY bands
    """,
    doc="The banding-plan table behind minhash_near_duplicates' "
    "(bands=8, rows=4) default: for every (b, r) factorization of "
    "the 32-hash signature, the S-curve threshold (1/b)^(1/r) and "
    "the candidate-catch probability 1-(1-J^r)^b at J = 0.3 / 0.5 / "
    "0.8. This is the knob a 100-TB run tunes FIRST — candidate "
    "volume scales with the J30 column (random collisions) while "
    "recall at the dedup threshold follows J50/J80 — so the plan "
    "belongs in the engine as a queryable table, not in a notebook. "
    "Closed-form math over a 6-row config frame; JVM expressions "
    "only.",
)
def minhash_band_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    cfg = spark.createDataFrame(_BAND_CONFIGS, "bands int, rows_per_band int")

    def p_at(j: float):
        return F.round(
            1 - F.pow(1 - F.pow(F.lit(j), F.col("rows_per_band")), F.col("bands")),
            4,
        )

    return cfg.select(
        "bands",
        "rows_per_band",
        F.round(F.pow(1.0 / F.col("bands"), 1.0 / F.col("rows_per_band")), 4).alias(
            "threshold"
        ),
        p_at(0.3).alias("p_at_j30"),
        p_at(0.5).alias("p_at_j50"),
        p_at(0.8).alias("p_at_j80"),
    ).orderBy("bands")

"""Relational text retrieval: BM25 scoring as one DataFrame plan.

The quality-mining step of a training-data pipeline: score every
document against a seed-term query (BM25, the classic probabilistic
ranking function) to surface the most on-topic documents for
curation or evaluation-set construction. Complements the engine's
TF-IDF ranking (``queries/llm_pipeline.tfidf_top_terms``) with a
query-conditioned score.

Formula (Robertson/Sparck-Jones, BM25 with the Lucene idf variant —
always positive):

    idf(t)  = ln(1 + (N - df_t + 0.5) / (df_t + 0.5))
    s(d, q) = sum over t in q of
              idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl/avgdl))

Scale shape: one token explode (the caller's, so a query that also
reads the tokens for other scores explodes them once), two
aggregates (per-doc length, per-term document frequency), and the
scoring join broadcasts the tiny per-term idf and the 1-row corpus
stats — only (doc, term, tf) scalars shuffle; nothing quadratic, no
UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F



def bm25_scores(
    tok: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """(id, bm25) for every document matching >= 1 query term, from
    the corpus's (id, token) rows, one per token occurrence (explode
    :func:`~.text.tokens`); a document with no tokens does not count
    in N or avgdl. The score is rounded to 4 dp (oracle-stable)."""
    dl = tok.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    qtok = tok.filter(F.col("token").isin(terms))
    tf = qtok.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    dfq = qtok.groupBy("token").agg(
        F.countDistinct(id_col).alias("dfc")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("dfc") + 0.5) / (F.col("dfc") + 0.5)
    )
    term_score = (
        idf
        * F.col("tf")
        * (k1 + 1.0)
        / (
            F.col("tf")
            + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
        )
    )
    return (
        tf.join(F.broadcast(dfq), "token")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .withColumn("term_score", term_score)
        .groupBy(id_col)
        .agg(F.round(F.sum("term_score"), 4).alias("bm25"))
    )

"""Composed pipelines: QuerySpec-driven plans through the driver
gate, the corpus-filter pipeline, and skew-handling shapes — each
checked against a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..lifecycle import hold
from ..operators import text
from ..operators.skew import salted_sum_count
from ..plans import QuerySpec, compile_spec
from . import register


@register(
    "queryspec_filter_topk",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderstatus = 'O'
      AND o_totalprice > 100000
      AND EXTRACT(YEAR FROM o_orderdate) BETWEEN 1996 AND 1997
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 15
    """,
    doc="The QuerySpec planner driven end-to-end through the driver "
    "gate: filters dict (equality + comparison), year range, order, "
    "limit — compiled to one plan by plans.compile_spec.",
)
def queryspec_filter_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = QuerySpec(
        dataset="orders",
        metrics=["o_orderkey", "o_custkey", "o_totalprice"],
        filters={"o_orderstatus": "O", "o_totalprice": (">", 100000)},
        year_range=(1996, 1997),
        order_by=[("o_totalprice", False), ("o_orderkey", True)],
        limit=15,
    )
    plan, dropped = compile_spec(spec, load_table(spark, sf_dir, "orders"))
    assert dropped == []
    return plan


@register(
    "queryspec_group_agg",
    """
    SELECT c_mktsegment, ROUND(SUM(c_acctbal), 2) AS c_acctbal
    FROM customer
    WHERE c_acctbal > 0
    GROUP BY c_mktsegment
    """,
    doc="QuerySpec aggregation path: comparison filter + groupBy + sum "
    "(the A2/A8 shape through the planner).",
)
def queryspec_group_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = QuerySpec(
        dataset="customer",
        metrics=["c_acctbal"],
        filters={"c_acctbal": (">", 0)},
        group_by=["c_mktsegment"],
        agg="sum",
    )
    plan, _ = compile_spec(spec, load_table(spark, sf_dir, "customer"))
    return plan.select("c_mktsegment", F.round("c_acctbal", 2).alias("c_acctbal"))


@register(
    "corpus_filter_pipeline",
    r"""
    WITH scored AS (
      SELECT doc_id, text, lang, n_chars,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
             ROUND(len(regexp_extract_all(text, '[A-Za-z]'))
                   / CAST(GREATEST(length(text), 1) AS DOUBLE), 4) AS alpha_ratio
      FROM documents
    ), keep AS (
      SELECT fp, MIN(doc_id) AS keep_id FROM scored GROUP BY fp
    )
    SELECT s.doc_id, s.lang, s.n_chars, s.alpha_ratio
    FROM scored s JOIN keep k ON s.doc_id = k.keep_id
    WHERE s.alpha_ratio >= 0.7 AND s.n_chars BETWEEN 100 AND 500
    """,
    doc="The pretraining corpus-filter pipeline: exact dedup (keep min "
    "doc_id per fingerprint) + quality gate (alpha ratio, length "
    "bounds) in one plan — the composition every data-curation run "
    "starts with. Near-dup and ANN stages chain on top (rows-only "
    "variants).",
)
def corpus_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", rebalance=True)
    feats = text.quality_features("text")
    scored = d.select(
        "doc_id",
        "lang",
        "n_chars",
        text.fingerprint("text").alias("fp"),
        feats["alpha_ratio"].alias("alpha_ratio"),
    )
    keep = scored.groupBy("fp").agg(F.min("doc_id").alias("keep_id"))
    return (
        scored.join(keep, scored.doc_id == keep.keep_id, "left_semi")
        .filter((F.col("alpha_ratio") >= 0.7) & F.col("n_chars").between(100, 500))
        .select("doc_id", "lang", "n_chars", "alpha_ratio")
    )


def curation_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pretraining-curation DAG as ONE lazy plan: held-out
    split -> quality gate -> exact dedup -> MinHash near-dup removal
    (keep min id per pair) -> decontamination against the held-out
    set -> token-window chunking. Demonstrates that every operator
    composes without materialization barriers (the MinHash persist
    is the single deliberate reuse point).

    Registry entry RETIRED in round 17 (fifth and FINAL exercise of
    the pinned displacement policy, displaced by the FULL-oracled
    embedding_cosine_batch_topk): the MinHash stage is
    hash-randomized so its driver row was rows-only BY DESIGN, and
    curation_end_to_end_exact — the same DAG with the MinHash stage
    swapped for exact dedup — stays registered under a full oracle.
    Each stage keeps its own oracle/bound elsewhere
    (corpus_filter_pipeline, decontaminate_corpus, the MinHash
    recall floor, document_chunks), the plan keeps its r1-bar bench
    slot via a local builder in bench.py (and its scale rows via
    scripts/scale_bench.py's local builder), and
    tests/test_curation_pipeline.py still drives this function
    directly."""
    from ..operators import dedup
    from ..operators.text import chunk_spans, quality_features

    d = load_table(spark, sf_dir, "documents", rebalance=True)
    # Held-out "eval" split by stable key arithmetic (not random).
    heldout = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)

    gated = corpus.filter(quality_features("text")["alpha_ratio"] >= 0.5)
    # The dedup survivor set feeds three downstream consumers (MinHash
    # shingling, the near-dup anti-join, decontamination shingling);
    # persist it once so the scan->gate->fingerprint-dedup prefix runs
    # a single time instead of three (measured 15.5s -> 6.3s cold at
    # sf0.1). MEMORY_AND_DISK default: spills, never OOMs.
    uniq = dedup.drop_exact_duplicates(gated).persist()

    near = dedup.minhash_near_duplicates(uniq, min_jaccard=0.5)
    # Keep the lexicographically-first member of each near-dup pair.
    drop_ids = near.select(F.col("id_b").alias("doc_id")).distinct()
    deduped = uniq.join(drop_ids, "doc_id", "left_anti")

    clean, _ = dedup.decontaminate(deduped, heldout)
    out = chunk_spans(clean, chunk_tokens=64, overlap=16)
    return hold(out, uniq, near)


@register(
    "curation_end_to_end_exact",
    r"""
    WITH heldout AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0
    ), corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0
    ), gated AS (
      SELECT doc_id, text FROM corpus
      WHERE ROUND(len(regexp_extract_all(text, '[A-Za-z]'))
            / CAST(GREATEST(length(text), 1) AS DOUBLE), 4) >= 0.5
    ), keep AS (
      SELECT MIN(doc_id) AS doc_id
      FROM gated
      GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
    ), uniq AS (
      SELECT g.doc_id, g.text FROM gated g JOIN keep k ON g.doc_id = k.doc_id
    ), ctoks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      FROM uniq WHERE trim(text) <> ''
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
    ), contaminated AS (
      SELECT DISTINCT c.doc_id FROM csh c JOIN hsh h ON c.sh = h.sh
    ), clean AS (
      SELECT u.doc_id, u.text FROM uniq u
      WHERE u.doc_id NOT IN (SELECT doc_id FROM contaminated)
    ), dtok AS (
      SELECT doc_id,
             CAST(CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT)
               AS n_tokens
      FROM clean
    ), chunked AS (
      SELECT doc_id, n_tokens,
             CASE WHEN n_tokens <= 64 THEN 1
                  ELSE CAST(CEIL((n_tokens - 64) / 48.0) AS BIGINT) + 1 END AS n_chunks
      FROM dtok WHERE n_tokens > 0
    ), e AS (
      SELECT doc_id, n_tokens, unnest(range(0, n_chunks)) AS chunk_idx FROM chunked
    )
    SELECT doc_id, chunk_idx,
           chunk_idx * 48 AS start_tok,
           LEAST(chunk_idx * 48 + 64, n_tokens) AS end_tok,
           LEAST(chunk_idx * 48 + 64, n_tokens) - chunk_idx * 48 AS chunk_len
    FROM e
    """,
    doc="The curation DAG made falsifiable end-to-end (VERDICT r3 next "
    "#3): the same composition as curation_end_to_end with the "
    "hash-randomized MinHash stage swapped for exact dedup — "
    "held-out split -> quality gate -> exact dedup -> decontaminate "
    "-> chunk — so the WHOLE pipeline is deterministic and the "
    "oracle recomputes every stage in SQL. The MinHash variant stays "
    "registered alongside (rows-only, each stage bounded "
    "separately).",
)
def curation_end_to_end_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup
    from ..operators.text import chunk_spans, quality_features

    d = load_table(spark, sf_dir, "documents", rebalance=True)
    heldout = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    gated = corpus.filter(quality_features("text")["alpha_ratio"] >= 0.5)
    # uniq feeds both the decontamination shingling and the final
    # anti-join; persist to run the dedup prefix once.
    uniq = dedup.drop_exact_duplicates(gated).persist()
    clean, _ = dedup.decontaminate(uniq, heldout)
    out = chunk_spans(clean, chunk_tokens=64, overlap=16)
    return hold(out, uniq)


@register(
    "salted_agg_equivalence",
    """
    SELECT l_returnflag,
           ROUND(SUM(l_quantity), 2) AS sum_l_quantity,
           COUNT(*)                  AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Skew-handling: two-phase salted aggregation over a 3-value "
    "grouping key (maximal skew: every key is hot). The oracle is the "
    "plain GROUP BY — salting must be algebraically invisible.",
)
def salted_agg_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem", rebalance=True)
    out = salted_sum_count(li, ["l_returnflag"], "l_quantity", n_salts=16)
    return out.select(
        "l_returnflag",
        F.round("sum_l_quantity", 2).alias("sum_l_quantity"),
        "n_rows",
    )

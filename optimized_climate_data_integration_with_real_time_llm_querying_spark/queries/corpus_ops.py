r"""Corpus-construction operators: near-dup clustering,
unigram-LM quality scoring, BPE pair statistics, and deterministic
source mixing — the post-dedup steps of a pretraining-data pipeline.

Every query here carries a full DuckDB oracle (see the ORACLE-HYGIENE
RULES in ``queries/__init__``): the cluster query reconstructs the
iterative component computation with a recursive CTE, and the mixing
queries bucket with the cross-engine md5 hash (rule 6, md5_hash64).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..lifecycle import hold
from ..operators import dedup
from ..operators.graph import dedup_cluster_assignments
from ..operators.text import tokens, word_grams
from . import register


@register(
    "dedup_clusters",
    r"""
    WITH RECURSIVE toks AS (
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
      SELECT sh FROM sh GROUP BY sh HAVING COUNT(DISTINCT doc_id) <= 100
    ), shc AS (
      SELECT s.doc_id, s.sh FROM sh s JOIN rare r ON s.sh = r.sh
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS set_size FROM shc GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM shc a JOIN shc b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ), pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE ROUND(n_common / CAST(sa.set_size + sb.set_size - n_common AS DOUBLE), 6)
            >= 0.6
    ), edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b AS a, id_a AS b FROM pairs
    ), reach AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ), labels AS (
      SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id FROM reach GROUP BY a
    ), assigned AS (
      SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
    ), csize AS (
      SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
      FROM assigned GROUP BY cluster_id
    )
    SELECT a.doc_id, a.cluster_id, c.cluster_size,
           CAST(a.doc_id = a.cluster_id AS INT) AS is_kept
    FROM assigned a JOIN csize c ON a.cluster_id = c.cluster_id
    """,
    doc="Near-dup CLUSTERING: connected components over the exact-"
    "Jaccard >= 0.6 pair graph (3-word shingles, df-capped), assigning "
    "every document a cluster id (min reachable doc_id), the cluster "
    "size, and the keep/drop verdict a dedup pass would apply. Spark "
    "side is iterative min-label propagation (operators/graph.py) — "
    "one distributed join+agg per round, lineage truncated per "
    "iteration; the oracle recomputes the fixpoint with a recursive "
    "CTE, so the iterative algorithm is fully falsifiable.",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", rebalance=True)
    pairs = dedup.ngram_jaccard_pairs(d, k=3, min_jaccard=0.6, max_shingle_df=100)
    out = dedup_cluster_assignments(d, pairs)
    sel = out.select(
        "doc_id", "cluster_id", "cluster_size", F.col("is_kept").cast("int").alias("is_kept")
    )
    return hold(sel, out)


_PAIR_GRAPH_CTE = r"""
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
      SELECT sh FROM sh GROUP BY sh HAVING COUNT(DISTINCT doc_id) <= 100
    ), shc AS (
      SELECT s.doc_id, s.sh FROM sh s JOIN rare r ON s.sh = r.sh
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS set_size FROM shc GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM shc a JOIN shc b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ), pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE ROUND(n_common / CAST(sa.set_size + sb.set_size - n_common AS DOUBLE), 6)
            >= 0.6
    )"""


def _pagerank_oracle(d: float = 0.85, n_iter: int = 3) -> str:
    """Unrolled power-iteration oracle over the exact-Jaccard >= 0.6
    pair graph (the same pairs CTE dedup_clusters replays): pr{i} from
    pr{i-1} via one edge join + dst aggregate, every round on the
    6-dp grid — the kmeans/BPE falsifiability recipe applied to
    PageRank. (1 - 0.85) is written as the SUBTRACTION on both
    engines so the damping constant is the identical IEEE double."""
    parts = [
        _PAIR_GRAPH_CTE
        + """, edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs
    ), nodes AS (SELECT DISTINCT src AS node FROM edges),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src),
    pr0 AS (SELECT node, ROUND(1.0 / nn.n, 6) AS pr FROM nodes, nn)"""
    ]
    for i in range(1, n_iter + 1):
        parts.append(
            f""", c{i} AS (
      SELECT e.dst, SUM(p.pr / dg.deg) AS s
      FROM edges e
      JOIN pr{i - 1} p ON p.node = e.src
      JOIN deg dg ON dg.src = e.src
      GROUP BY e.dst
    ), pr{i} AS (
      SELECT n2.node,
             ROUND((1 - {d}) / nn.n + {d} * COALESCE(c.s, 0), 6) AS pr
      FROM nodes n2 CROSS JOIN nn
      LEFT JOIN c{i} c ON c.dst = n2.node
    )"""
        )
    parts.append(
        f"""
    SELECT node AS doc_id, pr AS pagerank FROM pr{n_iter}
    """
    )
    return "".join(parts)


@register(
    "similarity_pagerank",
    _pagerank_oracle(0.85, 3),
    doc="PageRank over the near-dup similarity graph (exact-Jaccard "
    ">= 0.6 pairs, the identical edge set dedup_clusters uses): "
    "high-centrality docs are TEMPLATE HUBS — boilerplate bridging "
    "many duplicate chains, worth inspecting before any keep-lowest-"
    "id dedup erases the structure. Second iterative graph algorithm "
    "under a full oracle (after connected components): 3 power "
    "iterations, uniform 1/N init, damping 0.85, every round on the "
    "6-dp grid, replayed as an unrolled CTE chain. Spark shape: per "
    "round one equi-join on the edge key + one (dst) aggregate; "
    "(node, scalar) shuffles; symmetrized edges persisted once.",
)
def similarity_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import pagerank

    d = load_table(spark, sf_dir, "documents", rebalance=True)
    pairs = dedup.ngram_jaccard_pairs(d, k=3, min_jaccard=0.6, max_shingle_df=100)
    pr = pagerank(pairs, d=0.85, n_iter=3)
    out = pr.select(F.col("node").alias("doc_id"), F.col("pr").alias("pagerank"))
    return hold(out, pr)


@register(
    "cluster_cap_sample",
    _PAIR_GRAPH_CTE.replace("WITH toks", "WITH RECURSIVE toks", 1)
    + r""", edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b AS a, id_a AS b FROM pairs
    ), reach AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ), labels AS (
      SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id FROM reach GROUP BY a
    ), assigned AS (
      SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id,
             d.n_chars
      FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
    ), ranked AS (
      SELECT doc_id, cluster_id,
             CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
               AS cluster_size,
             CAST(ROW_NUMBER() OVER (PARTITION BY cluster_id
                                     ORDER BY n_chars DESC, doc_id) AS INT)
               AS rnk
      FROM assigned
    )
    SELECT doc_id, cluster_id, cluster_size, rnk,
           CAST(rnk <= 2 AS INT) AS kept
    FROM ranked
    """,
    doc="Dedup-AWARE sampling: cap each near-dup cluster at its top-2 "
    "documents by length (the keep-best alternative to dedup_clusters' "
    "keep-lowest-id verdict — a 100-TB curation run keeps the best "
    "exemplars of a template, not whichever arrived first). Same "
    "connected-components assignment as dedup_clusters (exact-Jaccard "
    ">= 0.6 pairs, min-label propagation), then one per-cluster window "
    "ranking by (n_chars DESC, doc_id): rank <= 2 is kept. The window "
    "partitions by cluster_id, so the ranking shuffles (id, id, "
    "bigint) triples only — no text moves — and singleton clusters "
    "(the overwhelming mass) are 1-row partitions. Oracle replays the "
    "component fixpoint with the same recursive CTE as dedup_clusters "
    "plus the ROW_NUMBER cap.",
)
def cluster_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents", rebalance=True)
    pairs = dedup.ngram_jaccard_pairs(d, k=3, min_jaccard=0.6, max_shingle_df=100)
    out = dedup_cluster_assignments(d, pairs)
    ranked = out.join(d.select("doc_id", "n_chars"), "doc_id")
    w = W.partitionBy("cluster_id").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    sel = ranked.select(
        "doc_id",
        "cluster_id",
        F.col("cluster_size").cast("long").alias("cluster_size"),
        F.row_number().over(w).cast("int").alias("rnk"),
    ).withColumn("kept", (F.col("rnk") <= 2).cast("int"))
    return hold(sel, out)


_WP_ROUNDS, _WP_VOCAB_K, _WP_MAX_SUB = 12, 50, 6


def _wordpiece_oracle(n_rounds: int, vocab_k: int, max_sub: int) -> str:
    """Unrolled greedy longest-match segmentation: vocabulary = all
    single characters plus the top-``vocab_k`` substrings (length <=
    ``max_sub``) by occurrence-weighted frequency (ties to the
    lexicographically smaller substring), then ``n_rounds`` rounds of
    'take the longest vocab prefix at the cursor' per distinct word.
    The same CTE-unroll recipe as the BPE learner."""
    parts = [
        rf"""
    WITH toks AS (
      SELECT unnest(string_split_regex(trim(text), '\s+')) AS word
      FROM documents WHERE trim(text) <> ''
    ), words AS MATERIALIZED (
      SELECT word, COUNT(*) AS cnt FROM toks WHERE word <> '' GROUP BY word
    ), subs AS (
      SELECT substr(word, CAST(i AS BIGINT), CAST(l AS BIGINT)) AS sub, cnt
      FROM (
        SELECT word, cnt, i,
               unnest(range(1, LEAST({max_sub}, len(word) - i + 1) + 1)) AS l
        FROM (
          SELECT word, cnt, unnest(range(1, len(word) + 1)) AS i FROM words
        )
      )
    ), weights AS MATERIALIZED (
      SELECT sub, CAST(SUM(cnt) AS BIGINT) AS w FROM subs GROUP BY sub
    ), top AS (
      SELECT sub FROM weights ORDER BY w DESC, sub LIMIT {vocab_k}
    ), vocab AS MATERIALIZED (
      SELECT DISTINCT sub, len(sub) AS l FROM (
        SELECT sub FROM top
        UNION ALL
        SELECT sub FROM weights WHERE len(sub) = 1
      )
    ), s0 AS (
      SELECT word, len(word) AS wl, 1 AS pos FROM words
    )"""
    ]
    for i in range(1, n_rounds + 1):
        parts.append(
            f""", m{i} AS (
      SELECT s.word, s.wl, s.pos, v.sub, v.l
      FROM s{i - 1} s
      JOIN vocab v ON substr(s.word, CAST(s.pos AS BIGINT), CAST(v.l AS BIGINT)) = v.sub
    ), b{i} AS MATERIALIZED (
      SELECT word, wl, pos, sub, l FROM m{i}
      QUALIFY ROW_NUMBER() OVER (PARTITION BY word, pos ORDER BY l DESC, sub DESC) = 1
    ), s{i} AS (
      SELECT word, wl, pos + l AS pos FROM b{i} WHERE pos + l <= wl
    )"""
        )
    pieces = "\n      UNION ALL\n      ".join(
        f"SELECT word, {i} AS piece_idx, sub AS piece FROM b{i}"
        for i in range(1, n_rounds + 1)
    )
    parts.append(
        f"""
    SELECT word, CAST(piece_idx AS INT) AS piece_idx, piece FROM (
      {pieces}
    )
    """
    )
    return "".join(parts)


@register(
    "wordpiece_greedy_segments",
    _wordpiece_oracle(_WP_ROUNDS, _WP_VOCAB_K, _WP_MAX_SUB),
    doc="WordPiece greedy longest-match segmentation — the BERT "
    "tokenizer RUNTIME, complementing the repo's BPE family (which "
    "applies merges in learned order; WordPiece instead takes the "
    "longest vocabulary prefix at each cursor). Vocabulary = every "
    f"single character + the top-{_WP_VOCAB_K} corpus substrings "
    f"(length <= {_WP_MAX_SUB}) by occurrence-weighted frequency with "
    "lexicographic tie-breaks; segmentation unrolls "
    f"{_WP_ROUNDS} rounds over the DISTINCT-WORD table only (the "
    "encode-on-vocabulary trick: corpus scale never multiplies the "
    "iteration, and doc-level encoding is a broadcast join away). "
    "Single-char coverage guarantees termination; every round's "
    "longest-prefix choice replays in DuckDB. Reconstruction "
    "(concat(pieces) == word, every word) is property-tested.",
)
def wordpiece_greedy_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", rebalance=True)
    w = d.select(F.explode(tokens("text")).alias("word")).filter(
        F.col("word") != ""
    )
    # Persisted: every union branch below starts its lazy chain from
    # this frame — without the persist each branch re-runs the corpus
    # tokenize+explode for a word table that is vocabulary-sized.
    words = w.groupBy("word").agg(F.count(F.lit(1)).alias("cnt")).persist()
    subs = (
        words.select(
            "word", "cnt", F.explode(F.sequence(F.lit(1), F.length("word"))).alias("i")
        )
        .select(
            "word",
            "cnt",
            "i",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.least(F.lit(_WP_MAX_SUB), F.length("word") - F.col("i") + 1),
                )
            ).alias("l"),
        )
        .select(F.expr("substring(word, i, l)").alias("sub"), "cnt")
    )
    weights = subs.groupBy("sub").agg(F.sum("cnt").alias("w"))
    top = weights.orderBy(F.desc("w"), "sub").limit(_WP_VOCAB_K).select("sub")
    chars = weights.filter(F.length("sub") == 1).select("sub")
    vocab = top.unionByName(chars).distinct().withColumn("l", F.length("sub"))
    # The vocabulary is bounded by construction (_WP_VOCAB_K pieces +
    # the corpus alphabet), so the 12-round greedy longest-match
    # unrolls as PURE COLUMN EXPRESSIONS over the distinct-word frame
    # with the vocabulary as a map literal {sub: length}: zero joins,
    # zero shuffles, one pass. A join per round would make each
    # round's branch lazily replay every earlier round (1+2+..+12 = 78
    # join+aggregate evaluations in one plan), so plan size — not
    # data — would be the wall cost. Match semantics are identical: a
    # candidate piece at (pos, l) counts only when
    # substring(word, pos, l) equals a vocab entry OF LENGTH l (the
    # former equi-join condition), and the per-round winner is
    # max(struct(l, sub)) — the same lexicographic argmax.
    vrows = sorted((r["sub"], int(r["l"])) for r in vocab.collect())
    # Two array literals + map_from_arrays (constant-folds to ONE
    # opaque map Literal) instead of create_map over scalar literals,
    # which the optimizer expands into a |vocab|-branch CaseKeyWhen at
    # every one of the 72 lookup sites — see unigram_lm_segments.
    mp = F.map_from_arrays(
        F.lit([s for s, _ in vrows]), F.lit([l for _, l in vrows])
    )
    cur = words.select(
        "word", F.length("word").alias("wl"), F.lit(1).cast("int").alias("_pos0")
    )
    for r in range(1, _WP_ROUNDS + 1):
        pos = F.col(f"_pos{r - 1}")
        cands = []
        for l in range(1, _WP_MAX_SUB + 1):
            sub_expr = F.substring(F.col("word"), pos, F.lit(l))
            cands.append(
                F.when(
                    pos.isNotNull() & (mp[sub_expr] == l),
                    F.struct(F.lit(l).alias("l"), sub_expr.alias("sub")),
                )
            )
        best = F.array_max(F.filter(F.array(*cands), lambda x: x.isNotNull()))
        cur = (
            cur.withColumn(
                f"_piece{r}",
                F.when(
                    best.isNotNull(),
                    F.struct(
                        F.lit(r).cast("int").alias("piece_idx"),
                        best["sub"].alias("piece"),
                    ),
                ),
            )
            .withColumn(
                f"_pos{r}",
                F.when(
                    best.isNotNull()
                    & (pos + best["l"] <= F.col("wl")),
                    (pos + best["l"]).cast("int"),
                ),
            )
        )
    parr = F.array(*[F.col(f"_piece{r}") for r in range(1, _WP_ROUNDS + 1)])
    out = cur.select(
        "word",
        F.explode(F.filter(parr, lambda x: x.isNotNull())).alias("sg"),
    ).select(
        "word",
        F.col("sg.piece_idx").alias("piece_idx"),
        F.col("sg.piece").alias("piece"),
    )
    return hold(out, words)


@register(
    "epoch_shuffle_shards",
    """
    WITH keyed AS (
      SELECT doc_id, n_chars,
             CAST(('0x' || substr(md5('shuf:0:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               AS skey
      FROM documents
    )
    SELECT doc_id,
           CAST(skey % 8 AS INT) AS shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY skey % 8
                                   ORDER BY skey, doc_id) - 1 AS BIGINT) AS pos,
           CAST(n_chars AS BIGINT) AS n_chars
    FROM keyed
    """,
    doc="Deterministic epoch shuffle into training shards — the "
    "last-mile ordering step before sequence packing: every document "
    "gets an md5 shuffle key seeded by the epoch, the key's low bits "
    "pick one of 8 shards, and position-in-shard is a window ORDERED "
    "BY the key. Readers consuming shards round-robin see a uniform "
    "pseudo-random global order, but NO global coordination exists "
    "anywhere: the only window is per-shard (partition-parallel), "
    "the exact two-phase trick the curriculum/budget queries use — "
    "a global ROW_NUMBER would serialize the corpus through one "
    "partition. Epoch n just reseeds the key ('shuf:n:'), giving "
    "fresh order per epoch with zero state. Fully oracle-checked "
    "including every position.",
)
def epoch_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    skey = dedup.md5_hash64(F.lit("shuf"), F.lit(0), F.col("doc_id"))
    keyed = d.select("doc_id", "n_chars", skey.alias("skey"))
    w = W.partitionBy(F.pmod(F.col("skey"), F.lit(8))).orderBy("skey", "doc_id")
    return keyed.select(
        "doc_id",
        F.pmod(F.col("skey"), F.lit(8)).cast("int").alias("shard"),
        (F.row_number().over(w) - 1).cast("long").alias("pos"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )


@register(
    "unigram_logprob_scores",
    r"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
      FROM documents WHERE trim(text) <> ''
    ), vocab AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY token
    ), tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS total FROM vocab
    ), vp AS (
      SELECT token, ln(CAST(n AS DOUBLE) / CAST(total AS DOUBLE)) AS logp
      FROM vocab, tot
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(-AVG(v.logp), 4) AS avg_neg_logp
    FROM toks t JOIN vp v ON t.token = v.token
    GROUP BY t.doc_id
    """,
    doc="CCNet-style LM quality scoring with a corpus-trained unigram "
    "model: P(token) = count/total over the whole corpus, each doc "
    "scored by its mean negative log-probability (high = surprising/"
    "junk, low = fluent boilerplate). Two aggregates + one broadcast "
    "join on the (small, zipfian) vocab; at 100 TB the vocab fits in "
    "a broadcast and the scoring pass stays map-side.",
)
def unigram_logprob_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", rebalance=True)
    tok = d.select("doc_id", F.explode(tokens("text")).alias("token"))
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    total = vocab.agg(F.sum("n").alias("total"))
    vp = vocab.crossJoin(F.broadcast(total)).select(
        "token",
        F.log(F.col("n").cast("double") / F.col("total").cast("double")).alias("logp"),
    )
    return (
        tok.join(F.broadcast(vp), "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(-F.avg("logp"), 4).alias("avg_neg_logp"),
        )
    )


@register(
    "bpe_pair_counts",
    r"""
    WITH toks AS (
      SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
      FROM documents WHERE trim(text) <> ''
    ), pos AS (
      SELECT w, unnest(range(1, length(w))) AS i
      FROM toks WHERE length(w) >= 2
    )
    SELECT substr(w, i, 2) AS pair, CAST(COUNT(*) AS BIGINT) AS n
    FROM pos
    GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT 30
    """,
    doc="The first step of BPE vocabulary induction: corpus-wide "
    "frequencies of adjacent character pairs inside words (with word "
    "multiplicity, as real BPE counts), top-30 by count. Explode + "
    "substring + two-phase count — no UDFs, map-side partial "
    "aggregation, shuffle carries (2-char pair, count) only.",
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", rebalance=True)
    words = d.select(F.explode(tokens("text")).alias("w")).filter(F.length("w") >= 2)
    pairs = words.select(
        "w", F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("i")
    ).select(F.expr("substring(w, i, 2)").alias("pair"))
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(30)
    )


@register(
    "source_mix_sample",
    r"""
    WITH totals AS (
      SELECT source, CAST(SUM(n_chars) AS BIGINT) AS src_chars
      FROM documents GROUP BY source
    ), m AS (
      SELECT MIN(src_chars) AS min_chars FROM totals
    ), rates AS (
      SELECT source,
             CAST(FLOOR(10000 * CAST(min_chars AS DOUBLE) / src_chars) AS BIGINT)
               AS keep_per_10k
      FROM totals, m
    )
    SELECT d.doc_id, d.source, d.n_chars
    FROM documents d JOIN rates r ON d.source = r.source
    WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
          % 10000 < r.keep_per_10k
    """,
    doc="Corpus MIXING: downsample every source to the smallest "
    "source's character budget so the mixture is balanced — the "
    "source-reweighting step of pretraining-data assembly. Sampling "
    "is deterministic md5-bucket arithmetic per doc_id (rule 6: the "
    "md5/conv trick), so the selection is engine-independent, stable "
    "under repartitioning, and pushable: the per-source keep rate is "
    "a broadcast join and the gate is one map-side predicate.",
)
def source_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", rebalance=True)
    totals = d.groupBy("source").agg(F.sum("n_chars").alias("src_chars"))
    m = totals.agg(F.min("src_chars").alias("min_chars"))
    rates = totals.crossJoin(F.broadcast(m)).select(
        "source",
        F.floor(
            F.lit(10000) * F.col("min_chars").cast("double") / F.col("src_chars")
        ).alias("keep_per_10k"),
    )
    bucket = dedup.md5_hash64(F.col("doc_id")) % 10000
    return (
        d.join(F.broadcast(rates), "source")
        .filter(bucket < F.col("keep_per_10k"))
        .select("doc_id", "source", "n_chars")
    )


@register(
    "length_curriculum_stages",
    r"""
    WITH b AS (
      SELECT quantile_cont(n_chars, 0.25) AS q1,
             quantile_cont(n_chars, 0.50) AS q2,
             quantile_cont(n_chars, 0.75) AS q3
      FROM documents
    )
    SELECT 1 + CASE WHEN n_chars > q1 THEN 1 ELSE 0 END
             + CASE WHEN n_chars > q2 THEN 1 ELSE 0 END
             + CASE WHEN n_chars > q3 THEN 1 ELSE 0 END AS stage,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(n_chars), 2)   AS avg_chars,
           MIN(n_chars)             AS min_chars,
           MAX(n_chars)             AS max_chars
    FROM documents, b
    GROUP BY stage
    """,
    doc="Curriculum staging by document length: quartile boundaries "
    "via EXACT distributed percentiles (partial+final aggregate — "
    "deliberately NOT a global-sort NTILE, which would be one task "
    "at corpus scale), broadcast as three scalars into a map-side "
    "bucket expression, then a per-stage rollup. Ties land in the "
    "lower stage (n_chars > boundary).",
)
def length_curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", rebalance=True)
    b = d.agg(
        F.percentile("n_chars", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))).alias("b")
    ).select(
        F.element_at("b", 1).alias("q1"),
        F.element_at("b", 2).alias("q2"),
        F.element_at("b", 3).alias("q3"),
    )
    stage = (
        F.lit(1)
        + (F.col("n_chars") > F.col("q1")).cast("int")
        + (F.col("n_chars") > F.col("q2")).cast("int")
        + (F.col("n_chars") > F.col("q3")).cast("int")
    )
    return (
        d.crossJoin(F.broadcast(b))
        .withColumn("stage", stage)
        .groupBy("stage")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


@register(
    "quality_budget_select",
    r"""
    WITH scored AS (
      SELECT doc_id,
             ROUND(ROUND(len(regexp_extract_all(text, '[A-Za-z]'))
                   / CAST(GREATEST(length(text), 1) AS DOUBLE), 4), 3) AS quality,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
      FROM documents WHERE trim(text) <> ''
    ), budget AS (
      SELECT CAST(FLOOR(0.25 * SUM(n_tokens)) AS BIGINT) AS budget FROM scored
    ), cum AS (
      SELECT doc_id, quality, n_tokens,
             CAST(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      FROM scored
    )
    SELECT c.doc_id, c.quality, c.n_tokens, c.cum_tokens
    FROM cum c, budget b
    WHERE c.cum_tokens <= b.budget
    """,
    doc="Token-budget data mixing: keep the best-quality documents "
    "(alpha-ratio grade at 3 dp, ties by doc_id) until 25% of the "
    "corpus token total is spent. The ORACLE is the naive global "
    "running-sum window; the ENGINE runs the two-phase scale shape "
    "(operators/sampling.select_by_quality_budget): per-grade "
    "histogram -> driver prefix-sum finds the cutoff grade -> only "
    "the cutoff grade's documents run a window, partitioned by "
    "grade. Positive weights make the running total monotone, so "
    "the phases compose exactly to the naive rule.",
)
def quality_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import select_by_quality_budget
    from ..operators.text import quality_features, token_count

    d = load_table(spark, sf_dir, "documents", rebalance=True)
    scored = d.select(
        "doc_id",
        F.round(quality_features("text")["alpha_ratio"], 3).alias("quality"),
        token_count("text").cast("long").alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)
    total = scored.agg(F.sum("n_tokens")).collect()[0][0]
    budget = int(0.25 * total)
    out = select_by_quality_budget(scored, budget)
    return out.select(
        "doc_id", "quality", "n_tokens", F.col("cum_weight").alias("cum_tokens")
    )


@register(
    "winsorized_source_stats",
    r"""
    WITH p AS (
      SELECT source,
             quantile_cont(n_chars, 0.05) AS lo,
             quantile_cont(n_chars, 0.95) AS hi
      FROM documents GROUP BY source
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(LEAST(GREATEST(CAST(d.n_chars AS DOUBLE), p.lo), p.hi)), 2)
             AS winsorized_mean,
           ROUND(MIN(p.lo), 2) AS lo_p05,
           ROUND(MIN(p.hi), 2) AS hi_p95
    FROM documents d JOIN p ON d.source = p.source
    GROUP BY d.source
    """,
    doc="Robust per-source length statistics: winsorized mean of "
    "n_chars clipped at the source's exact [p05, p95] — the outlier-"
    "resistant profiling step before setting length filters. Exact "
    "percentiles per source (partial+final agg), broadcast clip "
    "bounds, one groupBy — two small shuffles on the source key.",
)
def winsorized_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", rebalance=True)
    p = (
        d.groupBy("source")
        .agg(F.percentile("n_chars", F.array(F.lit(0.05), F.lit(0.95))).alias("p"))
        .select(
            "source",
            F.element_at("p", 1).alias("lo"),
            F.element_at("p", 2).alias("hi"),
        )
    )
    clipped = F.least(
        F.greatest(F.col("n_chars").cast("double"), F.col("lo")), F.col("hi")
    )
    return (
        d.join(F.broadcast(p), "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg(clipped), 2).alias("winsorized_mean"),
            F.round(F.min("lo"), 2).alias("lo_p05"),
            F.round(F.min("hi"), 2).alias("hi_p95"),
        )
    )


@register(
    "bpe_apply_merge",
    r"""
    WITH toks AS (
      SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
      FROM documents WHERE trim(text) <> ''
    ), pos AS (
      SELECT w, unnest(range(1, length(w))) AS i
      FROM toks WHERE length(w) >= 2
    ), best AS (
      SELECT substr(w, i, 2) AS pair
      FROM pos GROUP BY pair
      ORDER BY COUNT(*) DESC, pair
      LIMIT 1
    ), merged AS (
      SELECT replace(t.w, b.pair, chr(1)) AS w
      FROM toks t CROSS JOIN best b
    ), pos2 AS (
      SELECT w, unnest(range(1, length(w))) AS i
      FROM merged WHERE length(w) >= 2
    )
    SELECT replace(substr(w, i, 2), chr(1), '_') AS pair,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM pos2
    GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT 30
    """,
    doc="The second BPE induction round: find the most frequent "
    "adjacent char pair, MERGE it corpus-wide into a single symbol "
    "(plain left-to-right non-overlapping replace — identical "
    "semantics in both engines), and recount adjacent-pair "
    "frequencies over the merged symbol strings (merged symbol "
    "rendered as '_' in the output). With bpe_pair_counts this "
    "demonstrates the full count->merge->recount loop a distributed "
    "BPE trainer iterates; everything stays codegen'd string "
    "expressions — no UDFs, shuffle carries (pair, count) scalars.",
)
def bpe_apply_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", rebalance=True)
    words = d.select(F.explode(tokens("text")).alias("w"))
    pos = words.filter(F.length("w") >= 2).select(
        "w", F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("i")
    )
    best = (
        pos.select(F.expr("substring(w, i, 2)").alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(1)
        .select("pair")
    )
    merged = words.crossJoin(F.broadcast(best)).select(
        F.expr("replace(w, pair, chr(1))").alias("w")
    )
    pos2 = merged.filter(F.length("w") >= 2).select(
        "w", F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("i")
    )
    return (
        pos2.select(
            F.expr("replace(substring(w, i, 2), chr(1), '_')").alias("pair")
        )
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(30)
    )


@register(
    "lexical_diversity",
    r"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
      FROM documents WHERE trim(text) <> ''
    ), tc AS (
      SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS n
      FROM toks GROUP BY doc_id, token
    )
    SELECT doc_id,
           CAST(SUM(n) AS BIGINT)   AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           ROUND(COUNT(*) / CAST(SUM(n) AS DOUBLE), 4) AS type_token_ratio,
           ROUND(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 4) AS hapax_fraction
    FROM tc
    GROUP BY doc_id
    """,
    doc="Lexical-diversity quality features: per-document type-token "
    "ratio and hapax-legomenon fraction — low diversity flags "
    "templated/degenerate text that length or alpha-ratio gates "
    "miss (complements repetition_stats' 2-gram fraction). Two-level "
    "aggregation, map-side partials, scalar shuffle keys.",
)
def lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", rebalance=True)
    tok = d.select("doc_id", F.explode(tokens("text")).alias("token"))
    tc = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("n"))
    return tc.groupBy("doc_id").agg(
        F.sum("n").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.round(F.count(F.lit(1)) / F.sum("n").cast("double"), 4).alias(
            "type_token_ratio"
        ),
        F.round(
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
            / F.count(F.lit(1)).cast("double"),
            4,
        ).alias("hapax_fraction"),
    )


@register(
    "source_pareto_share",
    """
    WITH t AS (
      SELECT source, CAST(SUM(n_chars) AS BIGINT) AS chars
      FROM documents GROUP BY source
    ), tot AS (
      SELECT SUM(chars) AS total FROM t
    )
    SELECT source, chars,
           ROUND(chars / CAST(total AS DOUBLE), 4) AS share,
           ROUND(SUM(chars) OVER (ORDER BY chars DESC, source
                                  ROWS UNBOUNDED PRECEDING)
                 / CAST(total AS DOUBLE), 4) AS cum_share
    FROM t, tot
    """,
    doc="Pareto analysis of corpus composition: per-source character "
    "share and cumulative share (largest first) — the 'which sources "
    "are 80% of my corpus' view every mixing decision starts from. "
    "The window runs over the per-source AGGREGATE (tiny), so the "
    "global ordering costs nothing at any corpus scale.",
)
def source_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents", rebalance=True)
    t = d.groupBy("source").agg(F.sum("n_chars").alias("chars"))
    tot = t.agg(F.sum("chars").alias("total"))
    w = W.orderBy(F.col("chars").desc(), "source").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return (
        t.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "chars",
            F.round(F.col("chars") / F.col("total").cast("double"), 4).alias("share"),
            F.round(
                F.sum("chars").over(w) / F.col("total").cast("double"), 4
            ).alias("cum_share"),
        )
    )


# --------------------------------------------------------------------------
# Full BPE encode: learn a merge list, tokenize documents
# --------------------------------------------------------------------------

N_BPE_MERGES = 12
ENCODE_DOC_MOD = 10  # deterministic doc subset kept in the output


def _bpe_cte(n_merges: int) -> str:
    """WITH-chain learning ``n_merges`` BPE induction rounds over the
    documents word frame: b{i} = the argmax adjacent pair over w{i-1}
    (count desc, pair asc — the learn_merges tie-break), w{i} = the
    corpus with that pair merged into chr(i). Mirrors
    operators/bpe.learn_merges exactly; same generated-CTE pattern as
    queries/clustering._kmeans_cte."""
    # AS MATERIALIZED is load-bearing: DuckDB would otherwise inline
    # each w{i-1} into both of its two readers (b{i} and w{i}),
    # re-deriving the whole chain per round — measured 167 s vs 0.9 s
    # at sf0.01 for 12 rounds.
    parts = [
        r"""w0 AS MATERIALIZED (
      SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
      FROM documents WHERE trim(text) <> ''
    )"""
    ]
    for i in range(1, n_merges + 1):
        parts.append(
            f""", b{i} AS MATERIALIZED (
      SELECT substr(w, i, 2) AS pair
      FROM (SELECT w, unnest(range(1, length(w))) AS i
            FROM w{i - 1} WHERE length(w) >= 2)
      GROUP BY pair ORDER BY COUNT(*) DESC, pair LIMIT 1
    ), w{i} AS MATERIALIZED (
      SELECT replace(p.w, b{i}.pair, chr({i})) AS w
      FROM w{i - 1} p CROSS JOIN b{i}
    )"""
        )
    return "".join(parts)


def _bpe_encode_oracle(n_merges: int, doc_mod: int) -> str:
    crosses = " ".join(f"CROSS JOIN b{i}" for i in range(1, n_merges + 1))
    expr = "e.w"
    for i in range(1, n_merges + 1):
        expr = f"replace({expr}, b{i}.pair, chr({i}))"
    return (
        "WITH "
        + _bpe_cte(n_merges)
        + f""", enc0 AS (
      SELECT doc_id, wi, t[wi] AS w FROM (
        SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS wi
        FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
              FROM documents
              WHERE trim(text) <> '' AND doc_id % {doc_mod} = 0)
      )
    ), encw AS (
      SELECT e.doc_id, e.wi AS word_idx, {expr} AS w
      FROM enc0 e {crosses}
    )
    SELECT doc_id, CAST(word_idx AS BIGINT) AS word_idx,
           CAST(s AS BIGINT) AS sym_idx,
           unicode(substr(w, CAST(s AS INT), 1)) AS token_id
    FROM (SELECT doc_id, word_idx, w, unnest(range(1, length(w) + 1)) AS s
          FROM encw)
    """
    )


@register(
    "bpe_encode_docs",
    _bpe_encode_oracle(N_BPE_MERGES, ENCODE_DOC_MOD),
    doc="Pipeline-complete BPE: LEARN a 12-merge list over the whole "
    "corpus (12 true induction rounds — argmax pair, corpus-wide "
    "merge, recount — each round one distributed aggregate plus a "
    "1-row driver collect, the kmeans_assign shape), then ENCODE a "
    "deterministic doc subset (doc_id % 10 = 0) into token ids: "
    "(doc_id, word_idx, sym_idx, token_id), token_id = codepoint "
    "(merge i's placeholder chr(i) encodes as i; ids 1..12 are "
    "unused by ASCII text, so the id space is collision-free). The "
    "oracle unrolls all 12 induction rounds as a generated CTE chain "
    "(like the k-means oracle), so the learned merge LIST itself is "
    "hash-checked, not just the encoding. Encoding is map-only "
    "replace/substring arithmetic — no shuffle, no UDFs. 100 TB "
    "note: merge LEARNING is the expensive half (one corpus pass per "
    "merge); production tokenizers learn merges on a sample and only "
    "ENCODE the full corpus — the encode path here is already "
    "sample-independent, so that variant is a filter on the learn "
    "input, not a different plan.",
)
def bpe_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import bpe

    d = load_table(spark, sf_dir, "documents", rebalance=True)
    # Learn over the DISTINCT-word frame with a multiplicity column:
    # SUM(cnt) pair counts are integer-identical to COUNT(*) over corpus
    # tokens, but the 12 induction rounds scan and re-replace
    # |vocabulary| rows instead of |corpus| rows.
    words = (
        d.select(F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist()
    )
    try:
        merges = bpe.learn_merges(words, N_BPE_MERGES, count_col="cnt")
    except BaseException:
        words.unpersist()
        raise
    sub = d.filter(F.col("doc_id") % ENCODE_DOC_MOD == 0).select(
        "doc_id", F.posexplode(tokens("text")).alias("wi0", "w")
    )
    encw = sub.select(
        "doc_id",
        (F.col("wi0") + 1).cast("long").alias("word_idx"),
        bpe.apply_merges("w", merges).alias("w"),
    )
    out = encw.select(
        "doc_id",
        "word_idx",
        F.explode(F.sequence(F.lit(1), F.length("w"))).alias("sym_idx"),
        "w",
    ).select(
        "doc_id",
        "word_idx",
        F.col("sym_idx").cast("long").alias("sym_idx"),
        F.ascii(F.expr("substring(w, sym_idx, 1)")).alias("token_id"),
    )
    return hold(out, words)


@register(
    "temperature_mix_sample",
    r"""
    WITH totals AS (
      SELECT source, CAST(SUM(n_chars) AS BIGINT) AS src_chars
      FROM documents GROUP BY source
    ), m AS (
      SELECT MIN(src_chars) AS min_chars FROM totals
    ), rates AS (
      SELECT source,
             CAST(FLOOR(1000000 * sqrt(CAST(min_chars AS DOUBLE) / src_chars))
                  AS BIGINT) AS keep_per_1m
      FROM totals, m
    )
    SELECT d.doc_id, d.source, d.n_chars
    FROM documents d JOIN rates r ON d.source = r.source
    WHERE CAST(('0x' || substr(md5('t:' || CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
          % 1000000 < r.keep_per_1m
    """,
    doc="Temperature-flattened source mixing (T=2, i.e. alpha=0.5): "
    "per-source keep rate sqrt(min_chars/src_chars), so the sampled "
    "share of source s is proportional to sqrt(share_s) — rare "
    "sources are upweighted but (unlike source_mix_sample's full "
    "balancing) big sources still dominate, the standard temperature "
    "compromise multilingual/multi-domain pretraining mixes use "
    "(e.g. mC4/XLM-R sampling). Deterministic md5-bucket keep set "
    "(rule 6), seeded 't:' so it is independent of other sampling "
    "queries' keep sets; rates broadcast; gate is one map-side "
    "predicate — pushes below everything, no shuffle of the fact.",
)
def temperature_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", rebalance=True)
    totals = d.groupBy("source").agg(F.sum("n_chars").alias("src_chars"))
    m = totals.agg(F.min("src_chars").alias("min_chars"))
    rates = totals.crossJoin(F.broadcast(m)).select(
        "source",
        F.floor(
            F.lit(1000000)
            * F.sqrt(F.col("min_chars").cast("double") / F.col("src_chars"))
        ).alias("keep_per_1m"),
    )
    bucket = dedup.md5_hash64(F.lit("t"), F.col("doc_id")) % 1000000
    return (
        d.join(F.broadcast(rates), "source")
        .filter(bucket < F.col("keep_per_1m"))
        .select("doc_id", "source", "n_chars")
    )


def _bpe_fertility_oracle(n_merges: int) -> str:
    crosses = " ".join(f"CROSS JOIN b{i}" for i in range(1, n_merges + 1))
    expr = "s.w"
    for i in range(1, n_merges + 1):
        expr = f"replace({expr}, b{i}.pair, chr({i}))"
    return (
        "WITH "
        + _bpe_cte(n_merges)
        + f""", src0 AS (
      SELECT source, unnest(string_split_regex(trim(text), '\\s+')) AS w
      FROM documents WHERE trim(text) <> ''
    ), srcenc AS (
      SELECT s.source, s.w, {expr} AS e
      FROM src0 s {crosses}
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(length(w)) AS BIGINT) AS n_chars,
           CAST(SUM(length(e)) AS BIGINT) AS n_tokens,
           ROUND(SUM(length(w)) / CAST(SUM(length(e)) AS DOUBLE), 4)
             AS chars_per_token
    FROM srcenc GROUP BY source
    """
    )


@register(
    "bpe_fertility_by_source",
    _bpe_fertility_oracle(N_BPE_MERGES),
    doc="Tokenizer fertility per corpus source: after learning the "
    "same 12-merge BPE list as bpe_encode_docs, measure per source "
    "how many characters one token covers (chars_per_token) plus "
    "word/char/token totals — the compression-rate audit that "
    "decides whether a tokenizer fits a domain (low fertility on a "
    "source means its text fragments into many tokens and will "
    "dominate the token budget). Learning is the driver-iterative "
    "aggregate loop; measurement is one map-only replace chain + a "
    "per-source two-phase aggregate. Oracle: the same 12 induction "
    "rounds CTE-unrolled, then the identical encode+aggregate.",
)
def bpe_fertility_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import bpe

    d = load_table(spark, sf_dir, "documents", rebalance=True)
    # Distinct-word learning, as in bpe_encode_docs: the merge list is
    # integer-identical and each round scans the vocabulary, not the
    # corpus.
    words = (
        d.select(F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist()
    )
    try:
        merges = bpe.learn_merges(words, N_BPE_MERGES, count_col="cnt")
    except BaseException:
        words.unpersist()
        raise
    src_words = d.select("source", F.explode(tokens("text")).alias("w"))
    enc = src_words.select(
        "source",
        F.length("w").alias("wlen"),
        F.length(bpe.apply_merges("w", merges)).alias("elen"),
    )
    out = enc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("wlen").alias("n_chars"),
        F.sum("elen").alias("n_tokens"),
        F.round(F.sum("wlen") / F.sum("elen").cast("double"), 4).alias(
            "chars_per_token"
        ),
    )
    return hold(out, words)


@register(
    "bigram_logprob_scores",
    r"""
    WITH toks AS (
      SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i
      FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
            FROM documents WHERE trim(text) <> '')
    ), tk AS (
      SELECT doc_id, i, t[i] AS token FROM toks
    ), big AS (
      SELECT doc_id, token AS w1,
             LEAD(token) OVER (PARTITION BY doc_id ORDER BY i) AS w2
      FROM tk
    ), bg AS (
      SELECT doc_id, w1, w2 FROM big WHERE w2 IS NOT NULL
    ), c2 AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n2 FROM bg GROUP BY w1, w2
    ), c1 AS (
      SELECT w1, CAST(COUNT(*) AS BIGINT) AS n1 FROM bg GROUP BY w1
    ), v AS (
      SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS vsz FROM tk
    ), p AS (
      SELECT c2.w1, c2.w2,
             ln((n2 + 1.0) / (n1 + vsz)) AS logp
      FROM c2 JOIN c1 ON c1.w1 = c2.w1, v
    )
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(-AVG(p.logp), 4) AS avg_neg_logp
    FROM bg b JOIN p ON p.w1 = b.w1 AND p.w2 = b.w2
    GROUP BY b.doc_id
    """,
    doc="Bigram-LM perplexity scoring (the CCNet quality filter one "
    "order up from unigram_logprob_scores): train add-1-smoothed "
    "conditional probabilities P(w2|w1) = (c(w1,w2)+1)/(c(w1)+|V|) "
    "over the whole corpus, then score each doc by its mean negative "
    "log-prob — fluent text scores low, shuffled/junk text high "
    "(bigrams catch what unigrams can't: word-order violations). "
    "Plan: one map-side explode of each doc's adjacent-token bigrams, "
    "pre-aggregated per (doc, bigram), two count aggregates for the "
    "model, scoring re-joins the doc bigrams to the model on (w1, w2) "
    "— at 100 TB the bigram model shuffles as 8-byte-ish pairs and the per-doc score is a two-phase agg; "
    "everything codegen'd, no UDFs.",
)
def bigram_logprob_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", rebalance=True)
    return _bigram_doc_scores(d)


def _bigram_doc_scores(d: DataFrame) -> DataFrame:
    """(doc_id, n_bigrams, avg_neg_logp): the add-1-smoothed bigram-LM
    scoring core shared by bigram_logprob_scores and the CCNet bucket
    query (same plan, same 4-dp rounding).

    The map-side bigrams (:func:`word_grams`) are pre-aggregated to
    per-document distinct-bigram counts ``m``, which the three
    consumers (two model counts, the scoring join) share: the model
    counts become SUM(m) (integer-identical) and the per-doc mean the
    weighted form -SUM(m*logp)/SUM(m) == -AVG(logp) over rows, so
    every shuffle carries distinct (doc, bigram) keys, never raw
    corpus bigrams."""
    ta = tokens("text")
    bgd = (
        d.select("doc_id", F.explode(word_grams(ta, 2)).alias("p"))
        .select("doc_id", F.col("p.t0").alias("w1"), F.col("p.t1").alias("w2"))
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    c2 = bgd.groupBy("w1", "w2").agg(F.sum("m").alias("n2"))
    c1 = bgd.groupBy("w1").agg(F.sum("m").alias("n1"))
    vsz = (
        d.select(F.explode(ta).alias("token"))
        .distinct()
        .agg(F.count(F.lit(1)).alias("vsz"))
    )
    p = (
        c2.join(c1, "w1")
        .crossJoin(F.broadcast(vsz))
        .select(
            "w1",
            "w2",
            F.log((F.col("n2") + F.lit(1.0)) / (F.col("n1") + F.col("vsz"))).alias(
                "logp"
            ),
        )
    )
    out = (
        bgd.join(p, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("m").cast("long").alias("n_bigrams"),
            F.round(-(F.sum(F.col("m") * F.col("logp")) / F.sum("m")), 4).alias(
                "avg_neg_logp"
            ),
        )
    )
    return out


@register(
    "ccnet_perplexity_buckets",
    r"""
    WITH toks AS (
      SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i
      FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
            FROM documents WHERE trim(text) <> '')
    ), tk AS (
      SELECT doc_id, i, t[i] AS token FROM toks
    ), big AS (
      SELECT doc_id, token AS w1,
             LEAD(token) OVER (PARTITION BY doc_id ORDER BY i) AS w2
      FROM tk
    ), bg AS (
      SELECT doc_id, w1, w2 FROM big WHERE w2 IS NOT NULL
    ), c2 AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n2 FROM bg GROUP BY w1, w2
    ), c1 AS (
      SELECT w1, CAST(COUNT(*) AS BIGINT) AS n1 FROM bg GROUP BY w1
    ), v AS (
      SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS vsz FROM tk
    ), p AS (
      SELECT c2.w1, c2.w2,
             ln((n2 + 1.0) / (n1 + vsz)) AS logp
      FROM c2 JOIN c1 ON c1.w1 = c2.w1, v
    ), scores AS (
      SELECT b.doc_id, ROUND(-AVG(p.logp), 4) AS avg_neg_logp
      FROM bg b JOIN p ON p.w1 = b.w1 AND p.w2 = b.w2
      GROUP BY b.doc_id
    )
    SELECT s.doc_id, d.source, s.avg_neg_logp,
           CASE NTILE(3) OVER (PARTITION BY d.source
                               ORDER BY s.avg_neg_logp, s.doc_id)
             WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
           END AS bucket
    FROM scores s JOIN documents d ON d.doc_id = s.doc_id
    ORDER BY s.doc_id
    """,
    doc="CCNet-style perplexity partitioning (Wenzek et al. 2020): "
    "score every document with the corpus bigram LM "
    "(bigram_logprob_scores' exact core, shared builder), then split "
    "EACH source into head/middle/tail perplexity thirds — the "
    "partition CCNet uses to keep only the fluent head/middle of "
    "each Common Crawl language shard. Per-source NTILE(3) over the "
    "4-dp-rounded score with doc_id tie-break is deterministic in "
    "both engines; at 100 TB the bucket assignment is one ranking "
    "window per source over doc-level scores (the LM itself shuffles "
    "token pairs once, two-phase aggregated).",
)
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents", rebalance=True)
    core = _bigram_doc_scores(d)
    scores = core.select("doc_id", "avg_neg_logp")
    w = W.partitionBy("source").orderBy("avg_neg_logp", "doc_id")
    out = (
        scores.join(d.select("doc_id", "source"), "doc_id")
        .select(
            "doc_id",
            "source",
            "avg_neg_logp",
            F.when(F.ntile(3).over(w) == 1, F.lit("head"))
            .when(F.ntile(3).over(w) == 2, F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("bucket"),
        )
    )
    return out


@register(
    "pmi_collocations",
    r"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents WHERE trim(text) <> ''
    ), big AS MATERIALIZED (
      SELECT t[i] AS w1, t[i + 1] AS w2
      FROM (SELECT t, unnest(range(1, len(t))) AS i
            FROM toks WHERE len(t) >= 2)
    ), uni AS MATERIALIZED (
      SELECT u AS w, COUNT(*) AS c
      FROM (SELECT unnest(t) AS u FROM toks)
      GROUP BY u
    ), tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tok FROM uni),
    nb AS (SELECT COUNT(*) AS n_bi FROM big),
    bc AS (
      SELECT w1, w2, COUNT(*) AS c_xy FROM big
      GROUP BY w1, w2 HAVING COUNT(*) >= 10
    )
    SELECT bc.w1, bc.w2, CAST(bc.c_xy AS BIGINT) AS n_pair,
           ROUND(LN((CAST(bc.c_xy AS DOUBLE) * tot.n_tok * tot.n_tok)
                    / (CAST(nb.n_bi AS DOUBLE) * cx.c * cy.c)), 4) AS pmi
    FROM bc
    CROSS JOIN tot
    CROSS JOIN nb
    JOIN uni cx ON cx.w = bc.w1
    JOIN uni cy ON cy.w = bc.w2
    ORDER BY pmi DESC, bc.w1, bc.w2
    LIMIT 30
    """,
    doc="Top bigram collocations by pointwise mutual information "
    "(Church & Hanks 1990): PMI = ln(P(xy)/(P(x)P(y))) with a "
    "min-count floor of 10 cutting the unstable tail, top-30 ranked "
    "on the ROUNDED value with lexicographic tie-break so the kept "
    "set is deterministic cross-engine (hygiene rule 4). One "
    "tokenize pass feeds bigram and unigram counts; shuffles carry "
    "vocabulary-sized count rows; the PMI arithmetic is one fixed "
    "double expression both engines evaluate identically up to the "
    "final ln ulp, then rounds at 4 dp.",
)
def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import pmi_bigrams

    d = load_table(spark, sf_dir, "documents", rebalance=True)
    return pmi_bigrams(d, min_count=10, top=30)


@register(
    "priority_weighted_sample",
    """
    WITH p AS (
      SELECT doc_id, source, n_chars,
             (CAST(n_chars AS DOUBLE) * 4294967296.0)
             / CAST(2 * CAST(('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 1 AS DOUBLE)
               AS pr
      FROM documents
    )
    SELECT doc_id, source, n_chars, ROUND(pr, 6) AS priority
    FROM p
    ORDER BY pr DESC, doc_id
    LIMIT 100
    """,
    doc="Weight-proportional sampling without replacement by priority "
    "sampling (Duffield, Lund & Thorup, JACM 2007): priority q = "
    "(w * 2^32)/(2*md5_bucket(key) + 1), keep the top 100 by q — "
    "longer documents proportionally likelier to survive, kept set "
    "reproducible across runs, partitionings AND engines because the "
    "key is one exact IEEE division (no pow/ln, hygiene rule 6). "
    "Map-side expression + TakeOrderedAndProject; no shuffle.",
)
def priority_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import priority_sample

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return priority_sample(d, weight_col="n_chars", key_col="doc_id", n=100)


@register(
    "source_overlap_matrix",
    r"""
    WITH toks AS (
      SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS t
      FROM documents WHERE trim(text) <> ''
    ), sh AS MATERIALIZED (
      SELECT DISTINCT source,
             CAST(('0x' || substr(md5(sh), 1, 8)) AS BIGINT) AS h
      FROM (
        SELECT source, array_to_string(t[i:i+2], ' ') AS sh
        FROM (SELECT source, t, unnest(range(1, len(t) - 1)) AS i
              FROM toks WHERE len(t) >= 3)
        UNION ALL
        SELECT source, array_to_string(t, ' ') AS sh
        FROM toks WHERE len(t) < 3
      ) WHERE sh <> ''
    ), sizes AS (
      SELECT source, COUNT(*) AS sz FROM sh GROUP BY source
    ), inter AS (
      SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT i.src_a, i.src_b, CAST(i.n_common AS BIGINT) AS n_common,
           ROUND(i.n_common / CAST(za.sz + zb.sz - i.n_common AS DOUBLE), 6)
             AS jaccard
    FROM inter i
    JOIN sizes za ON za.source = i.src_a
    JOIN sizes zb ON zb.source = i.src_b
    """,
    doc="Cross-source duplication matrix: Jaccard similarity of 3-gram "
    "shingle SETS between every source pair — the corpus-composition "
    "audit that tells you which crawl/source pairs share boilerplate "
    "and where cross-source dedup will pay. Shingles are md5-hashed "
    "at the source (rule 6): the distinct, the self-join and both "
    "aggregates move (small-cardinality source, 8-byte hash) rows, "
    "never shingle strings; output is #sources^2/2 rows regardless "
    "of corpus size.",
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", rebalance=True)
    sh = dedup.shingles(d, k=3, distinct=False)
    # The distinct (source, hash) frame feeds the size aggregate AND
    # both sides of the self-join: persist once instead of re-running
    # tokenize+shingle+hash per consumer; the result holds it.
    s = (
        sh.join(d.select("doc_id", "source"), "doc_id")
        .select("source", dedup.md5_hash64(F.col("shingle")).alias("h"))
        .distinct()
        .persist()
    )
    sizes = s.groupBy("source").agg(F.count(F.lit(1)).alias("sz"))
    a = s.select(F.col("source").alias("src_a"), "h")
    b = s.select(F.col("source").alias("src_b"), "h")
    inter = (
        a.join(b, "h")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    result = (
        inter.join(sizes.select(F.col("source").alias("src_a"), F.col("sz").alias("sz_a")), "src_a")
        .join(sizes.select(F.col("source").alias("src_b"), F.col("sz").alias("sz_b")), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_common",
            F.round(
                F.col("n_common")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )
    return hold(result, s)


@register(
    "length_drift_ks",
    """
    WITH sc AS (
      SELECT source, n_chars AS len, COUNT(*) AS c
      FROM documents GROUP BY source, n_chars
    ), grid AS (SELECT DISTINCT n_chars AS len FROM documents),
    srcs AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_docs FROM sc GROUP BY source),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM documents),
    sg AS (
      SELECT s.source, g.len, COALESCE(sc.c, 0) AS c
      FROM srcs s CROSS JOIN grid g
      LEFT JOIN sc ON sc.source = s.source AND sc.len = g.len
    ), scdf AS (
      SELECT source, len,
             SUM(c) OVER (PARTITION BY source ORDER BY len
                          ROWS UNBOUNDED PRECEDING) AS cum
      FROM sg
    ), gcdf AS (
      SELECT len,
             SUM(c) OVER (ORDER BY len ROWS UNBOUNDED PRECEDING) AS cum
      FROM (SELECT len, SUM(c) AS c FROM sc GROUP BY len)
    )
    SELECT s.source, z.n_docs,
           ROUND(MAX(ABS(s.cum / CAST(z.n_docs AS DOUBLE)
                         - g.cum / CAST(t.n_all AS DOUBLE))), 6) AS ks_stat
    FROM scdf s
    JOIN gcdf g ON g.len = s.len
    JOIN srcs z ON z.source = s.source
    CROSS JOIN tot t
    GROUP BY s.source, z.n_docs
    """,
    doc="Distribution-drift audit: two-sample Kolmogorov-Smirnov "
    "statistic of each source's document-length distribution against "
    "the whole corpus — the screening step that flags a crawl slice "
    "whose length profile shifted (truncation bugs, boilerplate "
    "floods) before it pollutes training mixes. All windows run over "
    "per-(source, length) AGGREGATES — a domain bounded by #sources "
    "x #distinct-lengths, never by corpus row count — and the CDF "
    "grid join is a broadcast-sized frame. Exact, no sampling.",
)
def length_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    sc = d.groupBy("source", F.col("n_chars").alias("len")).agg(
        F.count(F.lit(1)).alias("c")
    )
    grid = d.select(F.col("n_chars").alias("len")).distinct()
    srcs = sc.groupBy("source").agg(F.sum("c").alias("n_docs"))
    tot = d.agg(F.count(F.lit(1)).alias("n_all"))
    sg = (
        srcs.select("source")
        .crossJoin(grid)
        .join(sc, ["source", "len"], "left")
        .select("source", "len", F.coalesce(F.col("c"), F.lit(0)).alias("c"))
    )
    w_s = W.partitionBy("source").orderBy("len").rowsBetween(W.unboundedPreceding, 0)
    scdf = sg.select("source", "len", F.sum("c").over(w_s).alias("cum"))
    w_g = W.orderBy("len").rowsBetween(W.unboundedPreceding, 0)
    gcdf = (
        sc.groupBy("len")
        .agg(F.sum("c").alias("c"))
        .select("len", F.sum("c").over(w_g).alias("gcum"))
    )
    return (
        scdf.join(gcdf, "len")
        .join(srcs, "source")
        .crossJoin(F.broadcast(tot))
        .groupBy("source", "n_docs")
        .agg(
            F.round(
                F.max(
                    F.abs(
                        F.col("cum") / F.col("n_docs").cast("double")
                        - F.col("gcum") / F.col("n_all").cast("double")
                    )
                ),
                6,
            ).alias("ks_stat")
        )
    )


@register(
    "gopher_quality_flags",
    r"""
    WITH t0 AS (
      SELECT doc_id, trim(text) AS tx,
             string_split_regex(trim(text), '\s+') AS t
      FROM documents WHERE trim(text) <> ''
    ), f AS (
      SELECT doc_id,
             len(t) AS n_words,
             ROUND((length(tx) - (len(t) - 1))
                   / CAST(GREATEST(len(t), 1) AS DOUBLE), 4) AS mean_word_len,
             ROUND((len(regexp_extract_all(tx, '#'))
                    + len(regexp_extract_all(tx, '\.\.\.')))
                   / CAST(GREATEST(len(t), 1) AS DOUBLE), 4) AS symbol_ratio,
             ROUND(len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]')))
                   / CAST(GREATEST(len(t), 1) AS DOUBLE), 4) AS alpha_word_ratio,
             len(list_intersect(
                 list_distinct(list_transform(t, x -> lower(x))),
                 ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with']
             )) AS n_stop_distinct
      FROM t0
    )
    SELECT doc_id, CAST(n_words AS INT) AS n_words, mean_word_len,
           symbol_ratio, alpha_word_ratio,
           CAST(n_stop_distinct AS INT) AS n_stop_distinct,
           CAST(n_words BETWEEN 50 AND 100000 AS INT) AS f_word_count,
           CAST(mean_word_len BETWEEN 3.0 AND 10.0 AS INT) AS f_mean_word_len,
           CAST(symbol_ratio <= 0.1 AS INT) AS f_symbol_ratio,
           CAST(alpha_word_ratio >= 0.8 AS INT) AS f_alpha_words,
           CAST(n_stop_distinct >= 2 AS INT) AS f_stopwords,
           CAST(n_words BETWEEN 50 AND 100000 AS INT)
             * CAST(mean_word_len BETWEEN 3.0 AND 10.0 AS INT)
             * CAST(symbol_ratio <= 0.1 AS INT)
             * CAST(alpha_word_ratio >= 0.8 AS INT)
             * CAST(n_stop_distinct >= 2 AS INT) AS passes_gopher
    FROM f
    """,
    doc="The Gopher quality-rule battery (Rae et al. 2021 §A1.1 — the "
    "published MassiveWeb heuristics, reused by MassiveText/RefinedWeb"
    "-style pipelines): per-document named pass/fail flags for word "
    "count, mean word length, symbol ratio, alphabetic-word ratio, "
    "and distinct-stopword presence, plus the conjunction. "
    "Complements the repo's continuous quality_score with the "
    "RULE-set form real filters deploy (a doc is dropped on any "
    "failed rule, not a blended score). Map-only expressions; the "
    "two line-shape rules are omitted as constants on a single-line "
    "corpus (documented in operators/text.gopher_flags). On the "
    "synthetic corpus the stopword rule fails every doc by "
    "construction (its 31-token vocab contains no Gopher stopwords) "
    "while the word-count rule splits it ~55/45 — every flag's "
    "arithmetic is still cell-checked.",
)
def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import gopher_flags

    d = load_table(spark, sf_dir, "documents", rebalance=True).filter(
        F.trim(F.col("text")) != ""
    )
    g = gopher_flags("text")
    return d.select(
        "doc_id",
        g["n_words"].cast("int").alias("n_words"),
        g["mean_word_len"].alias("mean_word_len"),
        g["symbol_ratio"].alias("symbol_ratio"),
        g["alpha_word_ratio"].alias("alpha_word_ratio"),
        g["n_stop_distinct"].cast("int").alias("n_stop_distinct"),
        g["f_word_count"].alias("f_word_count"),
        g["f_mean_word_len"].alias("f_mean_word_len"),
        g["f_symbol_ratio"].alias("f_symbol_ratio"),
        g["f_alpha_words"].alias("f_alpha_words"),
        g["f_stopwords"].alias("f_stopwords"),
        g["passes_gopher"].alias("passes_gopher"),
    )


@register(
    "psi_source_drift",
    """
    WITH b AS (
      SELECT source, CAST(FLOOR(n_chars / 50) * 50 AS BIGINT) AS bucket,
             COUNT(*) AS c
      FROM documents GROUP BY source, bucket
    ), grid AS (
      SELECT DISTINCT CAST(FLOOR(n_chars / 50) * 50 AS BIGINT) AS bucket
      FROM documents
    ), nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets FROM grid),
    srcs AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_docs FROM b GROUP BY source),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM documents),
    gb AS (SELECT bucket, SUM(c) AS c FROM b GROUP BY bucket),
    sg AS (
      SELECT s.source, s.n_docs, g.bucket, COALESCE(b.c, 0) AS c_s, gb.c AS c_g
      FROM srcs s CROSS JOIN grid g
      LEFT JOIN b ON b.source = s.source AND b.bucket = g.bucket
      JOIN gb ON gb.bucket = g.bucket
    )
    SELECT source, n_docs,
           ROUND(SUM(
             ((c_s + 0.5) / (n_docs + 0.5 * nb.n_buckets)
              - (c_g + 0.5) / (t.n_all + 0.5 * nb.n_buckets))
             * LN(((c_s + 0.5) / (n_docs + 0.5 * nb.n_buckets))
                  / ((c_g + 0.5) / (t.n_all + 0.5 * nb.n_buckets)))
           ), 6) + 0.0 AS psi
    FROM sg CROSS JOIN tot t CROSS JOIN nb
    GROUP BY source, n_docs
    """,
    doc="Population Stability Index of each source's document-length "
    "histogram (50-char buckets) against the corpus baseline — the "
    "other standard drift screen next to the KS statistic "
    "(length_drift_ks): KS is distribution-free and peak-sensitive, "
    "PSI weights the whole histogram (industry rule of thumb: < 0.1 "
    "stable, > 0.25 shifted). Laplace-smoothed (+0.5 per bucket) so "
    "empty buckets are defined. Same scale shape as the KS twin: "
    "everything runs over per-(source, bucket) AGGREGATES — a domain "
    "bounded by #sources x #buckets, never corpus rows — and the "
    "grid join is broadcast-sized. Signed-zero pinned (rule 8).",
)
def psi_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bucket = (F.floor(F.col("n_chars") / 50) * 50).cast("long").alias("bucket")
    b = d.groupBy("source", bucket).agg(F.count(F.lit(1)).alias("c"))
    grid = d.select(bucket).distinct()
    nb = grid.agg(F.count(F.lit(1)).alias("n_buckets"))
    srcs = b.groupBy("source").agg(F.sum("c").alias("n_docs"))
    tot = d.agg(F.count(F.lit(1)).alias("n_all"))
    gb = b.groupBy("bucket").agg(F.sum("c").alias("c_g"))
    sg = (
        srcs.crossJoin(grid)
        .join(b.withColumnRenamed("c", "c_s"), ["source", "bucket"], "left")
        .select(
            "source",
            "n_docs",
            "bucket",
            F.coalesce(F.col("c_s"), F.lit(0)).alias("c_s"),
        )
        .join(gb, "bucket")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(nb))
    )
    p = (F.col("c_s") + 0.5) / (F.col("n_docs") + 0.5 * F.col("n_buckets"))
    q = (F.col("c_g") + 0.5) / (F.col("n_all") + 0.5 * F.col("n_buckets"))
    return sg.groupBy("source", "n_docs").agg(
        (F.round(F.sum((p - q) * F.log(p / q)), 6) + F.lit(0.0)).alias("psi")
    )


@register(
    "tfidf_doc_similarity",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      FROM documents WHERE trim(text) <> ''
    ), shs AS MATERIALIZED (
      SELECT doc_id, CAST(('0x' || substr(md5(sh), 1, 8)) AS BIGINT) AS tm
      FROM (
        SELECT doc_id, array_to_string(t[i:i+2], ' ') AS sh
        FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
              FROM toks WHERE len(t) >= 3)
        UNION ALL
        SELECT doc_id, array_to_string(t, ' ') AS sh
        FROM toks WHERE len(t) < 3
      ) WHERE sh <> ''
    ), n AS (SELECT COUNT(*) AS nd FROM documents),
    tf AS MATERIALIZED (
      SELECT doc_id, tm, COUNT(*) AS tf FROM shs GROUP BY doc_id, tm
    ), dft AS (
      SELECT tm, COUNT(*) AS dft FROM tf GROUP BY tm
    ), w AS MATERIALIZED (
      SELECT tf.doc_id, tf.tm,
             tf.tf * (LN((n.nd + 1) / CAST(dft.dft + 1 AS DOUBLE)) + 1) AS w
      FROM tf JOIN dft ON dft.tm = tf.tm CROSS JOIN n
      WHERE dft.dft * 5 <= n.nd
    ), nrm AS (
      SELECT doc_id, SQRT(SUM(w * w)) AS nrm FROM w GROUP BY doc_id
    ), dot AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(a.w * b.w) AS dot
      FROM w a JOIN w b ON a.tm = b.tm AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           ROUND(d.dot / (na.nrm * nb.nrm), 6) AS cosine
    FROM dot d
    JOIN nrm na ON na.doc_id = d.id_a
    JOIN nrm nb ON nb.doc_id = d.id_b
    ORDER BY cosine DESC, id_a, id_b
    LIMIT 20
    """,
    doc="Sparse TF-IDF document similarity: cosine over tf*idf-"
    "weighted 3-gram shingle vectors (smooth idf = ln((N+1)/(df+1)) "
    "+ 1), top-20 pairs — the lexical complement to dense embedding "
    "cosine, catching near-dups that share phrasing but not "
    "embedding neighborhoods. Terms are md5-hashed to 8-byte keys "
    "at the source (rule 6); a RELATIVE document-frequency cap "
    "(df*5 <= N, exact integer arithmetic at every scale) drops "
    "corpus-wide boilerplate before the postings self-join; ranking "
    "happens on the ROUNDED cosine with id tie-breaks (rule 4). "
    "REGIME BOUNDARY (measured, BASELINE.md 100x table): the join "
    "costs sum(df^2), so a relative cap only bounds work while the "
    "vocabulary keeps producing rare terms — above vocabulary "
    "saturation (the synthetic corpus at ~500k docs) candidate "
    "volume trends to n^2/|vocab|. The round-10 content-rarity "
    "control (BASELINE.md, gen_scale_data --zipf) REFUTED the hope "
    "that Zipfian rarity fixes this: cap-boundary terms have df "
    "proportional to N on ANY corpus, so the join grew ~x16/decade "
    "on the Heaps+Zipf twin too — rarity shrinks the constant, not "
    "the asymptotics. This query is the oracle-scale audit/ground-"
    "truth tool in EVERY regime. AT SCALE USE tfidf_simhash_topk "
    "(rarity-independent banding, same output contract; its 100x "
    "point completes where this join was killed) or "
    "allpairs_jaccard_exact when exactness at a Jaccard threshold "
    "is required (alpha 0.51 on the rarity-realistic twin); see "
    "BASELINE.md's regime and knob tables.",
)
def tfidf_doc_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", rebalance=True)
    sh = dedup.shingles(d, k=3, distinct=False).select(
        "doc_id", dedup.md5_hash64(F.col("shingle")).alias("tm")
    )
    nd = d.agg(F.count(F.lit(1)).alias("nd"))
    # The term-frequency frame feeds the df aggregate AND (via w) the
    # norm aggregate and both join sides: persist the expensive
    # tokenize+shingle+count stage once; the result holds it.
    tf = sh.groupBy("doc_id", "tm").agg(F.count(F.lit(1)).alias("tf")).persist()
    dft = tf.groupBy("tm").agg(F.count(F.lit(1)).alias("dft"))
    w = (
        tf.join(dft, "tm")
        .crossJoin(F.broadcast(nd))
        .filter(F.col("dft") * 5 <= F.col("nd"))
        .select(
            "doc_id",
            "tm",
            (
                F.col("tf")
                * (
                    F.log(
                        (F.col("nd") + 1) / (F.col("dft") + 1).cast("double")
                    )
                    + 1
                )
            ).alias("w"),
        )
    )
    nrm = w.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    a = w.select(F.col("doc_id").alias("id_a"), "tm", F.col("w").alias("wa"))
    b = w.select(F.col("doc_id").alias("id_b"), "tm", F.col("w").alias("wb"))
    dot = (
        a.join(b, "tm")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    result = (
        dot.join(nrm.select(F.col("doc_id").alias("id_a"), F.col("nrm").alias("na")), "id_a")
        .join(nrm.select(F.col("doc_id").alias("id_b"), F.col("nrm").alias("nb")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "id_a", "id_b")
        .limit(20)
    )
    return hold(result, tf)


_TFIDF_SIMHASH_ORACLE = r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      FROM documents WHERE trim(text) <> ''
    ), shs AS MATERIALIZED (
      SELECT doc_id, CAST(('0x' || substr(md5(sh), 1, 8)) AS BIGINT) AS tm
      FROM (
        SELECT doc_id, array_to_string(t[i:i+2], ' ') AS sh
        FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
              FROM toks WHERE len(t) >= 3)
        UNION ALL
        SELECT doc_id, array_to_string(t, ' ') AS sh
        FROM toks WHERE len(t) < 3
      ) WHERE sh <> ''
    ), n AS (SELECT COUNT(*) AS nd FROM documents),
    tf AS MATERIALIZED (
      SELECT doc_id, tm, COUNT(*) AS tf FROM shs GROUP BY doc_id, tm
    ), dft AS (
      SELECT tm, COUNT(*) AS dft FROM tf GROUP BY tm
    ), w AS MATERIALIZED (
      SELECT tf.doc_id, tf.tm,
             tf.tf * (LN((n.nd + 1) / CAST(dft.dft + 1 AS DOUBLE)) + 1) AS w,
             CAST(FLOOR(tf.tf * (LN((n.nd + 1) / CAST(dft.dft + 1 AS DOUBLE)) + 1)
                        * 1e6 + 0.5) AS BIGINT) AS wint
      FROM tf JOIN dft ON dft.tm = tf.tm CROSS JOIN n
      WHERE dft.dft * 5 <= n.nd
    ), bs AS MATERIALIZED (
      SELECT doc_id, SUM(wint) AS wtot,
             SUM(wint * ((tm >> 0) & 1)) AS bs_0,
             SUM(wint * ((tm >> 1) & 1)) AS bs_1,
             SUM(wint * ((tm >> 2) & 1)) AS bs_2,
             SUM(wint * ((tm >> 3) & 1)) AS bs_3,
             SUM(wint * ((tm >> 4) & 1)) AS bs_4,
             SUM(wint * ((tm >> 5) & 1)) AS bs_5,
             SUM(wint * ((tm >> 6) & 1)) AS bs_6,
             SUM(wint * ((tm >> 7) & 1)) AS bs_7,
             SUM(wint * ((tm >> 8) & 1)) AS bs_8,
             SUM(wint * ((tm >> 9) & 1)) AS bs_9,
             SUM(wint * ((tm >> 10) & 1)) AS bs_10,
             SUM(wint * ((tm >> 11) & 1)) AS bs_11,
             SUM(wint * ((tm >> 12) & 1)) AS bs_12,
             SUM(wint * ((tm >> 13) & 1)) AS bs_13,
             SUM(wint * ((tm >> 14) & 1)) AS bs_14,
             SUM(wint * ((tm >> 15) & 1)) AS bs_15,
             SUM(wint * ((tm >> 16) & 1)) AS bs_16,
             SUM(wint * ((tm >> 17) & 1)) AS bs_17,
             SUM(wint * ((tm >> 18) & 1)) AS bs_18,
             SUM(wint * ((tm >> 19) & 1)) AS bs_19,
             SUM(wint * ((tm >> 20) & 1)) AS bs_20,
             SUM(wint * ((tm >> 21) & 1)) AS bs_21,
             SUM(wint * ((tm >> 22) & 1)) AS bs_22,
             SUM(wint * ((tm >> 23) & 1)) AS bs_23,
             SUM(wint * ((tm >> 24) & 1)) AS bs_24,
             SUM(wint * ((tm >> 25) & 1)) AS bs_25,
             SUM(wint * ((tm >> 26) & 1)) AS bs_26,
             SUM(wint * ((tm >> 27) & 1)) AS bs_27,
             SUM(wint * ((tm >> 28) & 1)) AS bs_28,
             SUM(wint * ((tm >> 29) & 1)) AS bs_29,
             SUM(wint * ((tm >> 30) & 1)) AS bs_30,
             SUM(wint * ((tm >> 31) & 1)) AS bs_31
      FROM w GROUP BY doc_id
    ), sig AS MATERIALIZED (
      SELECT doc_id,
           (CASE WHEN 2 * bs_0 > wtot THEN 1 ELSE 0 END)
           + (CASE WHEN 2 * bs_1 > wtot THEN 2 ELSE 0 END)
           + (CASE WHEN 2 * bs_2 > wtot THEN 4 ELSE 0 END)
           + (CASE WHEN 2 * bs_3 > wtot THEN 8 ELSE 0 END)
           + (CASE WHEN 2 * bs_4 > wtot THEN 16 ELSE 0 END)
           + (CASE WHEN 2 * bs_5 > wtot THEN 32 ELSE 0 END)
           + (CASE WHEN 2 * bs_6 > wtot THEN 64 ELSE 0 END)
           + (CASE WHEN 2 * bs_7 > wtot THEN 128 ELSE 0 END)
           + (CASE WHEN 2 * bs_8 > wtot THEN 256 ELSE 0 END)
           + (CASE WHEN 2 * bs_9 > wtot THEN 512 ELSE 0 END)
           + (CASE WHEN 2 * bs_10 > wtot THEN 1024 ELSE 0 END)
           + (CASE WHEN 2 * bs_11 > wtot THEN 2048 ELSE 0 END)
           + (CASE WHEN 2 * bs_12 > wtot THEN 4096 ELSE 0 END)
           + (CASE WHEN 2 * bs_13 > wtot THEN 8192 ELSE 0 END)
           + (CASE WHEN 2 * bs_14 > wtot THEN 16384 ELSE 0 END)
           + (CASE WHEN 2 * bs_15 > wtot THEN 32768 ELSE 0 END)
           + (CASE WHEN 2 * bs_16 > wtot THEN 65536 ELSE 0 END)
           + (CASE WHEN 2 * bs_17 > wtot THEN 131072 ELSE 0 END)
           + (CASE WHEN 2 * bs_18 > wtot THEN 262144 ELSE 0 END)
           + (CASE WHEN 2 * bs_19 > wtot THEN 524288 ELSE 0 END)
           + (CASE WHEN 2 * bs_20 > wtot THEN 1048576 ELSE 0 END)
           + (CASE WHEN 2 * bs_21 > wtot THEN 2097152 ELSE 0 END)
           + (CASE WHEN 2 * bs_22 > wtot THEN 4194304 ELSE 0 END)
           + (CASE WHEN 2 * bs_23 > wtot THEN 8388608 ELSE 0 END)
           + (CASE WHEN 2 * bs_24 > wtot THEN 16777216 ELSE 0 END)
           + (CASE WHEN 2 * bs_25 > wtot THEN 33554432 ELSE 0 END)
           + (CASE WHEN 2 * bs_26 > wtot THEN 67108864 ELSE 0 END)
           + (CASE WHEN 2 * bs_27 > wtot THEN 134217728 ELSE 0 END)
           + (CASE WHEN 2 * bs_28 > wtot THEN 268435456 ELSE 0 END)
           + (CASE WHEN 2 * bs_29 > wtot THEN 536870912 ELSE 0 END)
           + (CASE WHEN 2 * bs_30 > wtot THEN 1073741824 ELSE 0 END)
           + (CASE WHEN 2 * bs_31 > wtot THEN 2147483648 ELSE 0 END) AS sig
      FROM bs
    ), banded AS (
      SELECT doc_id, band, (sig >> (band * 16)) & 65535 AS bucket
      FROM sig, (SELECT unnest(range(0, 2)) AS band)
    ), cand AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a
      JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
                    AND a.doc_id < b.doc_id
    ), nrm AS MATERIALIZED (
      SELECT doc_id, SQRT(SUM(w * w)) AS nrm FROM w GROUP BY doc_id
    ), dot AS (
      SELECT c.id_a, c.id_b, SUM(a.w * b.w) AS dot
      FROM cand c
      JOIN w a ON a.doc_id = c.id_a
      JOIN w b ON b.doc_id = c.id_b AND b.tm = a.tm
      GROUP BY c.id_a, c.id_b
    )
    SELECT d.id_a, d.id_b,
           ROUND(d.dot / (na.nrm * nb.nrm), 6) AS cosine
    FROM dot d
    JOIN nrm na ON na.doc_id = d.id_a
    JOIN nrm nb ON nb.doc_id = d.id_b
    ORDER BY cosine DESC, id_a, id_b
    LIMIT 20
    """


def _tfidf_weighted_vectors(spark: SparkSession, sf_dir: str, hash_family=None):
    """(tf, w): the persisted tf-idf sparse-vector frames shared by
    the registry query and the scale-bench knob variants.
    ``hash_family`` defaults to the oracle-replayable md5_hash64."""
    hash_family = hash_family or dedup.md5_hash64
    d = load_table(spark, sf_dir, "documents", rebalance=True)
    sh = dedup.shingles(d, k=3, distinct=False).select(
        "doc_id", hash_family(F.col("shingle")).alias("tm")
    )
    nd = d.agg(F.count(F.lit(1)).alias("nd"))
    tf = sh.groupBy("doc_id", "tm").agg(F.count(F.lit(1)).alias("tf")).persist()
    dft = tf.groupBy("tm").agg(F.count(F.lit(1)).alias("dft"))
    wdbl = F.col("tf") * (
        F.log((F.col("nd") + 1) / (F.col("dft") + 1).cast("double")) + 1
    )
    w = (
        tf.join(dft, "tm")
        .crossJoin(F.broadcast(nd))
        .filter(F.col("dft") * 5 <= F.col("nd"))
        .select(
            "doc_id",
            "tm",
            wdbl.alias("w"),
            F.floor(wdbl * 1e6 + F.lit(0.5)).cast("long").alias("wint"),
        )
        .persist()
    )
    return tf, w


def tfidf_simhash_candidates(
    spark: SparkSession,
    sf_dir: str,
    n_bits: int = 32,
    n_bands: int = 2,
    hash_family=None,
) -> DataFrame:
    """Candidate pairs from weighted SimHash over the tf-idf vectors,
    with bits/bands EXPOSED — the measured log(n) knob, because the
    random-collision volume decides when banding stops pruning. Per
    band the random-collision term is n^2 / 2^(n_bits / n_bands):
    2 x 16-bit bands (the registry query's setting) cost
    n^2/65536 per band; 2 x 24-bit bands (n_bits=48) divide that by
    another 256 — the next decade's setting, measured head-to-head in
    BASELINE.md's knob table via scripts/scale_bench.py
    (simhash_cand_16b / simhash_cand_24b). Returns the DISTINCT
    (id_a, id_b) candidate frame so scale runs record candidate
    VOLUME, the quantity the knob controls.

    The hyperplanes are the TERM HASH's bit planes, so ``n_bits``
    must not exceed the hash family's value width: md5_hash64 (the
    oracle-replayable default) is 32-bit-valued — a 48-bit signature
    over it would leave bits 32+ constant-zero and silently shrink
    one band to 8 effective bits, EXPLODING candidates instead of
    cutting them (measured: 504 -> 49,917 at the 0.1x point before
    this guard). Widening past 32 bits therefore requires the 64-bit
    production family (F.xxhash64)."""
    hash_family = hash_family or dedup.md5_hash64
    if n_bits > 32 and hash_family is dedup.md5_hash64:
        raise ValueError(
            "md5_hash64 is 32-bit-valued: a signature wider than 32 "
            "bits needs a 64-bit hash family (pass "
            "hash_family=F.xxhash64); bits above the hash width would "
            "be constant zero and the widened band would silently "
            "shrink, exploding candidate volume"
        )
    tf, w = _tfidf_weighted_vectors(spark, sf_dir, hash_family=hash_family)
    sigs = dedup.weighted_simhash_signatures(
        w, id_col="doc_id", hash_col="tm", weight_col="wint", n_bits=n_bits
    )
    cand = dedup.simhash_band_candidates(
        sigs, id_col="doc_id", sig_col="simhash", n_bits=n_bits, n_bands=n_bands
    )
    return hold(cand, tf, w)


@register(
    "tfidf_simhash_topk",
    _TFIDF_SIMHASH_ORACLE,
    doc="The SCALE-PATH twin of tfidf_doc_similarity, built in direct "
    "response to its measured regime boundary: candidates come from "
    "Charikar WEIGHTED SimHash over the same tf-idf vectors (32 "
    "md5-bit hyperplanes, integer micro-unit weights so every bit "
    "sum is exact and order-free; 2 x 16-bit bands equi-joined), and "
    "the exact cosine is computed ONLY on candidate pairs — so the "
    "work tracks the number of genuinely-similar pairs, not "
    "sum(df^2), and keeps working above vocabulary saturation where "
    "the posting join goes super-linear (BASELINE.md 100x table). "
    "Same output contract as the exact query (top-20 rounded "
    "cosine, id tie-breaks); recall < 1 by construction but the "
    "oracle replays the ENTIRE pipeline — signatures, bands, "
    "candidates, cosines, cut — so every emitted row is falsifiable. "
    "A recall-floor test pins usefulness against the exact top "
    "pairs.",
)
def tfidf_simhash_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    tf, w = _tfidf_weighted_vectors(spark, sf_dir)
    sigs = dedup.weighted_simhash_signatures(
        w, id_col="doc_id", hash_col="tm", weight_col="wint", n_bits=32
    )
    # 2 bands x 16 bits: random uniform-signature collisions are
    # n^2/65536 per band (vs n^2/256 at 4x8) — the knob that keeps
    # candidate volume sub-quadratic at corpus scale. Exact dups
    # always collide; high-cosine near-dups collide with probability
    # (1 - theta/pi)^16 per band — the recall-floor test pins it.
    # Past the next decade, grow bits-per-band with log(n):
    # tfidf_simhash_candidates exposes the knob and BASELINE.md's
    # knob table shows 24-bit bands dividing the collision term.
    cand = dedup.simhash_band_candidates(
        sigs, id_col="doc_id", sig_col="simhash", n_bits=32, n_bands=2
    )
    nrm = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm")
    )
    wa = w.select(F.col("doc_id").alias("id_a"), "tm", F.col("w").alias("wa"))
    wb = w.select(F.col("doc_id").alias("id_b"), "tm", F.col("w").alias("wb"))
    dot = (
        cand.join(wa, "id_a")
        .join(wb, ["id_b", "tm"])
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    result = (
        dot.join(
            nrm.select(F.col("doc_id").alias("id_a"), F.col("nrm").alias("na")),
            "id_a",
        )
        .join(
            nrm.select(F.col("doc_id").alias("id_b"), F.col("nrm").alias("nb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "id_a", "id_b")
        .limit(20)
    )
    return hold(result, tf, w)


# --------------------------------------------------------------------------
# Unigram-LM tokenizer (Kudo 2018, SentencePiece) — Viterbi-EM variant
# --------------------------------------------------------------------------
# Constants shared by builder and oracle generator: seed vocab = top
# _UNI_TOPK substrings (length <= _UNI_MAXP) by occurrence-weighted
# frequency plus all single chars; _UNI_MAXW is the corpus's max word
# length (8, measured; the DP unrolls to it); one EM update (2
# Viterbi passes). Scores are ROUND(LN(w / T), 6) — the 6-dp round
# absorbs the <=1-ulp libm ln() divergence between the JVM and
# DuckDB, and every DP sum is a fixed-order chain of <= _UNI_MAXW
# additions, so argmax decisions replay identically.
_UNI_TOPK, _UNI_MAXP, _UNI_MAXW, _UNI_ROUNDS = 40, 6, 8, 2


def _unigram_oracle() -> str:
    maxp, maxw = _UNI_MAXP, _UNI_MAXW
    parts = [
        f"""
    WITH w AS MATERIALIZED (
      SELECT word, CAST(length(word) AS INT) AS wl,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(string_split(lower(text), ' ')) AS word
            FROM documents)
      WHERE word <> '' GROUP BY word
    ), subs AS MATERIALIZED (
      SELECT substr(word, CAST(i AS INT), CAST(l AS INT)) AS piece,
             CAST(SUM(cnt) AS BIGINT) AS wt
      FROM (SELECT word, wl, cnt, unnest(range(1, wl + 1)) AS i FROM w),
           range(1, {maxp} + 1) t(l)
      WHERE i + l - 1 <= wl
      GROUP BY 1
    ), seed AS MATERIALIZED (
      SELECT piece, wt FROM (
        SELECT piece, wt,
               ROW_NUMBER() OVER (ORDER BY wt DESC, piece) AS rn
        FROM subs
      ) WHERE rn <= {_UNI_TOPK}
      UNION
      SELECT piece, wt FROM subs WHERE length(piece) = 1
    ), v0 AS MATERIALIZED (
      SELECT piece, CAST(length(piece) AS INT) AS pl,
             ROUND(LN(CAST(wt AS DOUBLE) /
                   (SELECT SUM(wt) FROM seed)), 6) AS lw
      FROM seed
    )"""
    ]

    def viterbi(tag: str, vocab: str) -> list[str]:
        ctes = [f", dp{tag}_0 AS (SELECT word, wl, cnt, 0 AS i, 0.0 AS score, -1 AS bp FROM w)"]
        prevs = [f"dp{tag}_0"]
        for i in range(1, maxw + 1):
            branches = " UNION ALL ".join(
                f"SELECT * FROM dp{tag}_{j}" for j in range(max(0, i - maxp), i)
            )
            ctes.append(
                f""", dp{tag}_{i} AS MATERIALIZED (
      SELECT word, wl, cnt, i, score, bp FROM (
        SELECT d.word, d.wl, d.cnt, {i} AS i,
               d.score + v.lw AS score, d.i AS bp,
               ROW_NUMBER() OVER (PARTITION BY d.word
                    ORDER BY d.score + v.lw DESC, d.i DESC) AS rn
        FROM ({branches}) d
        JOIN {vocab} v
          ON v.pl = {i} - d.i
         AND v.piece = substr(d.word, d.i + 1, {i} - d.i)
        WHERE d.wl >= {i}
      ) WHERE rn = 1
    )"""
            )
            prevs.append(f"dp{tag}_{i}")
        all_dp = " UNION ALL ".join(f"SELECT * FROM {p}" for p in prevs)
        ctes.append(f", dp{tag} AS MATERIALIZED (SELECT * FROM ({all_dp}))")
        # Backtrack: follow bp from i = wl down to 0.
        ctes.append(
            f""", bt{tag}_0 AS (
      SELECT word, wl, cnt, wl AS pos FROM w
    )"""
        )
        for k in range(1, maxw + 1):
            ctes.append(
                f""", bt{tag}_{k} AS MATERIALIZED (
      SELECT b.word, b.wl, b.cnt, d.bp AS prev,
             substr(b.word, d.bp + 1, b.pos - d.bp) AS piece,
             CAST(d.bp + 1 AS INT) AS start
      FROM bt{tag}_{k - 1} b
      JOIN dp{tag} d ON d.word = b.word AND d.i = b.pos
      WHERE b.pos > 0
    )"""
            )
            ctes.append(
                f""", bt{tag}_{k}n AS (
      SELECT word, wl, cnt, prev AS pos FROM bt{tag}_{k}
    )"""
            )
        seg_union = " UNION ALL ".join(
            f"SELECT word, cnt, start, piece FROM bt{tag}_{k}"
            for k in range(1, maxw + 1)
        )
        ctes.append(f", seg{tag} AS MATERIALIZED (SELECT * FROM ({seg_union}))")
        return ctes

    # Backtrack chaining: the rewrite pass at the end substitutes the
    # correct upstream names (step k reads step k-1's "n" projection).
    sql_parts = parts
    for tag, vocab in (("a", "v0"), ("b", "v1")):
        if tag == "b":
            sql_parts.append(
                f""", counts AS MATERIALIZED (
      SELECT piece, CAST(SUM(cnt) AS BIGINT) AS used FROM sega GROUP BY piece
    ), v1 AS MATERIALIZED (
      SELECT v0.piece, v0.pl,
             ROUND(LN(CAST(COALESCE(c.used, 0) + 1 AS DOUBLE) /
                   (SELECT SUM(COALESCE(c2.used, 0) + 1)
                    FROM v0 v02 LEFT JOIN counts c2 ON c2.piece = v02.piece)),
                   6) AS lw
      FROM v0 LEFT JOIN counts c ON c.piece = v0.piece
    )"""
            )
        sql_parts.extend(viterbi(tag, vocab))
    sql_parts.append(
        """
    SELECT word, CAST(ROW_NUMBER() OVER (PARTITION BY word ORDER BY start)
             AS INT) AS piece_idx,
           piece
    FROM segb
    """
    )
    sql = "".join(sql_parts)
    # Chain the backtrack frames: step k's input is step (k-1)'s "n"
    # projection, except step 1 which starts from bt{tag}_0.
    for tag in ("a", "b"):
        for k in range(2, maxw + 1):
            sql = sql.replace(f"FROM bt{tag}_{k - 1} b", f"FROM bt{tag}_{k - 1}n b", 1)
    return sql


@register(
    "unigram_lm_segments",
    _unigram_oracle(),
    doc="Unigram-LM tokenizer (Kudo 2018 / SentencePiece), Viterbi-EM "
    "variant, trained and applied IN-ENGINE — completing the "
    "tokenizer trio (BPE merge induction, WordPiece greedy "
    "longest-match, and now likelihood-based segmentation): seed "
    "vocabulary = top-40 substrings by occurrence weight plus all "
    "single characters (closure guarantee); one EM update — a "
    "Viterbi pass segments every corpus word under seed "
    "log-probabilities (the 8-position DP is unrolled as joins with "
    "an argmax row_number per step, back-pointers and all), piece "
    "counts from that segmentation re-estimate the distribution "
    "(Laplace +1 over the fixed vocab), and a second Viterbi pass "
    "under the re-estimated model produces the output segmentation. "
    "Differences from full SentencePiece stated honestly: hard "
    "(Viterbi) E-step instead of forward-backward expected counts, "
    "and no vocabulary pruning between rounds. The ORACLE replays "
    "the ENTIRE training: seed selection, both DP tables "
    "(score-and-backpointer argmax per position), both backtracks, "
    "and the count re-estimation, as a generated CTE chain — the "
    "same induction-unrolling discipline as the BPE and k-means "
    "oracles. FP discipline: scores are ROUND(LN(w/T), 6) so libm "
    "1-ulp ln() differences cannot flip an argmax, and every DP sum "
    "is a fixed-order chain of <= 8 additions. Scale: the DP runs "
    "over the DISTINCT-WORD table (vocabulary-sized, not corpus-"
    "sized) exactly like production tokenizer training; corpus size "
    "only enters through the one tokenize+count pass.",
)
def unigram_lm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents", rebalance=True)
    wtok = d.select(F.explode(F.split(F.lower("text"), " ")).alias("word")).filter(
        F.col("word") != ""
    )
    words = (
        wtok.groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("wl", F.length("word").cast("int"))
        .persist()
    )
    # The DP below unrolls to _UNI_MAXW positions; a longer word
    # would silently vanish from the segmentation (no dp row at its
    # final position) on BOTH engines identically, which no parity
    # check could catch. Fail loudly instead (1-scalar driver
    # collect, the kmeans/BPE shape).
    max_wl = words.agg(F.max("wl")).first()[0]
    if max_wl is not None and max_wl > _UNI_MAXW:
        raise ValueError(
            f"unigram_lm_segments: corpus word length {max_wl} exceeds "
            f"the unrolled DP depth _UNI_MAXW={_UNI_MAXW}; raise the "
            "constant (and regenerate the oracle) for this corpus"
        )
    subs = (
        words.select(
            "word", "wl", "cnt",
            F.explode(F.sequence(F.lit(1), F.col("wl"))).alias("i"),
        )
        .select(
            "word", "wl", "cnt", "i",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.least(F.lit(_UNI_MAXP), F.col("wl") - F.col("i") + 1),
                )
            ).alias("l"),
        )
        .select(F.expr("substr(word, i, l)").alias("piece"), "cnt")
        .groupBy("piece")
        .agg(F.sum("cnt").alias("wt"))
    )
    # TakeOrderedAndProject heap, not a global row_number window
    # (which would plan Exchange SinglePartition over every distinct
    # substring); the (wt desc, piece) total order keeps the kept
    # set deterministic.
    top = subs.orderBy(F.desc("wt"), "piece").limit(_UNI_TOPK).select(
        "piece", "wt"
    )
    chars = subs.where(F.length("piece") == 1).select("piece", "wt")
    seed = top.unionByName(chars).distinct().persist()
    total0 = seed.agg(F.sum("wt").alias("t"))
    v0 = (
        seed.crossJoin(F.broadcast(total0))
        .select(
            "piece",
            F.length("piece").cast("int").alias("pl"),
            F.round(
                F.log(F.col("wt").cast("double") / F.col("t")), 6
            ).alias("lw"),
        )
        .persist()
    )

    def viterbi(vocab: DataFrame) -> DataFrame:
        """Returns seg frame (word, cnt, start, piece).

        The DP is bounded per word — _UNI_MAXW
        positions, _UNI_MAXP lookbacks — and the vocabulary is
        bounded by construction (_UNI_TOPK pieces + the corpus
        alphabet), so the whole Viterbi unrolls as PURE COLUMN
        EXPRESSIONS over the persisted distinct-word frame with the
        vocabulary as a broadcast map literal: zero joins, zero
        shuffles, zero per-step actions. An eager localCheckpoint per
        DP position and per backtrack step would cost 32
        driver-blocking jobs per EM round, more than the
        vocabulary-sized frames themselves. Arithmetic is IDENTICAL:
        the lw values come from the SAME Spark plan (collected, not
        recomputed), scores are the same left-to-right chains of
        <= _UNI_MAXW additions of 6-dp-rounded lw terms, and the
        argmax tie-break (score DESC, bp DESC) is array_max over
        (score, bp) structs — lexicographic max, the same winner.
        """
        lw_map = {
            r["piece"]: float(r["lw"])
            for r in vocab.select("piece", "lw").collect()
        }
        # map_from_arrays over two ARRAY literals, not create_map over
        # 2x|vocab| scalar literals: array literals are single Literal
        # nodes and the whole map constant-folds to one opaque map
        # Literal, whereas GetMapValue(CreateMap(...)) is expanded by
        # the optimizer into a |vocab|-branch CaseKeyWhen at EVERY
        # lookup site — measured as a 109 KB plan and seconds of
        # driver-side optimization per run.
        pieces_sorted = sorted(lw_map)
        mp = F.map_from_arrays(
            F.lit(pieces_sorted),
            F.lit([lw_map[p] for p in pieces_sorted]),
        )
        cur = words.withColumn("_s0", F.lit(0.0)).withColumn(
            "_b0", F.lit(-1)
        )
        for i in range(1, _UNI_MAXW + 1):
            cands = []
            for j in range(max(0, i - _UNI_MAXP), i):
                lwv = mp[F.expr(f"substr(word, {j + 1}, {i - j})")]
                cands.append(
                    F.when(
                        (F.col("wl") >= i)
                        & F.col(f"_s{j}").isNotNull()
                        & lwv.isNotNull(),
                        F.struct(
                            (F.col(f"_s{j}") + lwv).alias("score"),
                            F.lit(j).alias("bp"),
                        ),
                    )
                )
            best = F.array_max(
                F.filter(F.array(*cands), lambda x: x.isNotNull())
            )
            cur = cur.withColumn(f"_s{i}", best["score"]).withColumn(
                f"_b{i}", best["bp"]
            )

        def bp_at(pos_col):
            expr = F.lit(None).cast("int")
            for i in range(1, _UNI_MAXW + 1):
                expr = F.when(pos_col == i, F.col(f"_b{i}")).otherwise(expr)
            return expr

        cur = cur.withColumn("_pos0", F.col("wl").cast("int"))
        for s in range(1, _UNI_MAXW + 1):
            prev = F.col(f"_pos{s - 1}")
            bp = bp_at(prev)
            live = (prev > 0) & bp.isNotNull()
            cur = cur.withColumn(
                f"_seg{s}",
                F.when(
                    live,
                    F.struct(
                        (bp + 1).cast("int").alias("start"),
                        F.substring(
                            F.col("word"), bp + 1, prev - bp
                        ).alias("piece"),
                    ),
                ),
            ).withColumn(
                f"_pos{s}",
                F.when(live, bp).otherwise(F.lit(None).cast("int")),
            )
        segs = F.array(
            *[F.col(f"_seg{s}") for s in range(1, _UNI_MAXW + 1)]
        )
        return cur.select(
            "word",
            "cnt",
            F.explode(F.filter(segs, lambda x: x.isNotNull())).alias("sg"),
        ).select(
            "word",
            "cnt",
            F.col("sg.start").alias("start"),
            F.col("sg.piece").alias("piece"),
        )

    seg_a = viterbi(v0)
    counts = seg_a.groupBy("piece").agg(F.sum("cnt").alias("used"))
    tot1 = (
        v0.join(counts, "piece", "left")
        .select(
            (F.coalesce(F.col("used"), F.lit(0)) + 1).alias("u")
        )
        .agg(F.sum("u").alias("t"))
    )
    v1 = (
        v0.join(counts, "piece", "left")
        .crossJoin(F.broadcast(tot1))
        .select(
            "piece", "pl",
            F.round(
                F.log(
                    (F.coalesce(F.col("used"), F.lit(0)) + 1).cast("double")
                    / F.col("t")
                ),
                6,
            ).alias("lw"),
        )
        .persist()
    )
    seg_b = viterbi(v1)
    w_idx = W.partitionBy("word").orderBy("start")
    result = seg_b.select(
        "word",
        F.row_number().over(w_idx).cast("int").alias("piece_idx"),
        "piece",
    )
    return hold(result, words, seed, v0, v1)


@register(
    "ngram_novelty_decay",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      FROM documents WHERE trim(text) <> ''
    ), grams AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS gram
      FROM (
        SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
        FROM toks WHERE len(t) >= 3
      ) WHERE array_to_string(t[i:i+2], ' ') <> ''
    ), sharded AS (
      SELECT CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                       AS BIGINT) % 8 AS INT) AS shard,
             gram
      FROM grams
    ), per_shard AS (
      SELECT shard, gram FROM sharded GROUP BY shard, gram
    ), firsts AS (
      SELECT gram, MIN(shard) AS first_shard FROM per_shard GROUP BY gram
    )
    SELECT p.shard,
           CAST(COUNT(*) AS BIGINT) AS distinct_grams,
           CAST(SUM(CASE WHEN f.first_shard = p.shard THEN 1 ELSE 0 END)
                AS BIGINT) AS new_grams,
           ROUND(SUM(CASE WHEN f.first_shard = p.shard THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 4) AS novelty_ratio
    FROM per_shard p JOIN firsts f ON f.gram = p.gram
    GROUP BY p.shard
    """,
    doc="N-gram NOVELTY DECAY across a deterministic 8-shard split: "
    "for each shard, how many of its distinct 3-gram shingles first "
    "appear there vs in an earlier shard (gram -> MIN(shard), the "
    "same trick the curriculum queries use to avoid any sequential "
    "scan) — the curve diversity analyses draw to estimate dedup "
    "headroom and diminishing data returns before committing a "
    "100-TB crawl to training. Everything is (gram-hashable) "
    "aggregates: per-doc distinct grams, one (shard, gram) distinct, "
    "one MIN per gram, one broadcast-back join; no order dependence, "
    "no window over the corpus. Shards come from the md5/conv "
    "cross-engine hash (oracle-hygiene rule 6).",
)
def ngram_novelty_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", rebalance=True)
    grams = (
        d.select("doc_id", F.explode(word_grams(tokens("text"), 3)).alias("g"))
        .select("doc_id", F.concat_ws(" ", "g.t0", "g.t1", "g.t2").alias("gram"))
        .filter(F.col("gram") != "")
        .distinct()
    )
    sharded = grams.select(
        F.pmod(dedup.md5_hash64(F.col("doc_id")), F.lit(8)).cast("int").alias("shard"),
        "gram",
    ).distinct()
    firsts = sharded.groupBy("gram").agg(F.min("shard").alias("first_shard"))
    return (
        sharded.join(firsts, "gram")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("distinct_grams"),
            F.sum(
                F.when(F.col("first_shard") == F.col("shard"), 1).otherwise(0)
            ).alias("new_grams"),
        )
        .select(
            "shard",
            F.col("distinct_grams").cast("long").alias("distinct_grams"),
            F.col("new_grams").cast("long").alias("new_grams"),
            F.round(
                F.col("new_grams") / F.col("distinct_grams").cast("double"), 4
            ).alias("novelty_ratio"),
        )
    )


@register(
    "vocab_coverage_oov",
    r"""
    WITH toks AS (
      SELECT doc_id, source,
             unnest(string_split_regex(trim(text), '\s+')) AS token
      FROM documents WHERE trim(text) <> ''
    ), vocab AS (
      SELECT token FROM (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS n
        FROM toks GROUP BY token
      ) ORDER BY n DESC, token LIMIT 1000
    )
    SELECT t.source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS oov_tokens,
           ROUND(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 4) AS oov_rate
    FROM toks t LEFT JOIN vocab v ON v.token = t.token
    GROUP BY t.source
    """,
    doc="Per-source OOV rate against the corpus top-1k vocabulary "
    "(count-desc, lexicographic tie-break): the tokenizer-fit / "
    "domain-shift diagnostic run before fixing a vocab for a "
    "100-TB training mix — a source whose OOV rate is an outlier "
    "either needs vocab budget or is junk. One vocab aggregate "
    "(top-k heap), broadcast to a left join over the token stream, "
    "one map-side-combined per-source aggregate; the vocab is 1,000 "
    "rows no matter the corpus size.",
)
def vocab_coverage_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", rebalance=True)
    tok = d.select("source", F.explode(tokens("text")).alias("token"))
    vocab = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(1000)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "token", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias(
                "oov_tokens"
            ),
        )
        .select(
            "source",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("oov_tokens").cast("long").alias("oov_tokens"),
            F.round(
                F.col("oov_tokens") / F.col("n_tokens").cast("double"), 4
            ).alias("oov_rate"),
        )
    )

r"""Data-selection scoring for LLM training corpora (round 8).

Two published selection/scoring methods the existing quality stack
(unigram/bigram add-1 LMs, Gopher rules, entropy screens) doesn't
cover, each as one declarative plan with a full DuckDB oracle:

- `dsir_select` — Data Selection via Importance Resampling (Xie et
  al. 2023): score every out-of-domain document by the log-ratio of
  hashed-bigram likelihoods under a target-domain unigram feature
  model vs the raw-domain model, and keep the top-n. This is THE
  published recipe for "give me web data that looks like Wikipedia"
  at pretraining scale.
- `kneser_ney_bigram_scores` — interpolated Kneser-Ney bigram
  scoring (Kneser & Ney 1995; Chen & Goodman 1999 eq. 4.26, the
  fixed-discount interpolated form): absolute discounting plus the
  continuation-probability backoff that add-1 smoothing (the
  existing `bigram_logprob_scores`) lacks. KN is what real LM-based
  quality filters (CCNet's wikipedia LM) actually use.

Scale notes (100 TB): DSIR's feature space is HASHED to a fixed
1,024-bucket table precisely so the model side stays broadcastable
no matter the corpus; the per-doc score is a join against that
broadcast table plus a map-side aggregate. KN's model is three
aggregates over bigram pairs (8-byte-ish shuffle keys) and scoring
re-joins docs to the model the same way the add-1 twin does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..catalog import load_table
from ..lifecycle import hold
from ..operators.text import tokens, word_grams
from . import register


def _doc_bigrams(d: DataFrame) -> DataFrame:
    """(doc_id, lang, w1, w2) for every adjacent token pair."""
    return d.select(
        "doc_id", "lang", F.explode(word_grams(tokens("text"), 2)).alias("p")
    ).select("doc_id", "lang", F.col("p.t0").alias("w1"), F.col("p.t1").alias("w2"))


@register(
    "dsir_select",
    r"""
    WITH bg AS (
      SELECT doc_id, lang,
             CAST(('0x' || substr(md5(t[i] || ' ' || t[i+1]), 1, 8))
                  AS BIGINT) % 1024 AS bucket
      FROM (
        SELECT doc_id, lang, t, unnest(range(1, len(t))) AS i
        FROM (SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS t
              FROM documents WHERE trim(text) <> '')
      )
    ), tgt AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c
      FROM bg WHERE lang = 'en' GROUP BY bucket
    ), raw AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c
      FROM bg WHERE lang <> 'en' GROUP BY bucket
    ), tot AS (
      SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM tgt) AS t_n,
             (SELECT CAST(SUM(c) AS BIGINT) FROM raw) AS r_n
    ), ratio AS (
      SELECT b.bucket,
             LN((COALESCE(t.c, 0) + 0.5) / (tot.t_n + 512.0))
               - LN((COALESCE(r.c, 0) + 0.5) / (tot.r_n + 512.0)) AS llr
      FROM (SELECT DISTINCT bucket FROM bg) b
      LEFT JOIN tgt t ON t.bucket = b.bucket
      LEFT JOIN raw r ON r.bucket = b.bucket
      CROSS JOIN tot
    ), scored AS (
      SELECT bg.doc_id, bg.lang,
             CAST(COUNT(*) AS BIGINT) AS n_feats,
             ROUND(SUM(ratio.llr), 4) AS logw
      FROM bg JOIN ratio ON ratio.bucket = bg.bucket
      WHERE bg.lang <> 'en'
      GROUP BY bg.doc_id, bg.lang
    )
    SELECT doc_id, lang, n_feats, logw
    FROM scored
    ORDER BY logw DESC, doc_id
    LIMIT 100
    """,
    doc="DSIR importance scoring (Xie et al. 2023): target domain = "
    "lang='en' docs, raw pool = everything else; features are "
    "bigrams hashed to 1,024 buckets (md5, rule 6); each model is a "
    "Laplace-smoothed (+0.5) unigram distribution over buckets; a "
    "raw doc's importance weight is sum over its features of "
    "ln p_target(b) - ln p_raw(b), and the top-100 by (rounded "
    "weight, doc_id) are selected. Deterministic top-n replaces the "
    "paper's Gumbel-noise resampling (same estimator family, "
    "reproducible — the noise variant is one seeded md5 column away, "
    "the priority_weighted_sample precedent). Rounding precedes the "
    "rank so the kept set is FP-order-independent. Scale: the "
    "feature-model table is 1,024 rows broadcast to the scorers — "
    "corpus-size-independent by construction (that is DSIR's whole "
    "point); one map-side explode of each doc's adjacent-token "
    "bigrams makes features, one broadcast join + group-agg scores "
    "them.",
)
def dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", rebalance=True).filter(
        F.trim(F.col("text")) != ""
    )
    bg = _doc_bigrams(d).select(
        "doc_id",
        "lang",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(F.col("w1"), F.lit(" "), F.col("w2")).cast(
                            "binary"
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 1024
        ).alias("bucket"),
    )
    # Four consumers (target counts, raw counts, bucket grid, scorer)
    # would each re-run the tokenize+window pass; persist the compact
    # (doc_id, lang, bucket) frame once; the result holds it.
    bg = bg.persist()
    tgt = bg.filter(F.col("lang") == "en").groupBy("bucket").agg(
        F.count(F.lit(1)).alias("tc")
    )
    raw = bg.filter(F.col("lang") != "en").groupBy("bucket").agg(
        F.count(F.lit(1)).alias("rc")
    )
    t_n = tgt.agg(F.sum("tc").alias("t_n"))
    r_n = raw.agg(F.sum("rc").alias("r_n"))
    ratio = (
        bg.select("bucket")
        .distinct()
        .join(tgt, "bucket", "left")
        .join(raw, "bucket", "left")
        .crossJoin(F.broadcast(t_n))
        .crossJoin(F.broadcast(r_n))
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce(F.col("tc"), F.lit(0)) + 0.5)
                    / (F.col("t_n") + 512.0)
                )
                - F.log(
                    (F.coalesce(F.col("rc"), F.lit(0)) + 0.5)
                    / (F.col("r_n") + 512.0)
                )
            ).alias("llr"),
        )
    )
    scored = (
        bg.filter(F.col("lang") != "en")
        .join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.round(F.sum("llr"), 4).alias("logw"),
        )
    )
    out = scored.orderBy(F.desc("logw"), "doc_id").limit(100)
    return hold(out, bg)


@register(
    "kneser_ney_bigram_scores",
    r"""
    WITH toks AS (
      SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i
      FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
            FROM documents WHERE trim(text) <> '')
    ), tk AS (
      SELECT doc_id, i, t[i] AS token FROM toks
    ), bg AS (
      SELECT doc_id, w1, w2 FROM (
        SELECT doc_id, token AS w1,
               LEAD(token) OVER (PARTITION BY doc_id ORDER BY i) AS w2
        FROM tk
      ) WHERE w2 IS NOT NULL
    ), c2 AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n2 FROM bg GROUP BY w1, w2
    ), left_stats AS (
      SELECT w1, CAST(SUM(n2) AS BIGINT) AS n1,
             CAST(COUNT(*) AS BIGINT) AS n1f
      FROM c2 GROUP BY w1
    ), right_stats AS (
      SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1b FROM c2 GROUP BY w2
    ), nb AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nbig FROM c2
    ), model AS (
      SELECT c2.w1, c2.w2,
             LN((GREATEST(c2.n2 - 0.75, 0)
                 + 0.75 * ls.n1f * (CAST(rs.n1b AS DOUBLE) / nb.nbig))
                / ls.n1) AS logp
      FROM c2
      JOIN left_stats ls ON ls.w1 = c2.w1
      JOIN right_stats rs ON rs.w2 = c2.w2
      CROSS JOIN nb
    )
    SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(-AVG(m.logp), 4) AS kn_neg_logp
    FROM bg JOIN model m ON m.w1 = bg.w1 AND m.w2 = bg.w2
    GROUP BY bg.doc_id
    """,
    doc="Interpolated Kneser-Ney bigram scoring (Chen & Goodman 1999 "
    "eq. 4.26, fixed discount D=0.75): P(w2|w1) = (max(c(w1,w2)-D,0) "
    "+ D*N1+(w1,.)*Pcont(w2)) / c(w1,.), with the continuation "
    "probability Pcont(w2) = N1+(.,w2)/N1+(.,.) — the smoothing that "
    "add-1 (bigram_logprob_scores, kept as the simpler twin) gets "
    "wrong: KN backs off to how many CONTEXTS a word follows, not "
    "how often it occurs. Per-doc mean negative log-prob, 4 dp "
    "(same FP discipline as the add-1 twin). Model = three "
    "aggregates over the c2 pair frame (left stats, right "
    "continuation counts, total distinct bigrams) joined back — all "
    "shuffle on word keys; scoring is the same (w1,w2) re-join and "
    "two-phase per-doc agg. Trained on the full corpus it scores, "
    "so every doc bigram has a model row (no OOV path needed; at "
    "100 TB you'd train on a sample and score everything — the "
    "encode side is already sample-independent, the "
    "bpe_encode_docs precedent).",
)
def kneser_ney_bigram_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", rebalance=True).filter(
        F.trim(F.col("text")) != ""
    )
    bg = _doc_bigrams(d).select("doc_id", "w1", "w2")
    # c2 has four consumers (left/right stats, the total, the model
    # join); persist the model-sized pair frame, not the corpus-sized
    # bg (same trade the add-1 twin makes — at 100 TB the pair frame
    # is vocabulary-bounded, bg is corpus-bounded).
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n2")).persist()
    left_stats = c2.groupBy("w1").agg(
        F.sum("n2").alias("n1"), F.count(F.lit(1)).alias("n1f")
    )
    right_stats = c2.groupBy("w2").agg(F.count(F.lit(1)).alias("n1b"))
    nb = c2.agg(F.count(F.lit(1)).alias("nbig"))
    model = (
        c2.join(left_stats, "w1")
        .join(right_stats, "w2")
        .crossJoin(F.broadcast(nb))
        .select(
            "w1",
            "w2",
            F.log(
                (
                    F.greatest(F.col("n2") - 0.75, F.lit(0.0))
                    + 0.75
                    * F.col("n1f")
                    * (F.col("n1b").cast("double") / F.col("nbig"))
                )
                / F.col("n1")
            ).alias("logp"),
        )
    )
    out = (
        bg.join(model, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(-F.avg("logp"), 4).alias("kn_neg_logp"),
        )
    )
    return hold(out, c2)


_LR_DIMS = ["x0", "x1", "x2", "x3"]


def _lr_oracle_prefix() -> str:
    """The shared unrolled 8-iteration full-batch GD chain (feature
    CTEs + w0..w8). Generated (not hand-written) so the Spark loop
    and the SQL chain stay structurally identical; chained CTEs are
    MATERIALIZED per oracle-hygiene rule 9. Tails that SELECT from
    (feats, w8) are appended by the individual oracles."""
    dims = _LR_DIMS
    sql = [
        r"""
    WITH tk AS MATERIALIZED (
      SELECT doc_id, lang, n_chars,
             string_split_regex(trim(text), '\s+') AS t
      FROM documents WHERE trim(text) <> ''
    ), feats AS MATERIALIZED (
      SELECT doc_id,
             CAST(lang = 'en' AS INT) AS y,
             1.0 AS x0,
             ROUND(n_chars / 500.0, 6) AS x1,
             ROUND(len(t) / 100.0, 6) AS x2,
             ROUND(len(list_distinct(t)) / CAST(len(t) AS DOUBLE), 6) AS x3
      FROM tk
    ), w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3)"""
    ]
    for t in range(8):
        dot = " + ".join(f"w.w{j} * f.{d}" for j, d in enumerate(dims))
        grads = ", ".join(
            f"ROUND(AVG(f.{d} * (1.0 / (1.0 + EXP(-({dot}))) - f.y)), 6)"
            f" AS g{j}"
            for j, d in enumerate(dims)
        )
        # no ROUND on the update: 0.5*g halves a 6-dp-grid double
        # (exact) and the subtraction is correctly-rounded IEEE, so
        # the weights stay bit-identical across engines; re-rounding
        # would LAND half the updates exactly on .5e-6 boundaries
        # where engine rounding modes disagree (observed 2/500 flip)
        ws = ", ".join(
            f"w.w{j} - 0.5 * g.g{j} AS w{j}" for j in range(len(dims))
        )
        sql.append(
            f", g{t + 1} AS MATERIALIZED (SELECT {grads} FROM feats f, w{t} w)"
        )
        sql.append(
            f", w{t + 1} AS MATERIALIZED (SELECT {ws} FROM w{t} w, g{t + 1} g)"
        )
    return "".join(sql)


def _lr_dot8() -> str:
    return " + ".join(f"w.w{j} * f.{d}" for j, d in enumerate(_LR_DIMS))


def _lr_oracle() -> str:
    return (
        _lr_oracle_prefix()
        + f"""
    SELECT f.doc_id, f.y,
           ROUND(1.0 / (1.0 + EXP(-({_lr_dot8()}))), 4) AS p_en,
           CAST(1.0 / (1.0 + EXP(-({_lr_dot8()}))) >= 0.5 AS INT) AS pred
    FROM feats f, w8 w
    """
    )


def _lr_calibration_oracle() -> str:
    return (
        _lr_oracle_prefix()
        + f"""
    , scored AS (
      SELECT f.y, ROUND(1.0 / (1.0 + EXP(-({_lr_dot8()}))), 4) AS p
      FROM feats f, w8 w
    )
    SELECT CAST(LEAST(FLOOR(p * 200), 199) AS INT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(p), 4) AS mean_p,
           ROUND(AVG(CAST(y AS DOUBLE)), 4) + 0.0 AS frac_pos
    FROM scored GROUP BY bin
    """
    )


@register(
    "quality_classifier_train",
    _lr_oracle(),
    doc="A fastText/LR-style quality classifier trained IN the engine "
    "by full-batch gradient descent — the published pretraining-data "
    "filter design (GPT-3's WebText-vs-CommonCrawl LR filter, Brown "
    "et al. 2020 App. A; CCNet's fastText stage): features are "
    "cheap per-doc stats (char count and token count scaled into [0,1] so lr=0.5 sits safely under the 2/L descent bound, type-token "
    "ratio, bias), target is the lang='en' indicator, 8 Lloyd-style "
    "iterations of w -= 0.5 * mean(x * (sigmoid(w.x) - y)). "
    "Determinism contract (the kmeans/BPE precedent): features and "
    "every gradient component are rounded to 6 dp each iteration; "
    "the weight update itself stays UNrounded — halving a 6-dp-grid "
    "double and subtracting are exact/correctly-rounded IEEE ops, so "
    "weights are bit-identical across engines, whereas re-rounding "
    "would land half the updates exactly on .5e-6 boundaries where "
    "engine rounding modes disagree (observed 2/500 flips). The "
    "whole trajectory is thereby pinned and "
    "the DuckDB oracle replays it as 8 generated MATERIALIZED-CTE "
    "rounds (the oracle SQL is GENERATED by the same loop shape the "
    "engine runs — they cannot drift apart). Per iteration the "
    "cluster does one map-side-combined aggregate producing FOUR "
    "scalars; only those cross to the driver (the MLlib iteration "
    "shape — at 100 TB each epoch is one pass, driver traffic is "
    "4 doubles). Scoring is a stateless map over the persisted "
    "feature frame. tests/test_sketches.py asserts the training "
    "loss actually decreases over the 8 rounds.",
)
def quality_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats, w = _train_lr(spark, sf_dir)
    margin8 = sum(F.col(dim) * F.lit(wj) for dim, wj in zip(_LR_DIMS, w))
    p = 1.0 / (1.0 + F.exp(-margin8))
    out = feats.select(
        "doc_id",
        "y",
        F.round(p, 4).alias("p_en"),
        (p >= 0.5).cast("int").alias("pred"),
    )
    return hold(out, feats)


def _train_lr(spark: SparkSession, sf_dir: str):
    """Shared training loop: persisted feature frame + the 8-round
    GD trajectory. Returns (feats, final_weights); the caller holds
    feats on its result."""
    d = load_table(spark, sf_dir, "documents", rebalance=True).filter(
        F.trim(F.col("text")) != ""
    )
    t = tokens("text")
    feats = d.select(
        "doc_id",
        (F.col("lang") == "en").cast("int").alias("y"),
        F.lit(1.0).alias("x0"),
        F.round(F.col("n_chars") / 500.0, 6).alias("x1"),
        F.round(F.size(t) / 100.0, 6).alias("x2"),
        F.round(
            F.size(F.array_distinct(t)) / F.size(t).cast("double"), 6
        ).alias("x3"),
    ).persist()
    w = [0.0, 0.0, 0.0, 0.0]
    try:
        for _ in range(8):
            margin = sum(F.col(dim) * F.lit(wj) for dim, wj in zip(_LR_DIMS, w))
            err = 1.0 / (1.0 + F.exp(-margin)) - F.col("y")
            grad_row = feats.agg(
                *[
                    F.round(F.avg(F.col(dim) * err), 6).alias(f"g{j}")
                    for j, dim in enumerate(_LR_DIMS)
                ]
            ).collect()[0]
            w = [wj - 0.5 * grad_row[f"g{j}"] for j, wj in enumerate(w)]
    except BaseException:
        feats.unpersist()
        raise
    return feats, w


@register(
    "classifier_calibration",
    _lr_calibration_oracle(),
    doc="Reliability-diagram bins for the GD-trained quality "
    "classifier: predicted probabilities bucketed into 0.005-wide "
    "bins (floor(200p), top bin closed — decile bins would "
    "collapse to one row here because weak synthetic features "
    "keep p near the 0.436 base rate), with per-bin count, mean "
    "prediction, and observed positive rate — the calibration table "
    "every deployed data-filter classifier ships with (a filter "
    "thresholded at p>=0.5 is only meaningful if p is calibrated). "
    "Shares the exact training trajectory with "
    "quality_classifier_train via the same generated CTE prefix "
    "(engine: the same _train_lr loop), so the two queries cannot "
    "disagree about the model. Binning happens on the 4-dp-rounded p "
    "both engines already agree on; the bin aggregate is a 10-row "
    "output regardless of corpus size.",
)
def classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats, w = _train_lr(spark, sf_dir)
    margin8 = sum(F.col(dim) * F.lit(wj) for dim, wj in zip(_LR_DIMS, w))
    p = F.round(1.0 / (1.0 + F.exp(-margin8)), 4)
    out = (
        feats.select("y", p.alias("p"))
        .groupBy(
            F.least(F.floor(F.col("p") * 200), F.lit(199))
            .cast("int")
            .alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("p"), 4).alias("mean_p"),
            (F.round(F.avg(F.col("y").cast("double")), 4) + F.lit(0.0)).alias(
                "frac_pos"
            ),
        )
    )
    return hold(out, feats)


@register(
    "doremi_domain_weights",
    r"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, source, t, unnest(range(1, len(t) + 1)) AS i
      FROM (SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS t
            FROM documents WHERE trim(text) <> '')
    ), tk AS MATERIALIZED (
      SELECT doc_id, source, i, t[i] AS token FROM toks
    ), bg AS MATERIALIZED (
      SELECT doc_id, source, w1, w2 FROM (
        SELECT doc_id, source, token AS w1,
               LEAD(token) OVER (PARTITION BY doc_id ORDER BY i) AS w2
        FROM tk
      ) WHERE w2 IS NOT NULL
    ), uc AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS c FROM tk GROUP BY token),
    un AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(COUNT(DISTINCT token) AS BIGINT) AS v FROM tk),
    c2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n2 FROM bg GROUP BY w1, w2),
    c1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS n1 FROM bg GROUP BY w1),
    nll_u AS (
      SELECT tk.source, -AVG(LN((uc.c + 1.0) / (un.n + un.v))) AS nll_uni
      FROM tk JOIN uc ON uc.token = tk.token CROSS JOIN un
      GROUP BY tk.source
    ), nll_b AS (
      SELECT bg.source, -AVG(LN((c2.n2 + 1.0) / (c1.n1 + un.v))) AS nll_bi
      FROM bg JOIN c2 ON c2.w1 = bg.w1 AND c2.w2 = bg.w2
      JOIN c1 ON c1.w1 = bg.w1 CROSS JOIN un
      GROUP BY bg.source
    ), nd AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents WHERE trim(text) <> '' GROUP BY source
    ), ex AS (
      SELECT u.source, nd.n_docs,
             ROUND(u.nll_uni, 4) AS nll_uni,
             ROUND(b.nll_bi, 4) AS nll_bi,
             ROUND(GREATEST(u.nll_uni - b.nll_bi, 0), 6) AS excess
      FROM nll_u u
      JOIN nll_b b ON b.source = u.source
      JOIN nd ON nd.source = u.source
    ), z AS (
      SELECT SUM(EXP(1.0 * excess)) AS zsum,
             CAST(COUNT(*) AS BIGINT) AS k FROM ex
    )
    SELECT ex.source, ex.n_docs, ex.nll_uni, ex.nll_bi, ex.excess,
           ROUND(0.9 * EXP(1.0 * ex.excess) / z.zsum + 0.1 / z.k, 6)
             AS weight
    FROM ex CROSS JOIN z
    """,
    doc="DoReMi-style domain reweighting (Xie et al. 2023, 'Doremi: "
    "Optimizing Data Mixtures', simplified to one exponentiated-"
    "gradient step over STATIC excess losses — with a fixed proxy "
    "the EG recursion has the closed softmax form, so the unrolled "
    "rounds would be theater): per-source excess loss = mean add-1 "
    "unigram NLL minus mean add-1 bigram NLL, clipped at 0 (domains "
    "where the stronger model helps most have the most learnable "
    "structure and get upweighted), then weight = 0.9 * "
    "softmax(excess) + 0.1/K uniform smoothing — DoReMi's mixing "
    "rule. Everything is per-(source) aggregates over the shared "
    "token/bigram model frames; the softmax runs over K=#sources "
    "rows. At 100 TB the models shuffle token/pair keys once and "
    "the domain table is K rows — this is the op that decides how "
    "much of each crawl source the training mix takes.",
)
def doremi_domain_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", rebalance=True).filter(
        F.trim(F.col("text")) != ""
    )
    # Everything downstream depends only on (source, token) and
    # (source, w1, w2) COUNTS, so the corpus collapses to those two
    # vocabulary-sized frames in map-side passes (aggregate before the
    # shuffle) before any join or persist, and the per-source NLL means
    # become weighted means over distinct grams (-SUM(m*ln)/SUM(m) ==
    # -AVG(ln) over rows). Persisting or joining the corpus-sized token
    # and bigram frames instead would cache and shuffle per token.
    ta = tokens("text")
    tsrc = (
        d.select("source", F.explode(ta).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("m"))
        .persist()
    )
    bsrc = (
        d.select("source", F.explode(word_grams(ta, 2)).alias("p"))
        .select("source", F.col("p.t0").alias("w1"), F.col("p.t1").alias("w2"))
        .groupBy("source", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("m"))
        .persist()
    )
    uc = tsrc.groupBy("token").agg(F.sum("m").alias("c"))
    un = tsrc.agg(
        F.sum("m").alias("n"), F.countDistinct("token").alias("v")
    )
    c2 = bsrc.groupBy("w1", "w2").agg(F.sum("m").alias("n2"))
    c1 = bsrc.groupBy("w1").agg(F.sum("m").alias("n1"))
    nll_u = (
        tsrc.join(F.broadcast(uc), "token")
        .crossJoin(F.broadcast(un))
        .groupBy("source")
        .agg(
            (
                -F.sum(
                    F.col("m")
                    * F.log((F.col("c") + 1.0) / (F.col("n") + F.col("v")))
                )
                / F.sum("m")
            ).alias("nll_uni_raw")
        )
    )
    nll_b = (
        bsrc.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(un))
        .groupBy("source")
        .agg(
            (
                -F.sum(
                    F.col("m")
                    * F.log((F.col("n2") + 1.0) / (F.col("n1") + F.col("v")))
                )
                / F.sum("m")
            ).alias("nll_bi_raw")
        )
    )
    nd = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    ex = (
        nll_u.join(nll_b, "source")
        .join(nd, "source")
        .select(
            "source",
            "n_docs",
            F.round("nll_uni_raw", 4).alias("nll_uni"),
            F.round("nll_bi_raw", 4).alias("nll_bi"),
            F.round(
                F.greatest(
                    F.col("nll_uni_raw") - F.col("nll_bi_raw"), F.lit(0.0)
                ),
                6,
            ).alias("excess"),
        )
    )
    z = ex.agg(
        F.sum(F.exp(1.0 * F.col("excess"))).alias("zsum"),
        F.count(F.lit(1)).alias("k"),
    )
    out = ex.crossJoin(F.broadcast(z)).select(
        "source",
        "n_docs",
        "nll_uni",
        "nll_bi",
        "excess",
        F.round(
            0.9 * F.exp(1.0 * F.col("excess")) / F.col("zsum")
            + 0.1 / F.col("k"),
            6,
        ).alias("weight"),
    )
    return hold(out, bsrc, tsrc)


@register(
    "hard_negative_mining",
    """
    WITH q AS (
      SELECT vec_id AS q_id, label AS q_label, embedding AS q_vec
      FROM embeddings WHERE vec_id < 20
    ), s AS (
      SELECT q.q_id, e.vec_id AS neg_id,
             ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                          CAST(q.q_vec AS DOUBLE[])), 6)
               AS cosine_sim
      FROM embeddings e JOIN q ON e.label <> q.q_label
    )
    SELECT q_id, neg_id, cosine_sim, CAST(rnk AS INT) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY q_id ORDER BY cosine_sim DESC, neg_id
      ) AS rnk FROM s
    )
    WHERE rnk <= 5
    """,
    doc="Hard-negative mining for contrastive/embedding training "
    "(the ANCE/Contriever recipe): for each anchor in a 20-vector "
    "query batch, the top-5 highest-cosine vectors with a DIFFERENT "
    "label — maximally confusing negatives, the ones that actually "
    "move a contrastive loss. Engine: the batch joins the corpus as "
    "a broadcast (batch x corpus pair stream, linear in corpus per "
    "batch), cosines run through the codegen'd posexplode path (no "
    "interpreted HOF lambdas), and the per-anchor cut is a "
    "rank-window over each anchor's partition. At 100 TB the exact "
    "batch-vs-corpus sweep is what you run per training step on a "
    "sharded corpus; the IVF/LSH candidate routes in this registry "
    "are the sublinear variants when the batch is large.",
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import exploded_pairwise_cosine

    e = load_table(spark, sf_dir, "embeddings", rebalance=True)
    q = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("vec_a"),
    )
    pairs = (
        e.join(F.broadcast(q), F.col("label") != F.col("q_label"))
        .select(
            "q_id",
            F.col("vec_id").alias("neg_id"),
            "vec_a",
            F.col("embedding").alias("vec_b"),
        )
    )
    scored = exploded_pairwise_cosine(pairs, key_cols=("q_id", "neg_id"))
    rw = W.partitionBy("q_id").orderBy(F.desc("cosine_sim"), "neg_id")
    return (
        scored.withColumn("rank", F.row_number().over(rw).cast("int"))
        .filter(F.col("rank") <= 5)
        .select("q_id", "neg_id", "cosine_sim", "rank")
    )


@register(
    "rho_loss_select",
    r"""
    WITH toks AS (
      SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i
      FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
            FROM documents WHERE trim(text) <> '')
    ), tk AS (
      SELECT doc_id, i, t[i] AS token FROM toks
    ), uv AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM tk GROUP BY token
    ), ut AS (
      SELECT CAST(SUM(n) AS BIGINT) AS total FROM uv
    ), up AS (
      SELECT token, ln(CAST(n AS DOUBLE) / CAST(total AS DOUBLE)) AS logp
      FROM uv, ut
    ), uni AS (
      SELECT t.doc_id, ROUND(-AVG(u.logp), 4) AS uni_neg_logp
      FROM tk t JOIN up u ON u.token = t.token GROUP BY t.doc_id
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
      SELECT c2.w1, c2.w2, ln((n2 + 1.0) / (n1 + vsz)) AS logp
      FROM c2 JOIN c1 ON c1.w1 = c2.w1, v
    ), bi AS (
      SELECT b.doc_id, ROUND(-AVG(p.logp), 4) AS bi_neg_logp
      FROM bg b JOIN p ON p.w1 = b.w1 AND p.w2 = b.w2 GROUP BY b.doc_id
    ), scored AS (
      SELECT d.doc_id, d.source, uni.uni_neg_logp, bi.bi_neg_logp,
             ROUND(uni.uni_neg_logp - bi.bi_neg_logp, 4) + 0.0 AS excess_loss
      FROM documents d
      JOIN uni ON uni.doc_id = d.doc_id
      JOIN bi ON bi.doc_id = d.doc_id
    ), ranked AS (
      SELECT doc_id, source, uni_neg_logp, bi_neg_logp, excess_loss,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY excess_loss DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY source) AS cnt
      FROM scored
    )
    SELECT doc_id, source, uni_neg_logp, bi_neg_logp, excess_loss,
           CAST(rn <= CEIL(cnt * 0.25) AS INT) AS selected
    FROM ranked
    """,
    doc="Excess-loss data selection (the RHO-1 / prioritized-training "
    "recipe, Lin et al. 2024 / Mindermann et al. 2022, with corpus "
    "LMs as the proxy pair): score every document under a WEAK "
    "learner (the corpus unigram LM) and a STRONGER reference (the "
    "add-1 bigram LM, identical model to bigram_logprob_scores), "
    "excess = unigram minus bigram mean negative log-prob — large "
    "excess marks structured, learnable text the stronger model "
    "explains far better; junk/shuffled text shows little gap. Top "
    "25% per source is selected (ROW_NUMBER vs CEIL(count/4), "
    "doc_id tie-break). Plan: the two model passes are the existing "
    "green scorer plans (vocab broadcast + map-side agg; bigram "
    "pair-key shuffle), the selection adds one per-source window "
    "over (id, 3 doubles) rows — no text moves after scoring, and "
    "both models stay broadcast-sized at 100 TB.",
)
def rho_loss_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import tokens
    from .corpus_ops import _bigram_doc_scores

    d = load_table(spark, sf_dir, "documents", rebalance=True)
    tok = d.select("doc_id", F.explode(tokens("text")).alias("token"))
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    total = vocab.agg(F.sum("n").alias("total"))
    vp = vocab.crossJoin(F.broadcast(total)).select(
        "token",
        F.log(F.col("n").cast("double") / F.col("total").cast("double")).alias("logp"),
    )
    uni = (
        tok.join(F.broadcast(vp), "token")
        .groupBy("doc_id")
        .agg(F.round(-F.avg("logp"), 4).alias("uni_neg_logp"))
    )
    bi = _bigram_doc_scores(d).select(
        "doc_id", F.col("avg_neg_logp").alias("bi_neg_logp")
    )
    scored = (
        d.select("doc_id", "source")
        .join(uni, "doc_id")
        .join(bi, "doc_id")
        .withColumn(
            "excess_loss",
            F.round(F.col("uni_neg_logp") - F.col("bi_neg_logp"), 4) + F.lit(0.0),
        )
    )
    rw = W.partitionBy("source").orderBy(F.col("excess_loss").desc(), "doc_id")
    cw = W.partitionBy("source")
    return scored.select(
        "doc_id",
        "source",
        "uni_neg_logp",
        "bi_neg_logp",
        "excess_loss",
        (
            F.row_number().over(rw)
            <= F.ceil(F.count(F.lit(1)).over(cw) * F.lit(0.25))
        )
        .cast("int")
        .alias("selected"),
    )

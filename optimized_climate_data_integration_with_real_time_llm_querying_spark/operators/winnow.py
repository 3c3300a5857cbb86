"""Rolling-hash document fingerprinting via winnowing.

Implements the fingerprint selection of Schleimer, Wilkerson & Aiken,
"Winnowing: Local Algorithms for Document Fingerprinting" (SIGMOD
2003) — the MOSS algorithm — as a pure DataFrame plan:

1. Hash every char ``k``-gram (stride 1) at the source, so only
   8-byte keys flow through the plan, never the gram strings.
2. Slide a ``window``-wide window over the gram-hash sequence and
   keep the minimum hash of each window, rightmost position on ties
   (the paper's tie rule); de-duplicate consecutive selections via
   DISTINCT on (doc, position, hash).

The guarantee: any shared substring of length >= k + window - 1
between two documents yields at least one shared fingerprint, while
only ~2/(window+1) of the grams are kept — the local, deterministic
down-sampling that makes substring-level matching affordable.

Plan shape: explode positions -> window leads per doc (ONE shuffle,
hash-partitioned by doc id, sorted by position) -> codegen'd
least()/CASE selection -> DISTINCT. No UDFs, no joins; the gram
frame is ~8 bytes x chars, the fingerprint frame ~40% of that. At
100 TB this is the same linear-in-characters price as the stride-1
substring profile (``dedup.char_ngram_dup_profile``), with the
winnow selection cutting the downstream join input ~2.5x.

``hash_family=dedup.md5_hash64`` makes the whole selection
DuckDB-checkable (oracle-hygiene rule 6): both engines then compute
identical 32-bit gram keys, so window minima, tie-breaks — even hash
collisions — agree bit-for-bit. The production default is xxhash64.

Reference parity: the reference has no fingerprinting operator; this
is part of the net-new training-data-pipeline surface (SURVEY.md §2,
"document fingerprinting (rolling hash)").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..lifecycle import hold


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
    hash_family=F.xxhash64,
) -> DataFrame:
    """(id, fp_pos, fp): winnowed fingerprint selection per document.

    ``fp_pos`` is the 1-based char position of the selected k-gram;
    ``fp`` its hash. Documents with fewer than ``window`` grams
    (including docs shorter than ``k`` chars, which contribute their
    whole text as one gram) yield a single fingerprint: the rightmost
    minimum over all their grams — the natural degenerate window.
    """
    n = F.length(text_col)
    long_g = (
        df.filter(n >= k)
        .select(
            F.col(id_col),
            F.col(text_col),
            F.explode(F.sequence(F.lit(1), n - (k - 1))).alias("p"),
        )
        .select(
            F.col(id_col),
            F.col("p"),
            hash_family(F.expr(f"substring({text_col}, p, {k})")).alias("gh"),
        )
    )
    short_g = df.filter((n > 0) & (n < k)).select(
        F.col(id_col), F.lit(1).alias("p"), hash_family(F.col(text_col)).alias("gh")
    )
    grams = long_g.unionAll(short_g)

    # ONE window stage computes everything each row needs to decide
    # whether it emits a fingerprint: the w-1 lead hashes (full
    # windows), plus per-doc gram count / min / rightmost-min position
    # (degenerate docs). All windows share the doc-id partitioning, so
    # this is a single Exchange + Window pass — no union of branches
    # that would force Spark to explode and sort the grams twice.
    w_seq = Window.partitionBy(id_col).orderBy("p")
    w_doc = Window.partitionBy(id_col)
    # min(struct(gh, -p)) = (min hash, rightmost position holding it)
    # in ONE window expression — writing rm as max(p) FILTER (gh = mn)
    # would reference the mn window result and cost a second
    # whole-partition Window pass + re-sort.
    mn_s = F.min(F.struct(F.col("gh").alias("g"), (-F.col("p")).alias("np"))).over(
        w_doc
    )
    led = grams.select(
        F.col(id_col),
        F.col("p"),
        F.col("gh"),
        *[F.lead("gh", j).over(w_seq).alias(f"gh{j}") for j in range(1, window)],
        F.count(F.lit(1)).over(w_doc).alias("ng"),
        mn_s.getField("g").alias("mn"),
        (-mn_s.getField("np")).alias("rm"),
    )

    # Full windows: min of [gh, gh1..gh{w-1}], rightmost tie-break.
    m = F.least(F.col("gh"), *[F.col(f"gh{j}") for j in range(1, window)])
    sel = F.when(F.col(f"gh{window - 1}") == m, window - 1)
    for j in range(window - 2, 0, -1):
        sel = sel.when(F.col(f"gh{j}") == m, j)
    off = sel.otherwise(0)
    is_full = F.col(f"gh{window - 1}").isNotNull()
    # Degenerate docs (< window grams): the rightmost global-min row
    # emits the doc's single whole-window fingerprint.
    is_small = (F.col("ng") < window) & (F.col("p") == F.col("rm"))
    return (
        led.select(
            F.col(id_col),
            F.when(is_full, F.col("p") + off)
            .when(is_small, F.col("p"))
            .alias("fp_pos"),
            F.when(is_full, m).when(is_small, F.col("mn")).alias("fp"),
        )
        .filter(F.col("fp_pos").isNotNull())
        .distinct()
    )


def winnow_match_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
    min_shared: int = 3,
    max_fp_df: int | None = 50,
    hash_family=F.xxhash64,
) -> DataFrame:
    """(id_a, id_b, n_shared): document pairs sharing >= ``min_shared``
    distinct winnowed fingerprints — the MOSS match step.

    The join runs on the winnowed fingerprint set (~2/(window+1) of
    the grams), on 8-byte keys; ``max_fp_df`` drops fingerprints
    present in more than that many documents before the self-join —
    the boilerplate guard that keeps the pair count from going
    quadratic on common substrings at corpus scale (a fingerprint in
    f docs yields f^2 join rows).

    The fingerprint frame feeds the df-cap aggregate AND both sides
    of the self-join, so it is persisted once (MEMORY_AND_DISK —
    spills, never OOMs) instead of re-running the gram explode +
    window selection per consumer; the result holds it.
    """
    fps_all = (
        winnow_fingerprints(df, text_col, id_col, k, window, hash_family)
        .select(F.col(id_col), "fp")
        .distinct()
        .persist()
    )
    fps = fps_all
    if max_fp_df is not None:
        rare = (
            fps_all.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("df_count"))
            .filter(F.col("df_count") <= max_fp_df)
            .select("fp")
        )
        fps = fps_all.join(rare, "fp", "left_semi")
    a = fps.select(F.col(id_col).alias("id_a"), "fp")
    b = fps.select(F.col(id_col).alias("id_b"), "fp")
    result = (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    return hold(result, fps_all)

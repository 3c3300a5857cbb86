"""Event / order analytics shapes (round 8, second half).

The reference answers its questions with single-table point lookups
(SURVEY.md §3) — it has no multi-step user analytics at all. These
queries add the standard event-log analytics battery a warehouse
engine is expected to run over the `events` stream table and the
orders fact, each as ONE declarative plan (no driver-side loops, the
anti-pattern the reference's Cartesian query fan-out exemplifies,
`era5client.py:246-277`):

- ordered-funnel conversion (signup -> view -> purchase),
- weekly cohort retention,
- an SCD Type-2 dimension build (gaps-and-islands run collapse),
- a full-outer-join reconciliation audit between the orders fact
  and its lineitem-derived recomputation,
- distribution ranks (ntile/percent_rank/cume_dist) over documents.

Scale notes (100 TB): every query here shuffles once on its natural
key (user_id / custkey / orderkey) and then reuses that partitioning
for all window passes and the follow-up aggregation (Spark reuses
the hash exchange when the window/group keys match), so adding
stages does not add shuffles. Outputs are per-stage / per-cohort /
per-status aggregates or run-compressed dimension rows — all
orders-of-magnitude smaller than the input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..catalog import load_table
from ..lifecycle import hold
from . import register


@register(
    "funnel_conversion",
    """
    WITH s AS (
      SELECT user_id, MIN(ts) FILTER (WHERE event_type = 'signup') AS s_ts
      FROM events GROUP BY user_id
    ), v AS (
      SELECT e.user_id, MIN(e.ts) AS v_ts
      FROM events e JOIN s USING (user_id)
      WHERE e.event_type = 'view' AND s.s_ts IS NOT NULL AND e.ts > s.s_ts
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, MIN(e.ts) AS p_ts
      FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > v.v_ts
      GROUP BY e.user_id
    ), counts AS (
      SELECT
        (SELECT CAST(COUNT(s_ts) AS BIGINT) FROM s) AS n_signup,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS n_view,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_purchase
    )
    SELECT stage, n_users,
           ROUND(CAST(n_users AS DOUBLE) / NULLIF(prev, 0), 4) AS conv_rate
    FROM (
      SELECT '1_signup' AS stage, n_signup AS n_users, n_signup AS prev
      FROM counts
      UNION ALL
      SELECT '2_view', n_view, n_signup FROM counts
      UNION ALL
      SELECT '3_purchase', n_purchase, n_view FROM counts
    )
    """,
    doc="Ordered-funnel conversion over the events log: first signup, "
    "first view STRICTLY AFTER that signup, first purchase strictly "
    "after that view, per user; output is one row per stage with the "
    "user count and step conversion rate. The reference has no "
    "multi-event analysis at all — its closest shape is the "
    "client-side fan-out of independent point queries "
    "(era5client.py:246-277); this is the one-plan replacement. "
    "Spark side: one shuffle on user_id, then three min-over-window "
    "passes and the per-user collapse all reuse the same hash "
    "partitioning (plan-asserted in tests/test_plan_quality.py); the "
    "3-row stage summary is driver-trivial. At 100 TB the only "
    "full-data motion is the single user_id exchange.",
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = W.partitionBy("user_id")
    s_ts = F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(w)
    e = e.withColumn("s_ts", s_ts)
    v_ts = F.min(
        F.when(
            (F.col("event_type") == "view") & (F.col("ts") > F.col("s_ts")),
            F.col("ts"),
        )
    ).over(w)
    e = e.withColumn("v_ts", v_ts)
    p_ts = F.min(
        F.when(
            (F.col("event_type") == "purchase") & (F.col("ts") > F.col("v_ts")),
            F.col("ts"),
        )
    ).over(w)
    e = e.withColumn("p_ts", p_ts)
    per_user = e.groupBy("user_id").agg(
        F.max("s_ts").alias("s_ts"),
        F.max("v_ts").alias("v_ts"),
        F.max("p_ts").alias("p_ts"),
    )
    counts = per_user.agg(
        F.count("s_ts").alias("n_signup"),
        F.count("v_ts").alias("n_view"),
        F.count("p_ts").alias("n_purchase"),
    )
    stages = counts.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("1_signup").alias("stage"),
                    F.col("n_signup").alias("n_users"),
                    F.col("n_signup").alias("prev"),
                ),
                F.struct(
                    F.lit("2_view").alias("stage"),
                    F.col("n_view").alias("n_users"),
                    F.col("n_signup").alias("prev"),
                ),
                F.struct(
                    F.lit("3_purchase").alias("stage"),
                    F.col("n_purchase").alias("n_users"),
                    F.col("n_view").alias("prev"),
                ),
            )
        ).alias("r")
    ).select("r.stage", "r.n_users", "r.prev")
    return stages.select(
        "stage",
        "n_users",
        F.round(
            F.col("n_users").cast("double") / F.nullif(F.col("prev"), F.lit(0)), 4
        ).alias("conv_rate"),
    )


@register(
    "cohort_retention",
    """
    WITH firsts AS (
      SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             CAST(date_trunc('week', e.ts) AS DATE) AS act_week
      FROM events e JOIN firsts f USING (user_id)
    )
    SELECT cohort_week,
           CAST(datediff('day', cohort_week, act_week) / 7 AS INT)
             AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM activity
    GROUP BY cohort_week, week_offset
    """,
    doc="Weekly cohort retention: users grouped by the ISO week of "
    "their first event; one output row per (cohort_week, week_offset) "
    "with the count of cohort members active that week. The classic "
    "retention-triangle input. Spark side: min-ts window and the "
    "distinct-(user, week) collapse share one user_id exchange; the "
    "final count groups the already-tiny (cohort, offset) domain "
    "(#weeks^2 rows regardless of corpus size). Dates leave as DATE "
    "and the offset as INT (oracle-hygiene rules 2-3).",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("user_id", "ts")
    w = W.partitionBy("user_id")
    e = e.withColumn(
        "cohort_week", F.date_trunc("week", F.min("ts").over(w)).cast("date")
    )
    activity = e.select(
        "user_id",
        "cohort_week",
        F.date_trunc("week", F.col("ts")).cast("date").alias("act_week"),
    ).dropDuplicates(["user_id", "act_week"])
    return activity.groupBy(
        "cohort_week",
        (F.datediff(F.col("act_week"), F.col("cohort_week")) / 7)
        .cast("int")
        .alias("week_offset"),
    ).agg(F.count(F.lit(1)).alias("n_users"))


@register(
    "scd2_priority_history",
    """
    WITH seq AS (
      SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
             LAG(o_orderpriority) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ) AS prev_p
      FROM orders
    ), changes AS (
      SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey
      FROM seq WHERE prev_p IS NULL OR prev_p <> o_orderpriority
    )
    SELECT o_custkey AS custkey, o_orderpriority AS priority,
           CAST(o_orderdate AS DATE) AS valid_from,
           CAST(LEAD(o_orderdate) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) AS DATE) AS valid_to,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) AS INT) AS version_no,
           CAST(LEAD(o_orderdate) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) IS NULL AS INT) AS is_current
    FROM changes
    """,
    doc="Slowly-Changing-Dimension Type-2 build from a change log: "
    "treat each customer's order stream (ordered by date, orderkey "
    "tie-break) as attribute observations of o_orderpriority, "
    "collapse consecutive runs of the same value (gaps-and-islands), "
    "and emit versioned validity intervals [valid_from, valid_to) "
    "with an is_current flag — the MERGE-free, pure-window SCD2 "
    "formulation used by warehouse ELT at scale. The reference's "
    "tables are snapshot-only (SURVEY.md §1.3: to_sql(replace)); "
    "this adds the history-preserving dimension its ETL lacks. "
    "Spark: one shuffle on o_custkey; the lag filter and the three "
    "post-collapse windows reuse the partitioning. Run-compressed "
    "output << input.",
)
def scd2_priority_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey"
    )
    seq = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    changes = (
        o.withColumn("prev_p", F.lag("o_orderpriority").over(seq))
        .filter(
            F.col("prev_p").isNull()
            | (F.col("prev_p") != F.col("o_orderpriority"))
        )
        .drop("prev_p")
    )
    return changes.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").cast("date").alias("valid_from"),
        F.lead("o_orderdate").over(seq).cast("date").alias("valid_to"),
        F.row_number().over(seq).cast("int").alias("version_no"),
        F.lead("o_orderdate").over(seq).isNull().cast("int").alias("is_current"),
    )


@register(
    "orders_lineitem_reconcile",
    """
    WITH li AS (
      -- exact integer arithmetic in 1e-4-dollar units: prices and
      -- discounts are 2-dp by construction, so cents*(100-bp) is an
      -- exact BIGINT and the per-order sum is order-independent
      SELECT l_orderkey,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                      * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))
                  AS BIGINT) AS li_e4,
             CAST(COUNT(*) AS BIGINT) AS n_lines
      FROM lineitem GROUP BY l_orderkey
    ), joined AS (
      SELECT
        CASE
          WHEN li.l_orderkey IS NULL THEN 'orders_only'
          WHEN o.o_orderkey IS NULL THEN 'lineitem_only'
          WHEN ABS(CAST(ROUND(o.o_totalprice * 100) AS BIGINT) * 100
                   - li.li_e4) <= 100 THEN 'match'
          ELSE 'mismatch'
        END AS status,
        COALESCE(ABS(CAST(ROUND(o.o_totalprice * 100) AS BIGINT) * 100
                     - li.li_e4), 0) AS gap_e4
      FROM orders o FULL OUTER JOIN li ON o.o_orderkey = li.l_orderkey
    )
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(SUM(gap_e4) AS DOUBLE) / 10000, 2) + 0.0 AS total_gap,
           ROUND(CAST(SUM(gap_e4) AS DOUBLE) / 10000 / COUNT(*), 2) + 0.0
             AS avg_gap
    FROM joined GROUP BY status
    """,
    doc="Full-outer-join reconciliation audit: recompute each order's "
    "total from its lineitems (sum of extendedprice*(1-discount)) and "
    "reconcile against the orders fact — per-status counts and gap "
    "totals for match / mismatch / one-sided rows. The standard "
    "cross-system consistency check a warehouse runs after ingest; "
    "also the registry's only FULL OUTER join (the reference "
    "generates no joins at all, SURVEY.md §2.3). Spark: both sides "
    "shuffle once on the order key into a sort-merge full-outer "
    "join; output is the 4-row status summary. On the synthetic "
    "star schema o_totalprice is drawn independently of lineitem, so "
    "'mismatch' dominates by construction — the audit arithmetic "
    "(gap sums, one-sided detection) is what the oracle checks.",
)
def orders_lineitem_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact integer arithmetic in 1e-4-dollar units end to end: a
    # 2.3e9-magnitude double sum drifts with accumulation order
    # (observed 1e-2 vs the oracle at sf0.01); BIGINT sums are exact
    # and partition-order-independent on both engines.
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.round(F.col("o_totalprice") * 100).cast("long") * 100).alias("o_e4"),
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            (
                F.round(F.col("l_extendedprice") * 100).cast("long")
                * (100 - F.round(F.col("l_discount") * 100).cast("long"))
            ).alias("unit_e4"),
        )
        .groupBy("l_orderkey")
        .agg(
            F.sum("unit_e4").alias("li_e4"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )
    joined = o.join(li, o.o_orderkey == li.l_orderkey, "full_outer").select(
        F.when(F.col("l_orderkey").isNull(), F.lit("orders_only"))
        .when(F.col("o_orderkey").isNull(), F.lit("lineitem_only"))
        .when(F.abs(F.col("o_e4") - F.col("li_e4")) <= 100, F.lit("match"))
        .otherwise(F.lit("mismatch"))
        .alias("status"),
        F.coalesce(F.abs(F.col("o_e4") - F.col("li_e4")), F.lit(0)).alias(
            "gap_e4"
        ),
    )
    return joined.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_orders"),
        (F.round(F.sum("gap_e4").cast("double") / 10000, 2) + F.lit(0.0)).alias(
            "total_gap"
        ),
        (
            F.round(
                F.sum("gap_e4").cast("double") / 10000 / F.count(F.lit(1)), 2
            )
            + F.lit(0.0)
        ).alias("avg_gap"),
    )


@register(
    "doc_length_distribution_ranks",
    """
    SELECT doc_id, n_chars,
           CAST(NTILE(10) OVER ord AS INT) AS decile,
           ROUND(PERCENT_RANK() OVER ord, 6) AS pct_rank,
           ROUND(CUME_DIST() OVER ord, 6) AS cume_dist
    FROM documents
    WINDOW ord AS (ORDER BY n_chars, doc_id)
    """,
    doc="Distribution-rank battery over document lengths: ntile(10) "
    "deciles plus percent_rank and cume_dist, with a doc_id "
    "tie-break so every rank is deterministic (oracle-hygiene rule "
    "4). Completes the SURVEY §2.5 window-function family (lag, "
    "rank/topk, frames, sessions already covered) with the "
    "distribution ranks; the curriculum builder "
    "(length_curriculum_stages) consumes exactly these deciles at "
    "scale. NOTE the global ORDER BY window: acceptable here only "
    "because ranks-over-everything is the semantics; the two-phase "
    "histogram rewrite (quality_budget_select) is the 100 TB variant "
    "when only stage boundaries are needed.",
)
def doc_length_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    ord_w = W.orderBy("n_chars", "doc_id")
    return d.select(
        "doc_id",
        "n_chars",
        F.ntile(10).over(ord_w).cast("int").alias("decile"),
        F.round(F.percent_rank().over(ord_w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(ord_w), 6).alias("cume_dist"),
    )


@register(
    "rolling_distinct_users",
    """
    WITH du AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), days AS (
      SELECT DISTINCT day FROM du
    ), contrib AS (
      SELECT du.user_id, du.day + CAST(i AS INT) AS target_day
      FROM du, (SELECT unnest(range(0, 7)) AS i)
    )
    SELECT d.day, CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS wau_7d
    FROM days d JOIN contrib c ON c.target_day = d.day
    GROUP BY d.day
    """,
    doc="Trailing 7-day distinct active users per day (the 'WAU "
    "curve'). COUNT(DISTINCT) over a sliding RANGE window has no "
    "scalable direct form (Spark forbids distinct aggregates over "
    "windows outright; a naive per-day self-join rescans 7x); the "
    "scale formulation used here is contribution-explosion: each "
    "(user, active-day) pair is exploded into the 7 target days it "
    "contributes to, then one plain two-phase count-distinct per "
    "target day. Input to the explode is the already-deduped "
    "(user, day) frame — 7x THAT, not 7x the raw event stream. Days "
    "with zero activity don't appear (semi-join against observed "
    "days keeps the domain honest). At 100 TB: dedup shuffles "
    "(user, day) pairs once, the explode is map-side, and the final "
    "distinct-count is the standard two-phase Spark plan.",
)
def rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("day")
    )
    du = e.dropDuplicates(["user_id", "day"])
    days = du.select("day").distinct()
    contrib = du.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
        "day",
    ).select("user_id", F.date_add(F.col("day"), F.col("i")).alias("target_day"))
    return (
        contrib.join(
            F.broadcast(days), contrib.target_day == days.day
        )
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("wau_7d"))
    )


@register(
    "basket_part_affinity",
    """
    WITH op AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), pc AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM op GROUP BY l_partkey
    ), n AS (
      SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_baskets FROM op
    ), pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
      HAVING COUNT(*) >= 2
    )
    SELECT p.part_a, p.part_b, p.n_ab,
           ROUND(CAST(p.n_ab AS DOUBLE) * n.n_baskets
                 / (ca.n_orders * cb.n_orders), 4) AS lift
    FROM pairs p
    JOIN pc ca ON ca.l_partkey = p.part_a
    JOIN pc cb ON cb.l_partkey = p.part_b
    CROSS JOIN n
    ORDER BY p.n_ab DESC, lift DESC, p.part_a, p.part_b
    LIMIT 25
    """,
    doc="Market-basket affinity over order contents: co-occurrence "
    "counts and lift = N*c(a,b)/(c(a)*c(b)) for part pairs appearing "
    "together in >= 2 orders, top-25 by (support, lift, keys). The "
    "association-rule-mining counting core (the support/lift half of "
    "Apriori) as one relational plan. Scale: the pair generation is "
    "a self-equi-join WITHIN order keys, so pair volume is "
    "sum-over-orders of lines^2 (bounded by basket size, ~4 here — "
    "never corpus-quadratic; the same bounded-blocking argument as "
    "SemDeDup's within-cluster pairs); the a<b guard halves it and "
    "kills self-pairs; per-part counts broadcast back onto the "
    "surviving pairs; top-k is a heap.",
)
def basket_part_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    op = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .dropDuplicates(["l_orderkey", "l_partkey"])
    )
    pc = op.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_orders"))
    n = op.agg(F.countDistinct("l_orderkey").alias("n_baskets"))
    a = op.alias("a")
    b = op.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 2)
    )
    return (
        pairs.join(
            pc.withColumnRenamed("l_partkey", "part_a").withColumnRenamed(
                "n_orders", "ca"
            ),
            "part_a",
        )
        .join(
            pc.withColumnRenamed("l_partkey", "part_b").withColumnRenamed(
                "n_orders", "cb"
            ),
            "part_b",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            F.round(
                F.col("n_ab").cast("double")
                * F.col("n_baskets")
                / (F.col("ca") * F.col("cb")),
                4,
            ).alias("lift"),
        )
        .orderBy(F.desc("n_ab"), F.desc("lift"), "part_a", "part_b")
        .limit(25)
    )


@register(
    "entity_resolution_clusters",
    """
    WITH RECURSIVE n AS (
      SELECT p_name, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM part GROUP BY p_name
    ), p AS (
      SELECT p_name, cnt,
             string_split(p_name, ' ')[1]  AS w1,
             string_split(p_name, ' ')[-1] AS w2
      FROM n
    ), pairs AS (
      SELECT a.p_name AS name_a, b.p_name AS name_b
      FROM p a JOIN p b
        ON (a.w1 = b.w1 OR a.w2 = b.w2) AND a.p_name < b.p_name
      WHERE levenshtein(a.p_name, b.p_name) <= 2
    ), edges AS (
      SELECT name_a AS a, name_b AS b FROM pairs
      UNION
      SELECT name_b AS a, name_a AS b FROM pairs
    ), reach AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ), labels AS (
      SELECT a AS p_name, LEAST(a, MIN(b)) AS canonical FROM reach GROUP BY a
    ), assigned AS (
      SELECT n.p_name, n.cnt, COALESCE(l.canonical, n.p_name) AS canonical
      FROM n LEFT JOIN labels l ON l.p_name = n.p_name
    ), surv AS (
      SELECT canonical, CAST(COUNT(*) AS BIGINT) AS n_variants,
             CAST(SUM(cnt) AS BIGINT) AS total_rows
      FROM assigned GROUP BY canonical
    )
    SELECT a.p_name, a.canonical, s.n_variants, s.total_rows,
           CAST(a.p_name = a.canonical AS INT) AS is_canonical
    FROM assigned a JOIN surv s ON s.canonical = a.canonical
    WHERE s.n_variants > 1
    """,
    doc="Entity resolution end to end (the MDM/record-linkage "
    "pipeline): the blocked fuzzy pairs (fuzzy_name_match_pairs "
    "semantics: block on either name word, Levenshtein <= 2) become "
    "an undirected match graph, connected components assign every "
    "variant its cluster, and survivorship elects the "
    "lexicographically-least name as canonical with variant/row "
    "counts — the merge table a dedup job applies to the dimension. "
    "Output keeps only multi-variant clusters (the singleton "
    "majority is noise for a merge review). Engine: the same "
    "min-label propagation operator the near-dup clusters use "
    "(operators/graph.py — string node ids propagate through "
    "MIN/LEAST exactly like longs), over edges whose volume the "
    "blocking keys bound; oracle replays the fixpoint as a "
    "recursive CTE (the dedup_clusters precedent).",
)
def entity_resolution_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import connected_components
    from .relational import fuzzy_name_match_pairs

    pairs = fuzzy_name_match_pairs(spark, sf_dir).select("name_a", "name_b")
    comp = connected_components(pairs, src="name_a", dst="name_b")
    n = (
        load_table(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    assigned = n.join(
        comp.withColumnRenamed("node", "p_name").withColumnRenamed(
            "component", "canonical"
        ),
        "p_name",
        "left",
    ).select(
        "p_name",
        "cnt",
        F.coalesce(F.col("canonical"), F.col("p_name")).alias("canonical"),
    )
    surv = assigned.groupBy("canonical").agg(
        F.count(F.lit(1)).alias("n_variants"),
        F.sum("cnt").alias("total_rows"),
    )
    out = (
        assigned.join(surv, "canonical")
        .filter(F.col("n_variants") > 1)
        .select(
            "p_name",
            "canonical",
            "n_variants",
            "total_rows",
            (F.col("p_name") == F.col("canonical")).cast("int").alias(
                "is_canonical"
            ),
        )
    )
    return hold(out, comp)


@register(
    "longest_user_streaks",
    """
    WITH du AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), grp AS (
      SELECT user_id, day,
             day - CAST(ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY day
             ) AS INT) AS anchor
      FROM du
    ), runs AS (
      SELECT user_id, anchor, CAST(COUNT(*) AS BIGINT) AS streak_len,
             MIN(day) AS streak_start
      FROM grp GROUP BY user_id, anchor
    ), best AS (
      SELECT user_id, streak_len, streak_start,
             ROW_NUMBER() OVER (
               PARTITION BY user_id
               ORDER BY streak_len DESC, streak_start
             ) AS rn
      FROM runs
    )
    SELECT user_id, streak_len, streak_start
    FROM best WHERE rn = 1
    """,
    doc="Longest consecutive-day activity streak per user: the "
    "day-minus-row_number gaps-and-islands anchor groups consecutive "
    "days into runs, the longest run wins (earliest start breaks "
    "ties). The engagement metric next to cohort_retention, and the "
    "date-typed sibling of the islands trick SCD2 uses on value "
    "changes. One user_id exchange; both windows and both aggregates "
    "reuse it.",
)
def longest_user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("day")
    )
    du = e.dropDuplicates(["user_id", "day"])
    seq = W.partitionBy("user_id").orderBy("day")
    grp = du.withColumn(
        "anchor",
        F.date_sub(F.col("day"), F.row_number().over(seq)),
    )
    runs = grp.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).alias("streak_len"),
        F.min("day").alias("streak_start"),
    )
    best = W.partitionBy("user_id").orderBy(
        F.desc("streak_len"), "streak_start"
    )
    return (
        runs.withColumn("rn", F.row_number().over(best))
        .filter(F.col("rn") == 1)
        .select("user_id", "streak_len", "streak_start")
    )


@register(
    "events_ohlc_daily",
    """
    WITH base AS (
      SELECT user_id,
             CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
             ts, event_id, value,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, epoch_us(ts) // 86400000000
               ORDER BY ts, event_id) AS rn,
             COUNT(*) OVER (
               PARTITION BY user_id, epoch_us(ts) // 86400000000) AS cnt
      FROM events
    )
    SELECT user_id, day,
           ROUND(MAX(CASE WHEN rn = 1 THEN value END), 2)   AS open_v,
           ROUND(MAX(value), 2)                             AS high_v,
           ROUND(MIN(value), 2)                             AS low_v,
           ROUND(MAX(CASE WHEN rn = cnt THEN value END), 2) AS close_v,
           COUNT(*)                                         AS n_events
    FROM base GROUP BY user_id, day
    """,
    doc="OHLC downsampling — the canonical time-series resample "
    "(metrics pipelines, market bars, sensor rollups): per (user, "
    "day) the first/highest/lowest/last reading plus event count. "
    "First/last are picked by ONE ascending row_number per partition "
    "with event_id tie-breaks (total order, so close = rn == cnt "
    "needs no second descending sort — one shuffle, one sort, then a "
    "two-phase hash aggregate). At 100 TB this is the standing "
    "downsample job ahead of dashboards: linear, partitioned by "
    "(user, day), no driver work.",
)
def events_ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    day = F.expr("unix_micros(ts) div 86400000000")
    base = e.select(
        "user_id", day.alias("day"), "ts", "event_id", "value"
    )
    w = W.partitionBy("user_id", "day").orderBy("ts", "event_id")
    wall = W.partitionBy("user_id", "day")
    ranked = base.withColumn("rn", F.row_number().over(w)).withColumn(
        "cnt", F.count(F.lit(1)).over(wall)
    )
    return ranked.groupBy("user_id", "day").agg(
        F.round(F.max(F.when(F.col("rn") == 1, F.col("value"))), 2).alias("open_v"),
        F.round(F.max("value"), 2).alias("high_v"),
        F.round(F.min("value"), 2).alias("low_v"),
        F.round(
            F.max(F.when(F.col("rn") == F.col("cnt"), F.col("value"))), 2
        ).alias("close_v"),
        F.count(F.lit(1)).alias("n_events"),
    )

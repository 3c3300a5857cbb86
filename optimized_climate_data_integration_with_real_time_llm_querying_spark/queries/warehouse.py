"""Warehouse / lakehouse maintenance shapes (round 8, third wave).

The reference runs its tables as static SQLite files refreshed by
re-running ETL notebooks end to end (``noaa_disaster_db.ipynb:cell6``
``if_exists="replace"`` — the whole table is dropped and rebuilt).
A 100 TB lake cannot do that; it needs the standing maintenance and
audit operators every production pipeline runs between ingest and
query. This module adds them, each as ONE declarative plan:

- a Deequ-style data-quality constraint suite evaluated in a single
  pass (completeness, uniqueness, range, domain, referential),
- CDC snapshot merge: apply an ordered change log (insert / update /
  delete, last-writer-wins per key) to a snapshot — the MERGE INTO
  semantics of a lakehouse table format,
- a two-phase sweep-line for interval concurrency (max open orders
  per day) — the scale-safe rewrite of a global running sum,
- a distributed 2-D Pareto frontier (skyline) via banded carry-in,
- exact seasonal decomposition of the daily event series (integer
  arithmetic until two final divisions, so it is FP-order-free),
- triangle enumeration over the co-purchase graph,
- a join-skew audit (the diagnostic you run before choosing salting
  or AQE skew hints on a 100 TB join),
- diversified top-k (per-group quota then global rank).

Scale notes are per query; the common theme is that every global
ordering here runs over a pre-aggregated tiny domain (days, price
bands, per-key count tables), never over the fact table itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..catalog import load_table
from ..lifecycle import CheckpointHandle, hold
from ..operators.sampling import md5_bucket
from . import register

# DuckDB twin of operators.sampling.md5_bucket (oracle-hygiene rule 6).
_DUCK_BUCKET = (
    "CAST(('0x' || substr(md5('{seed}:' || CAST({col} AS VARCHAR)), 1, 8)) "
    "AS BIGINT) % 1000000"
)


@register(
    "dq_constraint_report",
    """
    WITH agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(o_custkey) AS BIGINT) AS n_custkey,
             CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct_key,
             CAST(COUNT(*) FILTER (WHERE o_totalprice >= 0) AS BIGINT) AS n_price_ok,
             CAST(COUNT(*) FILTER (WHERE o_orderstatus IN ('O','F','P')) AS BIGINT)
               AS n_status_ok
      FROM orders
    ), ref AS (
      SELECT CAST(COUNT(*) FILTER (WHERE c.c_custkey IS NULL) AS BIGINT) AS n_orphan
      FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    )
    SELECT constraint_name,
           ROUND(metric, 6) + 0.0 AS metric,
           passed
    FROM (
      SELECT 'completeness_o_custkey' AS constraint_name,
             CAST(n_custkey AS DOUBLE) / n_rows AS metric,
             CAST(n_custkey = n_rows AS INT) AS passed FROM agg
      UNION ALL
      SELECT 'uniqueness_o_orderkey',
             CAST(n_distinct_key AS DOUBLE) / n_rows,
             CAST(n_distinct_key = n_rows AS INT) FROM agg
      UNION ALL
      SELECT 'range_o_totalprice_nonneg',
             CAST(n_price_ok AS DOUBLE) / n_rows,
             CAST(n_price_ok = n_rows AS INT) FROM agg
      UNION ALL
      SELECT 'domain_o_orderstatus',
             CAST(n_status_ok AS DOUBLE) / n_rows,
             CAST(n_status_ok = n_rows AS INT) FROM agg
      UNION ALL
      SELECT 'referential_o_custkey',
             1.0 - CAST(n_orphan AS DOUBLE) / n_rows,
             CAST(n_orphan = 0 AS INT) FROM agg, ref
    )
    """,
    doc="Deequ-style declarative data-quality suite over the orders "
    "fact, evaluated as ONE job: completeness(o_custkey), "
    "uniqueness(o_orderkey), range(o_totalprice >= 0), "
    "domain(o_orderstatus), and referential integrity of o_custkey "
    "against the customer dimension. The reference has no data-quality "
    "layer at all — its ETL silently fillna(0)s and replaces whole "
    "tables (noaa_disaster_db.ipynb:cell2,cell6); this is the audit "
    "that layer needs. Spark side: one partial+final aggregate pass "
    "computes four constraints; the referential check is a left join "
    "counted on the probe side (at 100 TB the dimension side stays a "
    "broadcast or a shuffle join on c_custkey — either way the report "
    "is 5 rows regardless of input size). All metrics are exact "
    "ratios of BIGINT counts — FP-order-free by construction — and "
    "passed is judged on the exact integer counts themselves (not "
    "the 6-dp display metric), so a single violating row among 10M "
    "still fails its constraint at 100 TB scale.",
)
def dq_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    agg = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_custkey").alias("n_custkey"),
        F.countDistinct("o_orderkey").alias("n_distinct_key"),
        F.sum(F.when(F.col("o_totalprice") >= 0, 1).otherwise(0))
        .cast("long")
        .alias("n_price_ok"),
        F.sum(F.when(F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0))
        .cast("long")
        .alias("n_status_ok"),
    )
    ref = (
        o.select("o_custkey")
        .join(c, F.col("o_custkey") == F.col("c_custkey"), "left")
        .agg(
            F.sum(F.when(F.col("c_custkey").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_orphan")
        )
    )
    one = agg.crossJoin(ref)  # 1 row x 1 row
    n = F.col("n_rows").cast("double")
    rows = one.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("completeness_o_custkey").alias("constraint_name"),
                    (F.col("n_custkey").cast("double") / n).alias("metric"),
                    (F.col("n_custkey") == F.col("n_rows"))
                    .cast("int")
                    .alias("passed"),
                ),
                F.struct(
                    F.lit("uniqueness_o_orderkey").alias("constraint_name"),
                    (F.col("n_distinct_key").cast("double") / n).alias("metric"),
                    (F.col("n_distinct_key") == F.col("n_rows"))
                    .cast("int")
                    .alias("passed"),
                ),
                F.struct(
                    F.lit("range_o_totalprice_nonneg").alias("constraint_name"),
                    (F.col("n_price_ok").cast("double") / n).alias("metric"),
                    (F.col("n_price_ok") == F.col("n_rows"))
                    .cast("int")
                    .alias("passed"),
                ),
                F.struct(
                    F.lit("domain_o_orderstatus").alias("constraint_name"),
                    (F.col("n_status_ok").cast("double") / n).alias("metric"),
                    (F.col("n_status_ok") == F.col("n_rows"))
                    .cast("int")
                    .alias("passed"),
                ),
                F.struct(
                    F.lit("referential_o_custkey").alias("constraint_name"),
                    (F.lit(1.0) - F.col("n_orphan").cast("double") / n).alias(
                        "metric"
                    ),
                    (F.col("n_orphan") == F.lit(0))
                    .cast("int")
                    .alias("passed"),
                ),
            )
        ).alias("r")
    )
    return rows.select(
        F.col("r.constraint_name").alias("constraint_name"),
        # metric is 6-dp DISPLAY; passed is judged on the EXACT
        # integer counts (n_custkey == n_rows, n_orphan == 0, ...) so
        # one bad row in 10M (violation rate below the 5e-7 rounding
        # grain) still fails the constraint. metric=1.0, passed=0 is
        # therefore a legal row: "rounds to one, but is not one".
        (F.round(F.col("r.metric"), 6) + F.lit(0.0)).alias("metric"),
        F.col("r.passed").alias("passed"),
    )


_CDC_BUCKET = _DUCK_BUCKET.format(seed=7, col="o_orderkey") + " % 5"


def cdc_tagged_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders in integer cents with the deterministic md5 change
    bucket (0=insert, 1=update, 2=double update, 3=delete, 4=no-op)
    — shared by the batch merge query and the streaming
    merge-on-read twin (streaming/cdc_apply.py)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return o.withColumn("b", md5_bucket(F.col("o_orderkey"), seed=7) % 5)


def cdc_change_log(tagged: DataFrame) -> DataFrame:
    """The ordered change log derived from the tagged orders:
    (o_orderkey, o_custkey, op, seq, new_cents)."""
    p = F.col("cents")
    up1 = F.expr("(cents * 110) div 100")
    up2 = F.expr("(cents * 120) div 100")
    return tagged.select(
        "o_orderkey",
        "o_custkey",
        F.explode(
            F.when(
                F.col("b") == 0,
                F.array(
                    F.struct(
                        F.lit("I").alias("op"),
                        F.lit(1).alias("seq"),
                        p.alias("new_cents"),
                    )
                ),
            )
            .when(
                F.col("b") == 1,
                F.array(
                    F.struct(
                        F.lit("U").alias("op"),
                        F.lit(1).alias("seq"),
                        up1.alias("new_cents"),
                    )
                ),
            )
            .when(
                F.col("b") == 2,
                F.array(
                    F.struct(
                        F.lit("U").alias("op"),
                        F.lit(1).alias("seq"),
                        up1.alias("new_cents"),
                    ),
                    F.struct(
                        F.lit("U").alias("op"),
                        F.lit(2).alias("seq"),
                        up2.alias("new_cents"),
                    ),
                ),
            )
            .when(
                F.col("b") == 3,
                F.array(
                    F.struct(
                        F.lit("D").alias("op"),
                        F.lit(1).alias("seq"),
                        F.lit(None).cast("long").alias("new_cents"),
                    )
                ),
            )
            # b == 4: no change row; explode(NULL) yields no rows
        ).alias("c"),
    ).select("o_orderkey", "o_custkey", "c.op", "c.seq", "c.new_cents")

@register(
    "cdc_snapshot_merge",
    f"""
    WITH tagged AS (
      SELECT o_orderkey, o_custkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             {_CDC_BUCKET} AS b
      FROM orders
    ), base AS (
      SELECT o_orderkey, o_custkey, cents FROM tagged WHERE b <> 0
    ), changes AS (
      SELECT o_orderkey, o_custkey, 'I' AS op, 1 AS seq, cents AS new_cents
      FROM tagged WHERE b = 0
      UNION ALL
      SELECT o_orderkey, o_custkey, 'U', 1, (cents * 110) // 100
      FROM tagged WHERE b = 1
      UNION ALL
      SELECT o_orderkey, o_custkey, 'U', 1, (cents * 110) // 100
      FROM tagged WHERE b = 2
      UNION ALL
      SELECT o_orderkey, o_custkey, 'U', 2, (cents * 120) // 100
      FROM tagged WHERE b = 2
      UNION ALL
      SELECT o_orderkey, o_custkey, 'D', 1, NULL
      FROM tagged WHERE b = 3
    ), latest AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) rn
        FROM changes
      ) WHERE rn = 1
    )
    SELECT COALESCE(b.o_orderkey, l.o_orderkey) AS o_orderkey,
           COALESCE(b.o_custkey, l.o_custkey) AS o_custkey,
           ROUND(CAST(CASE WHEN l.op IN ('U','I') THEN l.new_cents
                      ELSE b.cents END AS DOUBLE) / 100.0, 2) + 0.0 AS price,
           CASE WHEN l.op = 'U' THEN 'updated'
                WHEN l.op = 'I' THEN 'inserted'
                ELSE 'unchanged' END AS version
    FROM base b FULL OUTER JOIN latest l ON b.o_orderkey = l.o_orderkey
    WHERE l.op IS NULL OR l.op <> 'D'
    """,
    doc="CDC snapshot merge — the MERGE INTO semantics of a lakehouse "
    "table format, expressed as one plan: a deterministic change log "
    "(md5 bucket of o_orderkey splits orders into base rows, inserts, "
    "single and double updates, deletes) is collapsed to its "
    "last-writer-wins row per key (ROW_NUMBER over seq DESC), then "
    "full-outer-joined against the base snapshot; deletes drop, "
    "updates/inserts take the log's values, untouched rows pass "
    "through. The reference's only refresh strategy is DROP-and-"
    "rebuild (to_sql if_exists='replace', noaa_disaster_db.ipynb:"
    "cell6) — this is the incremental alternative it lacks. Spark "
    "side: one shuffle on o_orderkey shared by the change-collapse "
    "window and the merge join (same key -> Catalyst reuses the "
    "exchange); at 100 TB the change log is orders of magnitude "
    "smaller than the snapshot, so the log side broadcasts or "
    "shuffles cheap while the snapshot never moves twice. Money "
    "arithmetic runs in exact integer cents with floor division "
    "(naive ROUND(price*1.1, 2) diverged cross-engine on half-cent "
    "boundaries: Spark rounds the shortest decimal representation, "
    "DuckDB the binary double — caught live by the parity suite).",
)
def cdc_snapshot_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    tagged = cdc_tagged_orders(spark, sf_dir)
    base = tagged.where(F.col("b") != 0).drop("b")
    ops = cdc_change_log(tagged)
    w = W.partitionBy("o_orderkey").orderBy(F.col("seq").desc())
    latest = (
        ops.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    merged = base.alias("b").join(
        latest.alias("l"), on="o_orderkey", how="full_outer"
    )
    op = F.col("l.op")
    return merged.where(op.isNull() | (op != "D")).select(
        F.col("o_orderkey"),
        F.coalesce(F.col("b.o_custkey"), F.col("l.o_custkey")).alias("o_custkey"),
        (
            F.round(
                F.when(op.isin("U", "I"), F.col("l.new_cents"))
                .otherwise(F.col("b.cents"))
                .cast("double")
                / 100.0,
                2,
            )
            + F.lit(0.0)
        ).alias("price"),
        F.when(op == "U", "updated")
        .when(op == "I", "inserted")
        .otherwise("unchanged")
        .alias("version"),
    )


@register(
    "open_orders_concurrency",
    """
    WITH deltas AS (
      SELECT CAST(o_orderdate AS DATE) AS day, 1 AS delta FROM orders
      UNION ALL
      SELECT CAST(o_orderdate AS DATE)
               + CAST(o_orderkey % 7 + 1 AS INT) AS day,
             -1
      FROM orders
    ), per_day AS (
      SELECT day, CAST(SUM(delta) AS BIGINT) AS net FROM deltas GROUP BY day
    )
    SELECT day,
           CAST(SUM(net) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS open_orders
    FROM per_day
    """,
    doc="Max-concurrency sweep-line: each order is open for "
    "(o_orderkey % 7 + 1) days from its order date; the query reports "
    "how many orders are simultaneously open on every day. The naive "
    "formulation is a running sum over a GLOBAL ordering of 2x the "
    "fact table — a single-partition window that dies at 100 TB. The "
    "scale-safe two-phase rewrite used here: phase 1 reduces +1/-1 "
    "deltas to one net-change row per DAY (partial+final aggregate, "
    "fully parallel); phase 2 runs the cumulative sum over that "
    "per-day frame, whose size is the calendar domain (~2,400 rows "
    "here) — corpus-size independent, so the single-partition window "
    "is over provably tiny data. Same pattern as the winsorized "
    "two-phase grade histogram (VERDICT r6). The reference has no "
    "interval analytics; its closest shape is per-year point counts "
    "(noaa_disaster_db.ipynb:cell9).",
)
def open_orders_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    start = o.select(
        F.to_date("o_orderdate").alias("day"), F.lit(1).alias("delta")
    )
    end = o.select(
        F.date_add(
            F.to_date("o_orderdate"),
            (F.col("o_orderkey") % 7 + 1).cast("int"),
        ).alias("day"),
        F.lit(-1).alias("delta"),
    )
    per_day = (
        start.unionByName(end)
        .groupBy("day")
        .agg(F.sum("delta").cast("long").alias("net"))
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return per_day.select(
        "day", F.sum("net").over(w).cast("long").alias("open_orders")
    )


@register(
    "pareto_frontier_parts",
    """
    SELECT p_partkey, ROUND(p_retailprice, 2) + 0.0 AS price, p_size
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
    )
    """,
    doc="2-D Pareto frontier (skyline) of parts: minimize retail "
    "price, maximize size; a part survives iff no other part is at "
    "least as cheap AND at least as large with one strict. The oracle "
    "is the independent NOT-EXISTS definition; the engine uses the "
    "distributed banded rewrite: prices (exact cents, the table is "
    "2-dp) are bucketed into $10 bands; per-band max sizes (tiny "
    "aggregate) produce a carry-in running max over strictly-lower "
    "bands; within each band two RANGE-framed windows on the integer "
    "cent key compute max-size-over-strictly-cheaper and "
    "max-size-over-cheaper-or-equal, and dominance is a comparison "
    "against greatest(carry, window). No all-pairs join anywhere: "
    "cost is one band-partitioned sort + a band-count-sized "
    "broadcast, so the skyline of 10^12 rows is the same plan with "
    "more bands. Equal (price,size) duplicates correctly co-survive "
    "(neither strictly dominates).",
)
def pareto_frontier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    cents = F.round(F.col("p_retailprice") * 100).cast("long")
    p = part.withColumn("cents", cents).withColumn(
        "band", (F.col("cents") / F.lit(1000)).cast("long")
    )
    band_max = p.groupBy("band").agg(F.max("p_size").alias("band_max"))
    wb = W.orderBy("band").rowsBetween(W.unboundedPreceding, -1)
    carry = band_max.select(
        "band", F.max("band_max").over(wb).alias("carry_max")
    )
    p = p.join(F.broadcast(carry), "band")
    w_lt = (
        W.partitionBy("band").orderBy("cents").rangeBetween(W.unboundedPreceding, -1)
    )
    w_le = (
        W.partitionBy("band")
        .orderBy("cents")
        .rangeBetween(W.unboundedPreceding, W.currentRow)
    )
    neg_inf = F.lit(-(1 << 31))
    max_lt = F.greatest(
        F.coalesce(F.max("p_size").over(w_lt), neg_inf),
        F.coalesce(F.col("carry_max"), neg_inf),
    )
    max_le = F.greatest(
        F.coalesce(F.max("p_size").over(w_le), neg_inf),
        F.coalesce(F.col("carry_max"), neg_inf),
    )
    dominated = (max_lt >= F.col("p_size")) | (max_le > F.col("p_size"))
    return (
        p.withColumn("dominated", dominated)
        .where(~F.col("dominated"))
        .select(
            "p_partkey",
            (F.round(F.col("p_retailprice"), 2) + F.lit(0.0)).alias("price"),
            "p_size",
        )
    )


@register(
    "seasonal_decompose_daily",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ), trended AS (
      SELECT *,
             CASE WHEN COUNT(*) OVER w7 = 7
                  THEN CAST(SUM(cnt) OVER w7 AS BIGINT) END AS trend7,
             dayofweek(day) AS dow
      FROM daily
      WINDOW w7 AS (PARTITION BY event_type
                    ORDER BY datediff('day', DATE '1970-01-01', day)
                    RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), seasonal AS (
      SELECT *,
             CAST(SUM(7 * cnt - trend7) OVER wd AS BIGINT) AS s_sum,
             CAST(COUNT(trend7) OVER wd AS BIGINT) AS s_n
      FROM trended
      WINDOW wd AS (PARTITION BY event_type, dow)
    )
    SELECT event_type, day, cnt, dow,
           ROUND(CAST(trend7 AS DOUBLE) / 7.0, 4) + 0.0 AS trend,
           ROUND(CAST(s_sum AS DOUBLE) / (7.0 * s_n), 4) + 0.0 AS seasonal,
           ROUND(cnt - CAST(trend7 AS DOUBLE) / 7.0
                     - CAST(s_sum AS DOUBLE) / (7.0 * s_n), 4) + 0.0
             AS remainder
    FROM seasonal
    """,
    doc="Classical seasonal decomposition of the per-(event_type, "
    "day) count series: trend = centered 7-day moving average "
    "(defined only where the full 7-row frame exists), seasonal = "
    "day-of-week mean of the detrended series, remainder = the rest. "
    "FP-discipline: everything stays in BIGINT (7*cnt - trend7 is an "
    "exact integer; its day-of-week sum is an exact integer) until "
    "exactly two final IEEE divisions — so the result is bit-stable "
    "under any partitioning and accumulation order, unlike a naive "
    "avg-of-doubles seasonal (segment-tree vs linear accumulation "
    "would differ at 1e-16 and round unpredictably). Spark side: the "
    "windows run over the per-day PRE-AGGREGATE (days x types rows, "
    "corpus-size independent), and the trend frame is a RANGE over "
    "calendar-day numbers (a rows-frame would silently span more "
    "than 7 days across gaps; the count==7 guard doubles as a "
    "density check) — the only full-data pass is the "
    "partial+final daily count. dow is Sunday=0 on both engines "
    "(Spark dayofweek()-1, DuckDB dayofweek). The reference's "
    "closest shape is the monthly group-mean "
    "(ERA5_preprocessing.ipynb:cell8) with no trend/seasonal split.",
)
def seasonal_decompose_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day")
    )
    daily = e.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # RANGE frame on the day NUMBER, not a 7-ROW frame: with gaps in
    # the daily series a rows-frame silently spans >7 calendar days;
    # the count==7 guard then also enforces density within the
    # +/-3-day window, so trend is defined exactly where a true
    # centered 7-day MA exists.
    w7 = (
        W.partitionBy("event_type")
        .orderBy(F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")))
        .rangeBetween(-3, 3)
    )
    trended = daily.withColumn(
        "trend7",
        F.when(F.count(F.lit(1)).over(w7) == 7, F.sum("cnt").over(w7)).cast(
            "long"
        ),
    ).withColumn("dow", (F.dayofweek("day") - 1).cast("long"))
    wd = W.partitionBy("event_type", "dow")
    seasonal = trended.withColumn(
        "s_sum",
        F.sum(F.lit(7) * F.col("cnt") - F.col("trend7")).over(wd).cast("long"),
    ).withColumn("s_n", F.count("trend7").over(wd).cast("long"))
    trend = F.col("trend7").cast("double") / 7.0
    seas = F.col("s_sum").cast("double") / (7.0 * F.col("s_n"))
    return seasonal.select(
        "event_type",
        "day",
        "cnt",
        "dow",
        (F.round(trend, 4) + F.lit(0.0)).alias("trend"),
        (F.round(seas, 4) + F.lit(0.0)).alias("seasonal"),
        (F.round(F.col("cnt") - trend - seas, 4) + F.lit(0.0)).alias("remainder"),
    )


def copurchase_edges(spark: SparkSession, sf_dir: str, min_support: int = 2):
    """Shared edge pipeline for the co-purchase graph family
    (triangles / hop distance / frequent triples): distinct
    (order, part) baskets and the support>=min_support ordered edge
    list. Returns (baskets, edges): ``baskets`` is persisted and
    ``edges`` checkpointed; the caller holds both on its result."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .persist()
    )
    a = li.alias("a")
    c = li.alias("c")
    pairs = a.join(
        c,
        (F.col("a.l_orderkey") == F.col("c.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("c.l_partkey")),
    ).select(F.col("a.l_partkey").alias("pa"), F.col("c.l_partkey").alias("pb"))
    # Round-17 (guide §2.4): every consumer references the edge list
    # 2-3 times (triangle/wedge self-joins, BFS levels); left lazy,
    # each reference re-ran the basket self-join + aggregate inside
    # one plan. One eager localCheckpoint truncates the lineage so the
    # support>=min_support list — orders of magnitude smaller than the
    # baskets — is computed exactly once.
    edges = (
        pairs.groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= min_support)
        .select("pa", "pb")
        .localCheckpoint(eager=True)
    )
    return li, edges


@register(
    "copurchase_triangles",
    """
    WITH b AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), pairs AS (
      SELECT a.l_partkey AS pa, c.l_partkey AS pb
      FROM b a JOIN b c
        ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
    ), e AS (
      SELECT pa, pb FROM pairs GROUP BY pa, pb HAVING COUNT(*) >= 2
    )
    SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
    FROM e e1
    JOIN e e2 ON e1.pb = e2.pa
    JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
    """,
    doc="Triangle enumeration over the co-purchase graph: nodes are "
    "parts, an edge joins two parts bought together in >= 2 distinct "
    "orders, and a triangle is three mutually co-purchased parts "
    "(a < b < c by key, so each triangle appears exactly once). The "
    "classic distributed formulation: pair volume is bounded by "
    "within-order blocking (sum of basket_size^2, never corpus-"
    "quadratic — the same guard as basket_part_affinity), the "
    "support>=2 filter sparsifies edges BEFORE the triangle joins, "
    "and the two equi-joins on ordered endpoints shuffle only the "
    "edge list (8-byte key pairs). At 100 TB one additionally orders "
    "endpoints by degree instead of id (halves the heaviest "
    "adjacency); id-ordering is the deterministic, oracle-matched "
    "variant. The reference has no graph capability; this extends "
    "the dedup-graph family (dedup_clusters, similarity_pagerank) "
    "with the local-clustering primitive.",
)
def copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, e = copurchase_edges(spark, sf_dir)
    e1 = e.alias("e1")
    e2 = e.alias("e2")
    e3 = e.alias("e3")
    wedges = e1.join(e2, F.col("e1.pb") == F.col("e2.pa"))
    tri = wedges.join(
        e3,
        (F.col("e3.pa") == F.col("e1.pa")) & (F.col("e3.pb") == F.col("e2.pb")),
    )
    out = tri.select(
        F.col("e1.pa").alias("a"),
        F.col("e1.pb").alias("b"),
        F.col("e2.pb").alias("c"),
    )
    return hold(out, li, CheckpointHandle(e))


@register(
    "join_skew_audit",
    """
    WITH stats AS (
      SELECT key_col, n_keys, total, max_cnt,
             ROUND(CAST(total AS DOUBLE) / n_keys, 6) + 0.0 AS avg_cnt,
             ROUND(max_cnt * CAST(n_keys AS DOUBLE) / total, 4) + 0.0
               AS skew_ratio
      FROM (
        SELECT key_col, CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(cnt) AS BIGINT) AS total,
               CAST(MAX(cnt) AS BIGINT) AS max_cnt
        FROM (
          SELECT 'l_orderkey' AS key_col, l_orderkey AS k, COUNT(*) AS cnt
          FROM lineitem GROUP BY 1, 2
          UNION ALL
          SELECT 'l_partkey', l_partkey, COUNT(*) FROM lineitem GROUP BY 1, 2
          UNION ALL
          SELECT 'l_suppkey', l_suppkey, COUNT(*) FROM lineitem GROUP BY 1, 2
        ) GROUP BY key_col
      )
    ), top10 AS (
      SELECT key_col, CAST(SUM(cnt) AS BIGINT) AS top10_cnt
      FROM (
        SELECT key_col, cnt,
               ROW_NUMBER() OVER (PARTITION BY key_col
                                  ORDER BY cnt DESC, k) AS rn
        FROM (
          SELECT 'l_orderkey' AS key_col, l_orderkey AS k, COUNT(*) AS cnt
          FROM lineitem GROUP BY 1, 2
          UNION ALL
          SELECT 'l_partkey', l_partkey, COUNT(*) FROM lineitem GROUP BY 1, 2
          UNION ALL
          SELECT 'l_suppkey', l_suppkey, COUNT(*) FROM lineitem GROUP BY 1, 2
        )
      ) WHERE rn <= 10 GROUP BY key_col
    )
    SELECT s.key_col, n_keys, total, max_cnt, avg_cnt, skew_ratio,
           ROUND(CAST(top10_cnt AS DOUBLE) / total, 6) + 0.0 AS top10_share
    FROM stats s JOIN top10 USING (key_col)
    """,
    doc="Join-skew audit over the three lineitem join keys — the "
    "diagnostic a 100 TB join runs BEFORE choosing between plain "
    "shuffle, salting, and AQE skew hints (the repo's "
    "salted_agg_equivalence is the cure; this is the thermometer). "
    "Per key: distinct-key count, total rows, max per-key count, "
    "mean per-key count, skew ratio (max/mean — >> 1 means a hot "
    "key), and the row share of the 10 heaviest keys (deterministic "
    "tie-break by key). Spark side: one partial+final count per key "
    "column (three scans pruned to single columns), TakeOrdered for "
    "the top-10 — the audit output is 3 rows regardless of input "
    "size, and per-key count tables never leave the executors except "
    "as 10-row heaps and 4-scalar aggregates.",
)
def join_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    outs = []
    for key in ["l_orderkey", "l_partkey", "l_suppkey"]:
        grp = li.groupBy(F.col(key).alias("k")).agg(
            F.count(F.lit(1)).alias("cnt")
        )
        stats = grp.agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum("cnt").cast("long").alias("total"),
            F.max("cnt").cast("long").alias("max_cnt"),
        )
        top10 = (
            grp.orderBy(F.col("cnt").desc(), F.col("k"))
            .limit(10)
            .agg(F.sum("cnt").cast("long").alias("top10_cnt"))
        )
        row = stats.crossJoin(top10).select(
            F.lit(key).alias("key_col"),
            "n_keys",
            "total",
            "max_cnt",
            (
                F.round(F.col("total").cast("double") / F.col("n_keys"), 6)
                + F.lit(0.0)
            ).alias("avg_cnt"),
            (
                F.round(
                    F.col("max_cnt")
                    * F.col("n_keys").cast("double")
                    / F.col("total"),
                    4,
                )
                + F.lit(0.0)
            ).alias("skew_ratio"),
            (
                F.round(F.col("top10_cnt").cast("double") / F.col("total"), 6)
                + F.lit(0.0)
            ).alias("top10_share"),
        )
        outs.append(row)
    out = outs[0]
    for other in outs[1:]:
        out = out.unionByName(other)
    return out


@register(
    "diversified_topk_docs",
    """
    SELECT doc_id, source, n_chars, src_rank
    FROM (
      SELECT doc_id, source, n_chars, src_rank,
             ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS g_rank
      FROM (
        SELECT doc_id, source, n_chars,
               CAST(ROW_NUMBER() OVER (PARTITION BY source
                    ORDER BY n_chars DESC, doc_id) AS BIGINT) AS src_rank
        FROM documents
      ) WHERE src_rank <= 2
    ) WHERE g_rank <= 10
    """,
    doc="Diversified top-k: the 10 longest documents subject to a "
    "quota of at most 2 per source — the result-diversification "
    "shape every retrieval/search surface needs (plain top-k lets "
    "one dominant source fill the page; the reference's ORDER BY "
    "Year LIMIT 20, new_disaster_c.py:256-259, has no such control). "
    "Two ranking passes: a per-source ROW_NUMBER window (parallel "
    "across sources) prunes to 2 rows per source BEFORE the global "
    "rank, so the final ordering runs over at most 2x|sources| rows "
    "— at 100 TB the global stage sees hundreds of rows, not the "
    "corpus. Both ranks carry unique doc_id tie-breaks "
    "(oracle-hygiene rule 4).",
)
def diversified_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    w_src = W.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    quota = (
        d.withColumn("src_rank", F.row_number().over(w_src).cast("long"))
        .where(F.col("src_rank") <= 2)
    )
    w_g = W.orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    return (
        quota.withColumn("g_rank", F.row_number().over(w_g))
        .where(F.col("g_rank") <= 10)
        .select("doc_id", "source", "n_chars", "src_rank")
    )


@register(
    "incremental_agg_merge",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           ROUND(CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                 AS DOUBLE) / 100.0, 2) + 0.0 AS sum_price,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(MIN(l_shipdate) AS DATE) AS first_ship,
           CAST(MAX(l_shipdate) AS DATE) AS last_ship,
           ROUND(CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / COUNT(*), 6)
             + 0.0 AS avg_qty
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="Incremental aggregate maintenance (materialized-view "
    "refresh): the pricing-summary rollup is maintained as mergeable "
    "PARTIALS — the base state aggregates shipments before "
    "1997-01-01, the delta batch aggregates the rest, and a full-"
    "outer merge combines them (sum+sum, count+count, least/"
    "greatest for the date extrema) with AVG re-derived from merged "
    "sums, never averaged-of-averages. The ORACLE is the semantic "
    "definition — one direct aggregation over all rows — so the "
    "driver check proves merge-of-partials == recompute-from-"
    "scratch, the algebraic property that makes incremental refresh "
    "sound. At 100 TB this is the difference between scanning a "
    "day's partition and rescanning the lake: the base state is "
    "group-cardinality-sized (here 6 rows), so maintenance cost is "
    "O(delta) regardless of history size. The reference's only "
    "refresh is DROP-and-rebuild (to_sql if_exists='replace'). "
    "FP note: partials are kept in exact integers (quantities are "
    "integral, prices converted to BIGINT cents at the scan), so "
    "partial merging is truly associative — merging DOUBLE partial "
    "sums would NOT be (2-dp prices are binary-inexact and addition "
    "order matters), which is exactly the bug this query's oracle "
    "property would catch in a sloppy MV implementation.",
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        F.col("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.to_date("l_shipdate").alias("ship_day"),
    )
    cutoff = F.lit("1997-01-01").cast("date")

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy("l_returnflag", "l_linestatus").agg(
            F.sum("qty").alias("p_qty"),
            F.sum("cents").alias("p_price"),
            F.count(F.lit(1)).alias("p_cnt"),
            F.min("ship_day").alias("p_first"),
            F.max("ship_day").alias("p_last"),
        )

    base = partials(li.where(F.col("ship_day") < cutoff))
    delta = partials(li.where(F.col("ship_day") >= cutoff))
    merged = base.alias("b").join(
        delta.alias("d"), on=["l_returnflag", "l_linestatus"], how="full_outer"
    )

    def comb(colname: str, how) -> F.Column:
        b, d = F.col(f"b.{colname}"), F.col(f"d.{colname}")
        return F.when(b.isNull(), d).when(d.isNull(), b).otherwise(how(b, d))

    sum_qty = comb("p_qty", lambda a, b: a + b)
    sum_price = comb("p_price", lambda a, b: a + b)
    cnt = comb("p_cnt", lambda a, b: a + b)
    return merged.select(
        "l_returnflag",
        "l_linestatus",
        sum_qty.cast("long").alias("sum_qty"),
        (F.round(sum_price.cast("double") / 100.0, 2) + F.lit(0.0)).alias(
            "sum_price"
        ),
        cnt.cast("long").alias("cnt"),
        comb("p_first", F.least).alias("first_ship"),
        comb("p_last", F.greatest).alias("last_ship"),
        (F.round(sum_qty.cast("double") / cnt, 6) + F.lit(0.0)).alias("avg_qty"),
    )


@register(
    "brand_part_catalog",
    """
    WITH ranked AS (
      SELECT p_brand, p_name,
             ROW_NUMBER() OVER (PARTITION BY p_brand
                  ORDER BY p_retailprice DESC, p_name) AS rn
      FROM part
    )
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_top,
           string_agg(p_name, ', ' ORDER BY rn) AS top_parts
    FROM ranked WHERE rn <= 5
    GROUP BY p_brand
    """,
    doc="Ordered string aggregation: the five most expensive part "
    "names per brand, concatenated in rank order — the LISTAGG / "
    "string_agg shape (catalog rows, alert digests, prompt "
    "assembly). Spark has no ordered string_agg; the deterministic "
    "equivalent used here is collect_list of (rank, name) structs, "
    "array_sort (struct ordering sorts by rank first), transform to "
    "names, array_join — order pinned by the rank, NOT by "
    "collect_list's nondeterministic arrival order, which is the "
    "classic correctness trap in distributed GROUP_CONCAT. The "
    "WindowGroupLimit quota prune (same shape as "
    "diversified_topk_docs) keeps at most 5 rows per brand ahead of "
    "the shuffle, so the concat inputs are bounded regardless of "
    "catalog size.",
)
def brand_part_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").select(
        "p_brand", "p_name", "p_retailprice"
    )
    w = W.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_name")
    )
    top = p.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 5)
    return top.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("n_top"),
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(rn, p_name)))"
            ", x -> x.p_name), ', ')"
        ).alias("top_parts"),
    )


@register(
    "small_qty_below_avg",
    """
    SELECT l.l_partkey AS p_partkey,
           CAST(COUNT(*) AS BIGINT) AS n_small,
           ROUND(CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))
                 AS DOUBLE) / 100.0, 2) + 0.0 AS small_revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#12'
      AND l.l_quantity < 0.5 * (
        SELECT CAST(SUM(CAST(l2.l_quantity AS BIGINT)) AS DOUBLE) / COUNT(*)
        FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey
      )
    GROUP BY l.l_partkey
    """,
    doc="TPC-H Q17 shape — revenue from unusually small orders: for "
    "one brand's parts, the lineitems whose quantity is below half "
    "that part's average quantity, aggregated per part. The ORACLE "
    "is the textbook CORRELATED aggregate subquery (per-row "
    "re-aggregation); the engine runs the decorrelated two-pass "
    "plan a distributed engine must use instead: per-part averages "
    "as ONE partial+final aggregate over the fact table, joined "
    "back to the facts on l_partkey — so the driver check proves "
    "the decorrelation is semantics-preserving. The brand dimension "
    "filter broadcasts (part is the small side); the per-part "
    "average stays in exact integers until one IEEE division, so "
    "the 0.5x threshold compare is bit-identical on both engines. "
    "At 100 TB: two shuffles on l_partkey (agg + join), both AQE-"
    "coalesced; the correlated form would be one scan per outer "
    "row.",
)
def small_qty_below_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_quantity",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    brand_parts = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_brand") == "Brand#12")
        .select("p_partkey")
    )
    li_b = li.join(
        F.broadcast(brand_parts),
        li.l_partkey == F.col("p_partkey"),
    ).drop("p_partkey")
    avgs = li_b.groupBy("l_partkey").agg(
        (
            F.sum(F.col("l_quantity").cast("long")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_qty")
    )
    small = li_b.join(avgs, "l_partkey").where(
        F.col("l_quantity") < 0.5 * F.col("avg_qty")
    )
    return small.groupBy(F.col("l_partkey").alias("p_partkey")).agg(
        F.count(F.lit(1)).cast("long").alias("n_small"),
        (F.round(F.sum("cents").cast("double") / 100.0, 2) + F.lit(0.0)).alias(
            "small_revenue"
        ),
    )


@register(
    "customer_revenue_gini",
    """
    WITH rev AS (
      SELECT c.c_custkey, c.c_nationkey,
             COALESCE(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)), 0)
               AS cents
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey, c.c_nationkey
    ), ranked AS (
      SELECT n.n_name, cents,
             ROW_NUMBER() OVER (PARTITION BY n.n_name
                  ORDER BY cents, c_custkey) AS rk
      FROM rev JOIN nation n ON n.n_nationkey = rev.c_nationkey
    )
    SELECT n_name,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(CAST(SUM(cents) AS DOUBLE) / 100.0, 2) + 0.0
             AS total_revenue,
           ROUND((2.0 * SUM(rk * cents)) / (COUNT(*) * CAST(SUM(cents) AS DOUBLE))
                 - (COUNT(*) + 1.0) / COUNT(*), 6) + 0.0 AS gini
    FROM ranked
    GROUP BY n_name
    """,
    doc="Revenue inequality per nation: the Gini coefficient of "
    "customer lifetime revenue (zero-revenue customers included via "
    "the left join — excluding them understates inequality), using "
    "the rank formula G = 2*SUM(i*x_i)/(n*SUM(x)) - (n+1)/n over "
    "ascending revenue with a unique custkey tie-break. Everything "
    "stays in exact integer cents (rank*cents products and their "
    "sums are exact BIGINTs) until the two final IEEE divisions, so "
    "the statistic is bit-stable under any partitioning; at extreme "
    "scale the SUM(rk*cents) accumulator is the one to widen to "
    "DECIMAL(38). Spark side: per-customer rollup shuffles on "
    "c_custkey, the nation dimension broadcasts, and the rank "
    "window partitions by nation — per-nation sorted domains, no "
    "global ordering anywhere. The reference's closest shape is the "
    "client-side group-and-total dict (EDGARclient.py:318-359).",
)
def customer_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_nationkey")
        .agg(F.coalesce(F.sum("cents"), F.lit(0)).alias("cents"))
    )
    ranked = rev.join(
        F.broadcast(n), rev.c_nationkey == n.n_nationkey
    ).withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("n_name").orderBy("cents", "c_custkey")
        ),
    )
    cnt = F.count(F.lit(1))
    sum_c = F.sum("cents")
    sum_rc = F.sum(F.col("rk") * F.col("cents"))
    return ranked.groupBy("n_name").agg(
        cnt.cast("long").alias("n_customers"),
        (F.round(sum_c.cast("double") / 100.0, 2) + F.lit(0.0)).alias(
            "total_revenue"
        ),
        (
            F.round(
                (2.0 * sum_rc) / (cnt * sum_c.cast("double"))
                - (cnt + F.lit(1.0)) / cnt,
                6,
            )
            + F.lit(0.0)
        ).alias("gini"),
    )


@register(
    "user_lifecycle_summary",
    """
    SELECT DISTINCT user_id,
           FIRST_VALUE(event_type) OVER w AS first_event,
           NTH_VALUE(event_type, 2) OVER w AS second_event,
           LAST_VALUE(event_type) OVER w AS last_event,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_events,
           CAST(FIRST_VALUE(ts) OVER w AS DATE) AS first_day,
           CAST(LAST_VALUE(ts) OVER w AS DATE) AS last_day
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    doc="Per-user lifecycle summary via the ordered-selection window "
    "family this registry had not yet exercised — first_value, "
    "nth_value(2), last_value over the full per-user frame (with "
    "the event_id tie-break all event windows in this repo use): "
    "first/second/last event types and first/last active days. "
    "last_value carries the classic footgun this query pins: the "
    "DEFAULT window frame ends at CURRENT ROW, making last_value "
    "return the current row; the explicit UNBOUNDED FOLLOWING frame "
    "is required on both engines, and the oracle would diverge "
    "instantly if either side lost it. One user_id exchange; the "
    "DISTINCT collapse reuses the window's partitioning.",
)
def user_lifecycle_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return e.select(
        "user_id",
        F.first("event_type").over(w).alias("first_event"),
        F.nth_value("event_type", 2).over(w).alias("second_event"),
        F.last("event_type").over(w).alias("last_event"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_events"),
        F.to_date(F.first("ts").over(w)).alias("first_day"),
        F.to_date(F.last("ts").over(w)).alias("last_day"),
    ).distinct()


@register(
    "copurchase_hop_distance",
    """
    WITH b AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), pairs AS (
      SELECT a.l_partkey AS pa, c.l_partkey AS pb
      FROM b a JOIN b c
        ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
    ), e0 AS (
      SELECT pa, pb FROM pairs GROUP BY pa, pb HAVING COUNT(*) >= 2
    ), e AS MATERIALIZED (
      SELECT pa, pb FROM e0 UNION ALL SELECT pb, pa FROM e0
    ), h0 AS (
      SELECT MIN(pa) AS node FROM e
    ), h1 AS MATERIALIZED (
      SELECT DISTINCT e.pb AS node FROM e JOIN h0 ON e.pa = h0.node
    ), h2 AS MATERIALIZED (
      SELECT DISTINCT e.pb AS node FROM e JOIN h1 ON e.pa = h1.node
    ), h3 AS (
      SELECT DISTINCT e.pb AS node FROM e JOIN h2 ON e.pa = h2.node
    )
    SELECT node, CAST(MIN(hop) AS INT) AS hop
    FROM (
      SELECT node, 0 AS hop FROM h0
      UNION ALL SELECT node, 1 FROM h1
      UNION ALL SELECT node, 2 FROM h2
      UNION ALL SELECT node, 3 FROM h3
    ) GROUP BY node
    """,
    doc="Bounded BFS over the co-purchase graph: hop distance 0..3 "
    "from the smallest part key in the support>=2 edge set, "
    "completing the graph family (connected components = "
    "dedup_clusters, centrality = similarity_pagerank, local "
    "clustering = copurchase_triangles, traversal = this). Each hop "
    "is one frontier-to-edges equi-join on the symmetric edge list; "
    "min-hop-per-node over the unioned levels makes revisits "
    "harmless without a visited-set anti-join, so the unrolled "
    "3-round plan is exactly the DuckDB CTE chain and the per-round "
    "work is bounded by frontier x degree — the Pregel round shape, "
    "here as plain relational joins. At 100 TB one adds the "
    "visited-set semi-join once frontiers stop growing; at bounded "
    "depth the min-hop collapse is cheaper than the extra join.",
)
def copurchase_hop_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, e0 = copurchase_edges(spark, sf_dir)
    # Round-17 (guide §2.4): symmetrize with ONE scan — the former
    # union of two selects evaluated the (self-join) edge lineage
    # twice when the persist materialized.
    e = (
        e0.select(
            F.explode(
                F.array(
                    F.struct(F.col("pa"), F.col("pb")),
                    F.struct(F.col("pb").alias("pa"), F.col("pa").alias("pb")),
                )
            ).alias("s")
        )
        .select("s.pa", "s.pb")
        .persist()
    )
    levels = [e.agg(F.min("pa").alias("node"))]
    for _ in range(3):
        frontier = levels[-1].select(F.col("node").alias("f"))
        nxt = (
            e.join(frontier, e.pa == F.col("f"))
            .select(F.col("pb").alias("node"))
            .distinct()
        )
        levels.append(nxt)
    out = None
    for hop, lvl in enumerate(levels):
        tagged = lvl.select("node", F.lit(hop).alias("hop"))
        out = tagged if out is None else out.unionByName(tagged)
    result = out.groupBy("node").agg(F.min("hop").cast("int").alias("hop"))
    return hold(result, e, li, CheckpointHandle(e0))


@register(
    "maintenance_end_to_end",
    f"""
    WITH tagged AS (
      SELECT o_orderkey, o_custkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             {_CDC_BUCKET} AS b
      FROM orders
    ), base AS (
      SELECT o_orderkey, o_custkey, cents FROM tagged WHERE b <> 0
    ), changes AS (
      SELECT o_orderkey, o_custkey, 'I' AS op, 1 AS seq, cents AS new_cents
      FROM tagged WHERE b = 0
      UNION ALL
      SELECT o_orderkey, o_custkey, 'U', 1, (cents * 110) // 100
      FROM tagged WHERE b = 1
      UNION ALL
      SELECT o_orderkey, o_custkey, 'U', 1, (cents * 110) // 100
      FROM tagged WHERE b = 2
      UNION ALL
      SELECT o_orderkey, o_custkey, 'U', 2, (cents * 120) // 100
      FROM tagged WHERE b = 2
      UNION ALL
      SELECT o_orderkey, o_custkey, 'D', 1, NULL
      FROM tagged WHERE b = 3
    ), latest AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) rn
        FROM changes
      ) WHERE rn = 1
    ), merged AS MATERIALIZED (
      SELECT COALESCE(b.o_orderkey, l.o_orderkey) AS o_orderkey,
             COALESCE(b.o_custkey, l.o_custkey) AS o_custkey,
             CASE WHEN l.op IN ('U','I') THEN l.new_cents
                  ELSE b.cents END AS cents,
             CASE WHEN l.op IS NULL THEN 0 ELSE 1 END AS touched
      FROM base b FULL OUTER JOIN latest l ON b.o_orderkey = l.o_orderkey
      WHERE l.op IS NULL OR l.op <> 'D'
    ), inc_base AS (
      SELECT o_custkey % 10 AS grp, SUM(cents) AS c, COUNT(*) AS n
      FROM merged WHERE touched = 0 GROUP BY 1
    ), inc_delta AS (
      SELECT o_custkey % 10 AS grp, SUM(cents) AS c, COUNT(*) AS n
      FROM merged WHERE touched = 1 GROUP BY 1
    ), incremental AS (
      SELECT COALESCE(b.grp, d.grp) AS grp,
             COALESCE(b.c, 0) + COALESCE(d.c, 0) AS c,
             COALESCE(b.n, 0) + COALESCE(d.n, 0) AS n
      FROM inc_base b FULL OUTER JOIN inc_delta d ON b.grp = d.grp
    ), direct AS (
      SELECT o_custkey % 10 AS grp, SUM(cents) AS c, COUNT(*) AS n
      FROM merged GROUP BY 1
    )
    SELECT i.grp,
           CAST(i.n AS BIGINT) AS n_rows,
           ROUND(CAST(i.c AS DOUBLE) / 100.0, 2) + 0.0 AS total_price,
           CAST(i.c - d.c AS BIGINT) AS incr_minus_direct
    FROM incremental i JOIN direct d ON i.grp = d.grp
    """,
    doc="Composed maintenance DAG — the warehouse sibling of "
    "curation_end_to_end: apply the CDC change log to the snapshot "
    "(cdc_snapshot_merge semantics), refresh a per-group rollup "
    "INCREMENTALLY (untouched-rows partials + touched-rows partials, "
    "full-outer combined), and reconcile against the direct "
    "recompute over the merged snapshot — the audit column "
    "incr_minus_direct must be exactly zero for every group, and is "
    "part of the hashed result, so the driver check fails if the "
    "incremental refresh ever drifts from the ground truth. One "
    "chain, one deliberate persist of the merged snapshot (two "
    "consumers), integer-cents arithmetic end to end. At 100 TB the "
    "untouched partials are the stored MV state (never recomputed); "
    "only the touched partition's partials and the group-cardinality "
    "merge run per refresh.",
)
def maintenance_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    tagged = cdc_tagged_orders(spark, sf_dir)
    base = tagged.where(F.col("b") != 0).drop("b")
    ops = cdc_change_log(tagged)
    w = W.partitionBy("o_orderkey").orderBy(F.col("seq").desc())
    latest = (
        ops.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    op = F.col("l.op")
    merged = (
        base.alias("b")
        .join(latest.alias("l"), on="o_orderkey", how="full_outer")
        .where(op.isNull() | (op != "D"))
        .select(
            F.coalesce(F.col("b.o_custkey"), F.col("l.o_custkey")).alias(
                "o_custkey"
            ),
            F.when(op.isin("U", "I"), F.col("l.new_cents"))
            .otherwise(F.col("b.cents"))
            .alias("cents"),
            F.when(op.isNull(), 0).otherwise(1).alias("touched"),
        )
        .persist()
    )

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy((F.col("o_custkey") % 10).alias("grp")).agg(
            F.sum("cents").alias("c"), F.count(F.lit(1)).alias("n")
        )

    inc_base = rollup(merged.where(F.col("touched") == 0))
    inc_delta = rollup(merged.where(F.col("touched") == 1))
    incremental = (
        inc_base.alias("b")
        .join(inc_delta.alias("d"), on="grp", how="full_outer")
        .select(
            "grp",
            (
                F.coalesce(F.col("b.c"), F.lit(0))
                + F.coalesce(F.col("d.c"), F.lit(0))
            ).alias("c"),
            (
                F.coalesce(F.col("b.n"), F.lit(0))
                + F.coalesce(F.col("d.n"), F.lit(0))
            ).alias("n"),
        )
    )
    direct = rollup(merged)
    out = incremental.alias("i").join(direct.alias("d2"), "grp").select(
        "grp",
        F.col("i.n").cast("long").alias("n_rows"),
        (F.round(F.col("i.c").cast("double") / 100.0, 2) + F.lit(0.0)).alias(
            "total_price"
        ),
        (F.col("i.c") - F.col("d2.c")).cast("long").alias("incr_minus_direct"),
    )
    return hold(out, merged)


@register(
    "null_ordering_ranks",
    """
    SELECT user_id, event_id,
           ROUND(v, 2) + 0.0 AS v,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                ORDER BY v DESC NULLS LAST, event_id) AS BIGINT) AS rnk_desc,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                ORDER BY v ASC NULLS FIRST, event_id) AS BIGINT) AS rnk_asc
    FROM (
      SELECT user_id, event_id,
             CASE WHEN event_type = 'view' THEN NULL ELSE value END AS v
      FROM events
    )
    """,
    doc="Cross-engine null-ordering pin: purchase-path values are "
    "ranked per user with views NULLed out, once DESC NULLS LAST and "
    "once ASC NULLS FIRST — stated EXPLICITLY on both engines "
    "because the defaults disagree (Spark places nulls first on ASC "
    "and last on DESC; DuckDB's default is NULLS LAST for both "
    "directions), so an implicit ordering here would hash-mismatch "
    "the moment a null lands mid-partition. Both ranks carry the "
    "event_id tie-break. This is the registry's explicit regression "
    "for the trap; every other ranked query avoids nullable sort "
    "keys entirely.",
)
def null_ordering_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.when(F.col("event_type") == "view", F.lit(None))
        .otherwise(F.col("value"))
        .alias("v"),
    )
    w_desc = W.partitionBy("user_id").orderBy(
        F.col("v").desc_nulls_last(), F.col("event_id")
    )
    w_asc = W.partitionBy("user_id").orderBy(
        F.col("v").asc_nulls_first(), F.col("event_id")
    )
    return e.select(
        "user_id",
        "event_id",
        (F.round(F.col("v"), 2) + F.lit(0.0)).alias("v"),
        F.row_number().over(w_desc).cast("long").alias("rnk_desc"),
        F.row_number().over(w_asc).cast("long").alias("rnk_asc"),
    )


# Bloom layout: 4092 bits as 66 BIGINT words x 62 bits (bit 63 is
# avoided because DuckDB raises on 1::BIGINT << 63; bit 62 is the
# highest used), 3 md5-derived hash positions per key.
_BLOOM_BITS, _BLOOM_WPB, _BLOOM_K = 4092, 62, 3
_BLOOM_POS = (
    "CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || CAST({key} AS VARCHAR)),"
    " 1, 8)) AS BIGINT) % " + str(_BLOOM_BITS)
)


@register(
    "bloom_semi_join_audit",
    f"""
    WITH keys AS (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
    ), kpos AS (
      SELECT DISTINCT {_BLOOM_POS.format(key='c_custkey')} AS pos
      FROM keys, range(1, {_BLOOM_K} + 1) t(j)
    ), bloom AS MATERIALIZED (
      SELECT CAST(pos // {_BLOOM_WPB} AS INT) AS word,
             bit_or(CAST(1 AS BIGINT) << CAST(pos % {_BLOOM_WPB} AS INT)) AS bits
      FROM kpos GROUP BY 1
    ), probes AS (
      SELECT o.o_orderkey, o.o_custkey,
             {_BLOOM_POS.format(key='o_custkey')} AS pos
      FROM orders o, range(1, {_BLOOM_K} + 1) t(j)
    ), hits AS (
      SELECT o_orderkey, o_custkey,
             CAST(COUNT(*) FILTER (WHERE
               (b.bits & (CAST(1 AS BIGINT)
                 << CAST(pos % {_BLOOM_WPB} AS INT))) != 0) AS BIGINT) AS n_hit
      FROM probes p
      LEFT JOIN bloom b ON b.word = CAST(p.pos // {_BLOOM_WPB} AS INT)
      GROUP BY o_orderkey, o_custkey
    ), truth AS (
      SELECT o_orderkey,
             CAST(EXISTS (SELECT 1 FROM keys k
                          WHERE k.c_custkey = h.o_custkey) AS INT) AS is_member
      FROM hits h
    )
    SELECT CAST((SELECT COUNT(*) FROM keys) AS BIGINT) AS n_keys,
           CAST(COUNT(*) AS BIGINT) AS n_probe,
           CAST(COUNT(*) FILTER (WHERE n_hit = {_BLOOM_K}) AS BIGINT)
             AS n_candidates,
           CAST(SUM(is_member) AS BIGINT) AS n_members,
           CAST(COUNT(*) FILTER (WHERE n_hit = {_BLOOM_K} AND is_member = 0)
             AS BIGINT) AS n_false_pos,
           ROUND(CAST(COUNT(*) FILTER (WHERE n_hit = {_BLOOM_K}
                                         AND is_member = 0) AS DOUBLE)
                 / NULLIF(COUNT(*) FILTER (WHERE is_member = 0), 0), 6) + 0.0
             AS fp_rate
    FROM hits JOIN truth USING (o_orderkey)
    """,
    doc="Explicit Bloom-filter semi-join reduction with its own "
    "false-positive audit: the AUTOMOBILE-segment customer keys are "
    "folded into a 4092-bit filter (66 BIGINT words, 3 md5-derived "
    "positions per key — fully deterministic, so DuckDB rebuilds the "
    "identical bitmap), every order probes it, and the summary "
    "reports candidates vs exact membership and the observed FP "
    "rate. This is the MANUAL form of the runtime bloom Catalyst "
    "injects (pinned in tests/test_plan_quality.py): at 100 TB the "
    "66-row bitmap broadcasts to the probe side and eliminates the "
    "shuffle a plain semi-join would need — non-members are dropped "
    "map-side at the cost of fp_rate extra candidates (here bits/n "
    "= 4092/~300 keys, k=3 -> sub-1% expected). No bit 63 anywhere: "
    "DuckDB raises on 1::BIGINT << 63, so the layout uses 62 bits "
    "per word — the kind of cross-engine edge this registry pins "
    "rather than documents away. Zero-member guard via NULLIF. The "
    "build never collects: bit_or partial aggregates produce the "
    "bitmap distributed, exactly how a real engine builds its "
    "runtime filter.",
)
def bloom_semi_join_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "AUTOMOBILE")
        .select("c_custkey")
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    js = F.explode(F.sequence(F.lit(1), F.lit(_BLOOM_K))).alias("j")

    def pos_of(key: str) -> F.Column:
        h = F.substring(
            F.md5(
                F.concat_ws(
                    ":", F.col("j").cast("string"), F.col(key).cast("string")
                ).cast("binary")
            ),
            1,
            8,
        )
        return F.pmod(F.conv(h, 16, 10).cast("long"), F.lit(_BLOOM_BITS))

    kpos = c.select("c_custkey", js).select(
        pos_of("c_custkey").alias("pos")
    ).distinct()
    bit = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {_BLOOM_WPB} AS INT))"
    )
    bloom = kpos.groupBy(
        (F.col("pos") / _BLOOM_WPB).cast("int").alias("word")
    ).agg(F.bit_or(bit).alias("bits"))
    probes = o.select("o_orderkey", "o_custkey", js).select(
        "o_orderkey", "o_custkey", pos_of("o_custkey").alias("pos")
    )
    hits = (
        probes.join(
            F.broadcast(bloom),
            F.col("word") == (F.col("pos") / _BLOOM_WPB).cast("int"),
            "left",
        )
        .groupBy("o_orderkey", "o_custkey")
        .agg(
            F.sum(
                F.when(F.col("bits").bitwiseAND(bit) != 0, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_hit")
        )
    )
    member = hits.join(
        c.withColumnRenamed("c_custkey", "o_custkey").withColumn(
            "is_member", F.lit(1)
        ),
        "o_custkey",
        "left",
    ).na.fill({"is_member": 0})
    n_keys = c.agg(F.count(F.lit(1)).cast("long").alias("n_keys"))
    cand = F.col("n_hit") == _BLOOM_K
    summary = member.agg(
        F.count(F.lit(1)).cast("long").alias("n_probe"),
        F.sum(F.when(cand, 1).otherwise(0)).cast("long").alias("n_candidates"),
        F.sum("is_member").cast("long").alias("n_members"),
        F.sum(F.when(cand & (F.col("is_member") == 0), 1).otherwise(0))
        .cast("long")
        .alias("n_false_pos"),
        (
            F.round(
                F.sum(
                    F.when(cand & (F.col("is_member") == 0), 1).otherwise(0)
                ).cast("double")
                / F.nullif(
                    F.sum(F.when(F.col("is_member") == 0, 1).otherwise(0)),
                    F.lit(0),
                ),
                6,
            )
            + F.lit(0.0)
        ).alias("fp_rate"),
    )
    return n_keys.crossJoin(summary).select(
        "n_keys", "n_probe", "n_candidates", "n_members", "n_false_pos", "fp_rate"
    )

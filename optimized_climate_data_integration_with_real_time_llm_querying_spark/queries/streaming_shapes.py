"""Streaming-aggregation shapes, expressed in batch form for the
correctness oracle. The same plans run incrementally under Structured
Streaming in ``..streaming.rollup`` (watermark + tumbling window) —
tests assert streaming and batch agree.

The reference has no streaming at all (SURVEY.md §2.9); this is the
north-star's Structured-Streaming-integration capability.
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..operators.trend import holt_linear_state, round6

from ..catalog import load_table
from ..sources.climate import local_relation
from . import register


@register(
    "events_tumbling_daily",
    """
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           event_type,
           COUNT(*)             AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Tumbling 1-day window aggregation (batch form of the streaming "
    "rollup; F.window on a real cluster runs incrementally with a "
    "watermark — streaming/rollup.py).",
)
def events_tumbling_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").cast("date").alias("day"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "user_sessionization",
    """
    WITH gaps AS (
      SELECT user_id,
             CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           CAST(SUM(new_session) AS BIGINT) AS n_sessions,
           COUNT(*)         AS n_events
    FROM gaps
    GROUP BY user_id
    """,
    doc="Sessionization via lag(ts) gap > 30 min (the batch twin of "
    "streaming session_window). Per-user windows partition-prune "
    "cleanly; at scale this is one shuffle on user_id.",
)
def user_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    new_session = F.when(gap_us.isNull() | (gap_us > 1_800_000_000), 1).otherwise(0)
    return (
        e.withColumn("new_session", new_session)
        .groupBy("user_id")
        .agg(
            F.sum("new_session").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@register(
    "events_sliding_3d_daily",
    """
    WITH w AS (
      SELECT CAST(date_trunc('day', ts) AS DATE)
               - CAST(UNNEST(range(0, 3)) AS INTEGER) AS window_start,
             event_type, value
      FROM events
    )
    SELECT window_start, event_type,
           COUNT(*)             AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM w
    GROUP BY window_start, event_type
    """,
    doc="Sliding-window aggregation (3-day window, 1-day slide): each "
    "event lands in exactly 3 epoch-aligned daily windows. The "
    "streaming form is the same plan under a watermark; the oracle "
    "expands the window membership explicitly (date_trunc - i days). "
    "Complements events_tumbling_daily with the overlapping-window "
    "shape.",
)
def events_sliding_3d_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "3 days", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").cast("date").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "sensor_locf_fill",
    """
    WITH readings AS (
      SELECT event_id, user_id, ts, value,
             CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS reading
      FROM events
    )
    SELECT event_id, user_id,
           ROUND(last_value(reading IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING
           ), 2) AS filled_value,
           CAST(reading IS NULL AS INT) AS was_gap
    FROM readings
    """,
    doc="Gap-filling by last-observation-carried-forward per sensor "
    "stream — the missing-reading repair step climate station series "
    "need before aggregation (reference domain: ERA5 monthly means; "
    "dropouts simulated deterministically as event_id % 7). One "
    "window per key — partition-parallel, state is one value per "
    "stream; leading gaps stay null in both engines.",
)
def sensor_locf_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    reading = F.when(F.col("event_id") % 7 == 0, F.lit(None)).otherwise(
        F.col("value")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return e.withColumn("reading", reading).select(
        "event_id",
        "user_id",
        F.round(F.last("reading", ignorenulls=True).over(w), 2).alias(
            "filled_value"
        ),
        F.col("reading").isNull().cast("int").alias("was_gap"),
    )


@register(
    "sensor_linear_interp",
    """
    WITH readings AS (
      SELECT event_id, user_id, ts, epoch_us(ts) AS t, value,
             CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS reading
      FROM events
    ), ctx AS (
      SELECT event_id, user_id, t, reading,
             last_value(reading IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS pv,
             last_value(CASE WHEN reading IS NOT NULL THEN t END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS pt,
             first_value(reading IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN reading IS NOT NULL THEN t END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
      FROM readings
    )
    SELECT event_id, user_id,
           ROUND(CASE
             WHEN reading IS NOT NULL THEN reading
             WHEN pv IS NOT NULL AND nv IS NOT NULL AND nt > pt
               THEN pv + (nv - pv) * ((t - pt) / CAST(nt - pt AS DOUBLE))
             WHEN pv IS NOT NULL THEN pv
             ELSE nv END, 4) AS filled_value,
           CASE
             WHEN reading IS NOT NULL THEN 'exact'
             WHEN pv IS NOT NULL AND nv IS NOT NULL AND nt > pt THEN 'interp'
             WHEN pv IS NOT NULL THEN 'locf'
             WHEN nv IS NOT NULL THEN 'backfill'
             ELSE 'empty' END AS fill_method
    FROM ctx
    """,
    doc="Time-weighted linear interpolation over sensor gaps: a "
    "missing reading (same deterministic event_id % 7 dropouts as the "
    "LOCF twin) is reconstructed from its bracketing observations, "
    "weighted by temporal position — v_prev + (v_next - v_prev) * "
    "(t - t_prev)/(t_next - t_prev) — falling back to LOCF at stream "
    "tails and backfill at heads, with the method labeled per row. "
    "This is the standard upgrade over LOCF for climate-series repair "
    "(LOCF biases toward the stale side of long gaps). Two windows "
    "per stream key (forward + backward IGNORE NULLS), partition-"
    "parallel, state bounded per stream; no shuffle beyond the one "
    "per-key partitioning both windows share.",
)
def sensor_linear_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    reading = F.when(F.col("event_id") % 7 == 0, F.lit(None)).otherwise(
        F.col("value")
    )
    t = F.unix_micros("ts")
    # unix_micros(ts) is strictly order-equivalent to ts, so the
    # windows order by the already-projected t (ts is pruned away).
    fwd = (
        W.partitionBy("user_id")
        .orderBy("t", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    bwd = (
        W.partitionBy("user_id")
        .orderBy("t", "event_id")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    ctx = e.select(
        "event_id",
        "user_id",
        t.alias("t"),
        reading.alias("reading"),
    ).select(
        "event_id",
        "user_id",
        "t",
        "reading",
        F.last("reading", ignorenulls=True).over(fwd).alias("pv"),
        F.last(
            F.when(F.col("reading").isNotNull(), F.col("t")), ignorenulls=True
        ).over(fwd).alias("pt"),
        F.first("reading", ignorenulls=True).over(bwd).alias("nv"),
        F.first(
            F.when(F.col("reading").isNotNull(), F.col("t")), ignorenulls=True
        ).over(bwd).alias("nt"),
    )
    interp = F.col("pv") + (F.col("nv") - F.col("pv")) * (
        (F.col("t") - F.col("pt")) / (F.col("nt") - F.col("pt")).cast("double")
    )
    can_interp = (
        F.col("pv").isNotNull()
        & F.col("nv").isNotNull()
        & (F.col("nt") > F.col("pt"))
    )
    return ctx.select(
        "event_id",
        "user_id",
        F.round(
            F.when(F.col("reading").isNotNull(), F.col("reading"))
            .when(can_interp, interp)
            .when(F.col("pv").isNotNull(), F.col("pv"))
            .otherwise(F.col("nv")),
            4,
        ).alias("filled_value"),
        F.when(F.col("reading").isNotNull(), F.lit("exact"))
        .when(can_interp, F.lit("interp"))
        .when(F.col("pv").isNotNull(), F.lit("locf"))
        .when(F.col("nv").isNotNull(), F.lit("backfill"))
        .otherwise(F.lit("empty"))
        .alias("fill_method"),
    )


@register(
    "purchase_followup_counts",
    """
    WITH p AS (
      SELECT event_id, user_id, epoch_us(ts) AS t_us
      FROM events WHERE event_type = 'purchase'
    ), f AS (
      SELECT p.event_id, p.user_id,
             COUNT(e.event_id) AS n_follow,
             COALESCE(SUM(CASE WHEN e.event_type = 'error' THEN 1 END), 0) AS n_errors
      FROM p
      LEFT JOIN events e
        ON e.user_id = p.user_id
       AND epoch_us(e.ts) > p.t_us
       AND epoch_us(e.ts) <= p.t_us + 3600000000
      GROUP BY p.event_id, p.user_id
    )
    SELECT event_id, user_id,
           CAST(n_follow AS BIGINT) AS n_follow,
           CAST(n_errors AS BIGINT) AS n_errors
    FROM f
    """,
    doc="Bounded-interval join (follow-up analysis): for every "
    "purchase, count the same user's events — and errors specifically "
    "— in the following hour; purchases with no follow-up report "
    "zeros. Spark compiles a raw (key = key AND ts range) join into "
    "hash-join-on-key + filter, quadratic under hot keys, so the "
    "engine path runs operators/asof.interval_join_bucketed: the "
    "purchase interval explodes into the <= 2 hour-buckets it spans "
    "and the join becomes an equi-join on (user, bucket) with the "
    "range as a residual filter — fan-out bounded by temporal "
    "density, not per-key volume (the Databricks range-join-hint "
    "idea, built from primitives). Bucketing provably invisible in "
    "the result: the oracle IS the naive range join.",
)
def purchase_followup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import interval_join_bucketed

    e = load_table(spark, sf_dir, "events")
    base = e.select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("t_us")
    )
    purchases = base.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "t_us"
    )
    pairs = interval_join_bucketed(
        purchases,
        base,
        key="user_id",
        left_ts_us="t_us",
        right_ts_us="t_us",
        window_us=3_600_000_000,
        bucket_us=3_600_000_000,
    )
    counts = pairs.groupBy(
        F.col("l_event_id").alias("event_id"), F.col("l_user_id").alias("user_id")
    ).agg(
        F.count(F.lit(1)).alias("n_follow"),
        F.sum(
            F.when(F.col("r_event_type") == "error", 1).otherwise(0)
        ).alias("n_errors"),
    )
    return (
        purchases.select("event_id", "user_id")
        .join(counts, ["event_id", "user_id"], "left")
        .select(
            "event_id",
            "user_id",
            F.coalesce(F.col("n_follow"), F.lit(0)).alias("n_follow"),
            F.coalesce(F.col("n_errors"), F.lit(0)).alias("n_errors"),
        )
    )


@register(
    "time_weighted_daily_mean",
    """
    WITH r AS (
      SELECT user_id,
             CAST(date_trunc('day', ts) AS DATE) AS day,
             value,
             LEAD(epoch_us(ts)) OVER (
               PARTITION BY user_id, CAST(date_trunc('day', ts) AS DATE)
               ORDER BY ts, event_id
             ) - epoch_us(ts) AS dt_us
      FROM events
    )
    SELECT user_id, day,
           ROUND(SUM(value * dt_us) / SUM(dt_us), 4) AS tw_mean,
           CAST(COUNT(*) AS BIGINT) AS n_intervals
    FROM r
    WHERE dt_us IS NOT NULL
    GROUP BY user_id, day
    HAVING SUM(dt_us) > 0
    """,
    doc="Time-weighted daily mean over irregular readings: each value "
    "weighted by the microseconds until the next reading in the same "
    "(stream, day) — the resampling that makes unevenly-sampled "
    "sensor series comparable (an arithmetic mean over-weights burst "
    "periods; the reference's ERA5 pipeline sidesteps this only "
    "because its inputs arrive pre-gridded). lead() + two-phase "
    "aggregate, partition-parallel per stream-day.",
)
def time_weighted_daily_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    w = W.partitionBy("user_id", day.alias("day")).orderBy("ts", "event_id")
    dt_us = (
        F.lead(F.unix_micros("ts")).over(w) - F.unix_micros("ts")
    ).alias("dt_us")
    r = e.select("user_id", day.alias("day"), "value", dt_us)
    # HAVING SUM(dt_us) > 0 (mirrored in the oracle) pins the
    # degenerate all-readings-share-one-timestamp group, where 0/0
    # would otherwise surface engine-specific NaN/NULL semantics.
    return (
        r.filter(F.col("dt_us").isNotNull())
        .groupBy("user_id", "day")
        .agg(
            F.round(
                F.sum(F.col("value") * F.col("dt_us")) / F.sum("dt_us"), 4
            ).alias("tw_mean"),
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum("dt_us").alias("_sum_dt"),
        )
        .filter(F.col("_sum_dt") > 0)
        .drop("_sum_dt")
    )


@register(
    "sensor_gap_report",
    """
    WITH d AS (
      SELECT user_id, epoch_us(ts) AS t0,
             LEAD(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS t1
      FROM events
    )
    SELECT user_id,
           t0 AS gap_start_us,
           t1 AS gap_end_us,
           t1 - t0 AS gap_us
    FROM d
    WHERE t1 IS NOT NULL AND t1 - t0 > 86400000000
    """,
    doc="Downtime detection per sensor stream: report every "
    "inter-reading gap longer than 24 h (the complement of "
    "sensor_locf_fill — LOCF repairs small gaps, this surfaces the "
    "outages a repair must NOT paper over; the reference's ERA5 "
    "series assume gapless monthly grids, so this is the audit that "
    "guards that assumption). One lead() window per stream, "
    "partition-parallel, timestamps exported as epoch-us BIGINT "
    "(rule 3).",
)
def sensor_gap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    d = e.select(
        "user_id",
        F.unix_micros("ts").alias("t0"),
        F.lead(F.unix_micros("ts")).over(w).alias("t1"),
    )
    return (
        d.filter(F.col("t1").isNotNull() & (F.col("t1") - F.col("t0") > 86400000000))
        .select(
            "user_id",
            F.col("t0").alias("gap_start_us"),
            F.col("t1").alias("gap_end_us"),
            (F.col("t1") - F.col("t0")).alias("gap_us"),
        )
    )


@register(
    "sensor_zscore_anomalies",
    """
    WITH s AS (
      SELECT event_id, user_id, epoch_us(ts) AS ts_us, value,
             AVG(value) OVER w AS mu,
             STDDEV_POP(value) OVER w AS sigma,
             COUNT(*) OVER w AS n
      FROM events
      WINDOW w AS (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN 10 PRECEDING AND CURRENT ROW
      )
    )
    SELECT event_id, user_id, ts_us, value,
           ROUND((value - mu) / sigma, 4) AS zscore
    FROM s
    WHERE n >= 5 AND sigma > 0 AND ABS((value - mu) / sigma) > 2.5
    """,
    doc="Rolling z-score anomaly detection per sensor stream: each "
    "reading scored against the trailing 11-reading window (mean / "
    "population stddev), flagged when |z| > 2.5 with a warm-up guard "
    "of 5 readings and a zero-variance guard — the streaming-shaped "
    "outlier screen a climate ingest runs before aggregation. One "
    "frame window per stream, partition-parallel; identical frame "
    "semantics in both engines (ROWS BETWEEN, not RANGE).",
)
def sensor_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-10, W.currentRow)
    )
    s = e.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "value",
        F.avg("value").over(w).alias("mu"),
        F.stddev_pop("value").over(w).alias("sigma"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        s.filter((F.col("n") >= 5) & (F.col("sigma") > 0) & (F.abs(z) > 2.5))
        .select(
            "event_id",
            "user_id",
            "ts_us",
            "value",
            F.round(z, 4).alias("zscore"),
        )
    )


@register(
    "events_session_window_agg",
    """
    WITH marks AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w >= 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), islands AS (
      -- (ts, event_id) ordering matches the marks window: a ts tie at a
      -- session boundary must see its own new_s flag before summing, or
      -- the tied event lands in the previous session nondeterministically
      SELECT user_id, ts, value,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM marks
    )
    SELECT user_id,
           epoch_us(MIN(ts)) AS session_start,
           epoch_us(MAX(ts)) + 1800000000 AS session_end,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM islands
    GROUP BY user_id, sid
    """,
    doc="Native session windows (F.session_window, 30-min gap) — the "
    "merge-on-overlap primitive Structured Streaming uses for "
    "stateful sessionization — hash-checked against a first-"
    "principles gaps-and-islands oracle. Pins the boundary rule: "
    "session windows are half-open [start, last+gap), so an event "
    "arriving EXACTLY gap after the previous one starts a NEW "
    "session (>= in the oracle, where the lag twin "
    "user_sessionization uses >). Complements the lag-based twin "
    "with the API the streaming pipeline actually deploys.",
)
def events_session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.session_window("ts", "30 minutes").alias("sw"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.unix_micros("sw.start").alias("session_start"),
            F.unix_micros("sw.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


@register(
    "series_correlation_pairs",
    """
    WITH active AS (
      SELECT user_id FROM events GROUP BY user_id
      ORDER BY COUNT(*) DESC, user_id LIMIT 100
    ), daily AS (
      SELECT e.user_id, CAST(e.ts AS DATE) AS day, AVG(e.value) AS v
      FROM events e JOIN active a ON a.user_id = e.user_id
      GROUP BY e.user_id, CAST(e.ts AS DATE)
    ), joined AS (
      SELECT a.user_id AS id_a, b.user_id AS id_b,
             COUNT(*) AS n,
             SUM(a.v) AS sx, SUM(b.v) AS sy,
             SUM(a.v * a.v) AS sxx, SUM(b.v * b.v) AS syy,
             SUM(a.v * b.v) AS sxy
      FROM daily a JOIN daily b
        ON a.day = b.day AND a.user_id < b.user_id
      GROUP BY a.user_id, b.user_id
      HAVING COUNT(*) >= 10
         AND COUNT(*) * SUM(a.v * a.v) - SUM(a.v) * SUM(a.v) > 0
         AND COUNT(*) * SUM(b.v * b.v) - SUM(b.v) * SUM(b.v) > 0
    )
    SELECT id_a, id_b, CAST(n AS BIGINT) AS n_days,
           ROUND((n * sxy - sx * sy)
                 / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
             AS pearson_r
    FROM joined
    ORDER BY pearson_r DESC, id_a, id_b
    LIMIT 20
    """,
    doc="Time-series similarity search (the EDBT'19 streaming-series "
    "shape): top user pairs by Pearson correlation of their daily "
    "mean-value series. The day-equi-join generates pairs only "
    "among the top-100 most-active series (deterministic cut: "
    "count desc, id tie-break), bounding the pair stage at 100^2/2 "
    "regardless of corpus size — the activity-cut analogue of the "
    "LSH bucket guard. Correlation comes from one pass of "
    "sufficient statistics (n, sums, cross-products) with >= 10 "
    "shared days and zero-variance guards; ranked on the ROUNDED r "
    "with id tie-breaks (rule 4).",
)
def series_correlation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    active = (
        e.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "user_id")
        .limit(100)
        .select("user_id")
    )
    daily = (
        e.join(F.broadcast(active), "user_id")
        .groupBy("user_id", F.col("ts").cast("date").alias("day"))
        .agg(F.avg("value").alias("v"))
    )
    a = daily.select(F.col("user_id").alias("id_a"), "day", F.col("v").alias("va"))
    b = daily.select(F.col("user_id").alias("id_b"), "day", F.col("v").alias("vb"))
    n = F.count(F.lit(1))
    sx, sy = F.sum("va"), F.sum("vb")
    sxx, syy = F.sum(F.col("va") * F.col("va")), F.sum(F.col("vb") * F.col("vb"))
    sxy = F.sum(F.col("va") * F.col("vb"))
    joined = (
        a.join(b, "day")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            n.alias("n"),
            sx.alias("sx"),
            sy.alias("sy"),
            sxx.alias("sxx"),
            syy.alias("syy"),
            sxy.alias("sxy"),
        )
        .filter(
            (F.col("n") >= 10)
            & (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") > 0)
            & (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy") > 0)
        )
    )
    r = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return (
        joined.select(
            "id_a",
            "id_b",
            F.col("n").alias("n_days"),
            F.round(r, 6).alias("pearson_r"),
        )
        .orderBy(F.desc("pearson_r"), "id_a", "id_b")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Holt linear-trend forecasting (exponential smoothing with trend)
# --------------------------------------------------------------------------
_HOLT_T = 30          # the events table spans exactly 30 dense days
_HOLT_ALPHA = 0.75    # dyadic smoothing constants: products with the
_HOLT_BETA = 0.25     # 6-dp state round deterministically on both engines
_HOLT_H = 3


def _holt_oracle() -> str:
    a, b_, T = _HOLT_ALPHA, _HOLT_BETA, _HOLT_T
    parts = [
        f"""
    WITH daily AS MATERIALIZED (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ), seq AS MATERIALIZED (
      SELECT event_type, cnt,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn
      FROM daily
    ), s1 AS MATERIALIZED (
      SELECT y1.event_type,
             CAST(y1.cnt AS DOUBLE) AS l,
             CAST(y2.cnt - y1.cnt AS DOUBLE) AS b
      FROM seq y1 JOIN seq y2
        ON y2.event_type = y1.event_type AND y1.rn = 1 AND y2.rn = 2
    )"""
    ]
    for t in range(2, T + 1):
        parts.append(
            f""", s{t} AS MATERIALIZED (
      SELECT s.event_type,
             ROUND({a} * y.cnt + {1 - a} * (s.l + s.b), 6) AS l,
             ROUND({b_} * (ROUND({a} * y.cnt + {1 - a} * (s.l + s.b), 6) - s.l)
                   + {1 - b_} * s.b, 6) AS b
      FROM s{t - 1} s JOIN seq y
        ON y.event_type = s.event_type AND y.rn = {t}
    )"""
        )
    parts.append(
        f"""
    SELECT s.event_type, CAST(h.h AS INT) AS h,
           ROUND(s.l, 6) + 0.0 AS level,
           ROUND(s.b, 6) + 0.0 AS trend,
           ROUND(s.l + h.h * s.b, 6) + 0.0 AS forecast
    FROM s{T} s, (SELECT UNNEST(range(1, {_HOLT_H} + 1)) AS h) h
    """
    )
    return "".join(parts)


@register(
    "holt_forecast_daily",
    _holt_oracle(),
    doc="Holt linear-trend forecasting (double exponential smoothing, "
    "alpha=0.75 / beta=0.25) of the per-type daily event count, with "
    "a 3-day-ahead forecast — the FORECASTING capability the "
    "decomposition query (seasonal_decompose_daily) describes but "
    "does not predict. The 30-step state recursion l_t = a*y_t + "
    "(1-a)*(l+b); b_t = b*(l_t - l_{t-1}) + (1-b)*b_t-1 is "
    "inherently sequential: the oracle unrolls it as 30 generated "
    "CTEs; the engine collects the types x 30 daily counts with one "
    "Spark action and runs the recursion on the driver "
    "(operators/trend.holt_linear_state). Determinism: the smoothing "
    "constants are DYADIC (0.75/0.25 are exact in binary), every "
    "state value is re-rounded to 6 dp each step with Spark's "
    "round semantics, and both sides evaluate the same arithmetic "
    "in the same order — so the state trajectories agree exactly at "
    "every step, not just at the end. The guard raises loudly if "
    "the series is not the expected dense 30 days (a fixed-length "
    "recursion cannot silently adapt — the unigram lesson). Scale: "
    "the corpus appears only through the daily partial+final count; "
    "the driver sees types x 30 rows.",
)
def holt_forecast_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day")
    )
    daily = e.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    days = defaultdict(list)
    for event_type, day, cnt in daily.collect():
        days[event_type].append((day, cnt))
    # Step order is day order (a null day first, as in ascending SQL).
    series = {
        event_type: [c for _, c in sorted(pts, key=lambda p: (p[0] is not None, p[0]))]
        for event_type, pts in days.items()
    }
    # The recursion AND its loud density/min-length guard live in
    # operators/trend.holt_linear_state, shared with the NL planner's
    # trend path.
    state = holt_linear_state(
        series,
        "event_type",
        _HOLT_T,
        alpha=_HOLT_ALPHA,
        beta=_HOLT_BETA,
        series_desc="days",
    )
    rows = [
        (event_type, h, round6(l), round6(b), round6(l + h * b))
        for event_type, (l, b) in state.items()
        for h in range(1, _HOLT_H + 1)
    ]
    return local_relation(
        spark,
        rows,
        f"event_type {daily.schema['event_type'].dataType.simpleString()}, "
        "h int, level double, trend double, forecast double",
    )


@register(
    "diurnal_anomaly_profile",
    """
    WITH base AS (
      SELECT event_type, EXTRACT(hour FROM ts) AS hod,
             CAST(date_trunc('day', ts) AS DATE) AS day, value
      FROM events
    ), clim AS (
      SELECT event_type, hod, ROUND(AVG(value), 6) AS clim
      FROM base GROUP BY 1, 2
    )
    SELECT b.event_type, b.day,
           COUNT(*) AS n_events,
           ROUND(AVG(b.value - c.clim), 4) + 0.0 AS mean_anomaly,
           ROUND(AVG(ABS(b.value - c.clim)), 4) AS mean_abs_anomaly
    FROM base b JOIN clim c ON c.event_type = b.event_type AND c.hod = b.hod
    GROUP BY 1, 2
    """,
    doc="Climatology-and-anomaly — the core ERA5 preprocessing shape "
    "(ERA5_preprocessing.ipynb: monthly climatology subtracted from "
    "the series), expressed over the events twin's 30-day span as an "
    "HOUR-OF-DAY climatology per event type: one two-phase aggregate "
    "builds the periodic-key climatology (|types| x 24 rows — "
    "broadcast-sized at ANY corpus scale, exactly like a 12-row "
    "monthly climatology over a 100-TB archive), a broadcast join "
    "subtracts it from every event, and a second two-phase aggregate "
    "profiles the per-day anomaly (signed + absolute). The "
    "climatology is pinned to the 6-dp grid before subtraction so "
    "both engines difference the identical doubles.",
)
def diurnal_anomaly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    base = e.select(
        "event_type",
        F.hour("ts").alias("hod"),
        F.col("ts").cast("date").alias("day"),
        "value",
    )
    clim = base.groupBy("event_type", "hod").agg(
        F.round(F.avg("value"), 6).alias("clim")
    )
    return (
        base.join(F.broadcast(clim), ["event_type", "hod"])
        .groupBy("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.round(F.avg(F.col("value") - F.col("clim")), 4) + F.lit(0.0)).alias(
                "mean_anomaly"
            ),
            F.round(F.avg(F.abs(F.col("value") - F.col("clim"))), 4).alias(
                "mean_abs_anomaly"
            ),
        )
    )


@register(
    "anomaly_compare_event_types",
    """
    WITH base AS (
      SELECT event_type, EXTRACT(hour FROM ts) AS hod,
             EXTRACT(day FROM ts) AS dom, value
      FROM events WHERE event_type IN ('click', 'error')
    ), clim AS (
      SELECT event_type, hod, ROUND(AVG(value), 6) AS clim
      FROM base WHERE dom <= 20 GROUP BY 1, 2
    ), scored AS (
      SELECT b.event_type, COUNT(*) AS n_events,
             ROUND(AVG(ABS(b.value - c.clim)), 4) AS mean_abs_anomaly
      FROM base b JOIN clim c
        ON c.event_type = b.event_type AND c.hod = b.hod
      WHERE b.dom > 20 GROUP BY 1
    )
    SELECT event_type, n_events, mean_abs_anomaly,
           CAST(mean_abs_anomaly >= MAX(mean_abs_anomaly) OVER () AS INT)
             AS more_anomalous
    FROM scored
    """,
    doc="The g17 anomaly-COMPARISON composition (nl/pipeline.py: 'was "
    "2020 more anomalous in Dhaka than in Delhi?') as a registry twin "
    "over the events table — round 14's displacement-policy exercise. "
    "ONE plan, both compared keys, the SAME frozen climatology: the "
    "base window (days 1-20) trains a per-(type, hour) climatology "
    "(|types| x 24 rows, broadcast at any scale), the target window "
    "(days 21+) scores mean absolute anomaly per type in a single "
    "pass, and the verdict flag is a window max over the AGGREGATED "
    "frame — bounded at |compared types| = 2 rows at any corpus "
    "scale, so the SinglePartition exchange it implies is a 2-row "
    "exchange, and the events scan happens exactly once (a crossJoin "
    "against a 1-row max would replay the whole aggregate lineage). "
    "Climatology pinned to the 6-dp grid before differencing, scores "
    "to 4-dp, so both engines compare identical doubles.",
)
def anomaly_compare_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "error")
    )
    base = e.select(
        "event_type",
        F.hour("ts").alias("hod"),
        F.dayofmonth("ts").alias("dom"),
        "value",
    )
    clim = (
        base.filter(F.col("dom") <= 20)
        .groupBy("event_type", "hod")
        .agg(F.round(F.avg("value"), 6).alias("clim"))
    )
    scored = (
        base.filter(F.col("dom") > 20)
        .join(F.broadcast(clim), ["event_type", "hod"])
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg(F.abs(F.col("value") - F.col("clim"))), 4).alias(
                "mean_abs_anomaly"
            ),
        )
    )
    # window over the 2-row aggregate, not over data rows: bounded
    w = W.partitionBy(F.lit(1))
    return scored.select(
        "event_type",
        "n_events",
        "mean_abs_anomaly",
        (F.col("mean_abs_anomaly") >= F.max("mean_abs_anomaly").over(w))
        .cast("int")
        .alias("more_anomalous"),
    )

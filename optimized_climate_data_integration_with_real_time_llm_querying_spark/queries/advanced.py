"""Advanced operator coverage: as-of join, distinct counting,
quantiles, cube, ETL scalar functions (F1-F8), and IVF-style ANN.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators import similarity
from ..operators.asof import asof_join_last_ts
from . import register


def _warehouse_path(sf_dir: str, stem: str, ext: str = "") -> str:
    """Scratch path of a sink round trip: ``spark-warehouse/`` under the
    working directory (created if missing, as the sqlite, Excel and
    netCDF writers do not create parent directories), one file or
    directory per query and data directory."""
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    warehouse = os.path.join(os.getcwd(), "spark-warehouse")
    os.makedirs(warehouse, exist_ok=True)
    return os.path.join(warehouse, f"{stem}_{tag}{ext}")


@register(
    "asof_last_event_before_order",
    """
    SELECT o.o_orderkey, o.o_custkey, MAX(e.ts) AS asof_ts
    FROM orders o
    LEFT JOIN events e
      ON e.user_id = o.o_custkey AND e.ts <= o.o_orderdate
    WHERE o.o_orderkey <= 3000
    GROUP BY o.o_orderkey, o.o_custkey
    """,
    doc="As-of join (per order: latest event at-or-before order date "
    "for the same user) via the union+window technique — one shuffle "
    "on the key, no range-join blowup. The oracle states the same "
    "semantics as a relational join+max.",
)
def asof_last_event_before_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 3000)
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )
    events = load_table(spark, sf_dir, "events").select("user_id", "ts")
    out = asof_join_last_ts(
        orders,
        events,
        left_key="o_custkey",
        right_key="user_id",
        left_ts="o_orderdate",
        right_ts="ts",
        left_cols=["o_orderkey", "o_custkey"],
    )
    return out.select("o_orderkey", "o_custkey", "asof_ts")


@register(
    "count_distinct_custkeys",
    """
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(*)                  AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="Exact distinct counting (expand + two-phase aggregate in "
    "Spark). The approximate twin is approx_distinct_custkeys.",
)
def count_distinct_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "approx_distinct_custkeys",
    None,  # HLL++ estimates differ across engines -> rows-only
    doc="approx_count_distinct (HyperLogLog++): the 100 TB path for "
    "distinct counting — no expand, fixed-size sketch per group, "
    "mergeable map-side. Estimate differs from DuckDB's sketch by "
    "construction, so the check is rows-only.",
)
def approx_distinct_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("n_customers_approx")
    )


@register(
    "revenue_quantiles",
    """
    SELECT o_orderstatus,
           ROUND(quantile_cont(o_totalprice, 0.5), 2)  AS p50,
           ROUND(quantile_cont(o_totalprice, 0.9), 2)  AS p90,
           ROUND(quantile_cont(o_totalprice, 0.99), 2) AS p99
    FROM orders
    GROUP BY o_orderstatus
    """,
    doc="Exact quantiles (linear interpolation — Spark percentile == "
    "DuckDB quantile_cont). At 100 TB use percentile_approx: "
    "mergeable t-digest-style sketch instead of a full sort.",
)
def revenue_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 2).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 2).alias("p90"),
        F.round(F.expr("percentile(o_totalprice, 0.99)"), 2).alias("p99"),
    )


@register(
    "approx_revenue_quantiles",
    None,  # sketch-based estimates differ across engines -> rows-only
    doc="percentile_approx (mergeable quantile sketch): the 100 TB "
    "twin of revenue_quantiles — no per-group sort, map-side "
    "combinable, accuracy controlled by the 10000 parameter. Output is "
    "scalar columns (not an array) so the driver's row canonicalizer "
    "can sort/hash the cells.",
)
def approx_revenue_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.percentile_approx("o_totalprice", 0.5, 10000).alias("p50_approx"),
        F.percentile_approx("o_totalprice", 0.9, 10000).alias("p90_approx"),
        F.percentile_approx("o_totalprice", 0.99, 10000).alias("p99_approx"),
    )


@register(
    "cube_status_priority",
    """
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*)                    AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="CUBE over (status, priority) — all four grouping sets in one "
    "pass (SURVEY.md §2.4's suggested upgrade beyond the reference).",
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


@register(
    "etl_scalar_functions",
    """
    SELECT p_partkey,
           UPPER(p_brand)                                  AS brand_upper,
           TRIM(LOWER(p_type))                             AS type_norm,
           REPLACE(p_name, ' ', '_')                       AS name_snake,
           SUBSTR(p_type, 1, 8)                            AS type_prefix,
           LENGTH(p_name)                                  AS name_len,
           COALESCE(CAST(NULLIF(p_size, 0) AS DOUBLE), 0.0) AS size_filled,
           CAST(FLOOR(p_retailprice) AS BIGINT)            AS price_int,
           CONCAT(p_brand, '#', CAST(p_size AS VARCHAR))   AS brand_size
    FROM part
    """,
    doc="ETL scalar-function battery (SURVEY.md §2.8 F1/F3-F7): case "
    "mapping, trim, replace, substring, length, null-fill via "
    "coalesce, casts, concat — all whole-stage-codegen expressions.",
)
def etl_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.trim(F.lower("p_type")).alias("type_norm"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
        F.substring("p_type", 1, 8).alias("type_prefix"),
        F.length("p_name").alias("name_len"),
        F.coalesce(F.nullif(F.col("p_size"), F.lit(0)).cast("double"), F.lit(0.0)).alias(
            "size_filled"
        ),
        # floor() explicitly: bare double->int casts truncate in Spark
        # but round in DuckDB.
        F.floor("p_retailprice").cast("bigint").alias("price_int"),
        F.concat(F.col("p_brand"), F.lit("#"), F.col("p_size").cast("string")).alias(
            "brand_size"
        ),
    )


@register(
    "scalar_subquery_small_orders",
    """
    WITH part_avg AS (
      SELECT l_partkey, AVG(l_quantity) AS avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT l.l_partkey,
           COUNT(*)                       AS n_small,
           ROUND(SUM(l.l_extendedprice), 2) AS total_price
    FROM lineitem l JOIN part_avg p ON l.l_partkey = p.l_partkey
    WHERE l.l_quantity < 0.5 * p.avg_qty
    GROUP BY l.l_partkey
    """,
    doc="Correlated-scalar-subquery shape (TPC-H Q17: quantity below a "
    "fraction of the per-part average) decorrelated into an aggregate "
    "+ self-join — the rewrite Catalyst itself applies to correlated "
    "subqueries; expressing it directly keeps the plan obvious.",
)
def scalar_subquery_small_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem", rebalance=True)
    part_avg = li.groupBy("l_partkey").agg(F.avg("l_quantity").alias("avg_qty"))
    l = li.alias("l")
    return (
        l.join(part_avg.alias("p"), "l_partkey")
        .filter(F.col("l.l_quantity") < 0.5 * F.col("p.avg_qty"))
        .groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_small"),
            F.round(F.sum("l.l_extendedprice"), 2).alias("total_price"),
        )
    )


@register(
    "null_safe_equality",
    """
    SELECT COUNT(*) AS n_matching
    FROM (
      SELECT CASE WHEN p_size = 25 THEN p_brand END AS a FROM part
    ) x
    JOIN (
      SELECT CASE WHEN p_size = 25 THEN p_brand END AS b FROM part
    ) y ON x.a IS NOT DISTINCT FROM y.b
    """,
    doc="Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULLs "
    "match NULLs — the join shape needed when dedup keys contain "
    "missing values.",
)
def null_safe_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    key = F.when(F.col("p_size") == 25, F.col("p_brand"))
    x = p.select(key.alias("a"))
    y = p.select(key.alias("b"))
    return x.join(y, x.a.eqNullSafe(y.b)).agg(F.count(F.lit(1)).alias("n_matching"))


@register(
    "json_extract_props",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           ROUND(AVG(CAST(json_extract(props, '$.k') AS DOUBLE)), 4) AS avg_k
    FROM events
    GROUP BY event_type
    """,
    doc="JSON property extraction from the events.props payload "
    "(get_json_object — JVM-side JSON path, no UDF) + aggregate. At "
    "scale prefer from_json with an explicit schema once per column.",
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.avg(F.get_json_object("props", "$.k").cast("double")), 4
            ).alias("avg_k"),
        )
    )


@register(
    "ann_ivf_topk",
    """
    WITH e0 AS (
      SELECT vec_id, label, embedding, UNNEST(range(0, len(embedding))) AS dim0
      FROM embeddings
    ), e AS (
      SELECT vec_id, label, dim0 + 1 AS dim,
             CAST(embedding[dim0 + 1] AS DOUBLE) AS val
      FROM e0
    ), cent AS (
      SELECT label, dim, ROUND(AVG(val), 6) AS c
      FROM e GROUP BY label, dim
    ), q AS (
      SELECT dim, val FROM e WHERE vec_id = 0
    ), probe AS (
      SELECT label FROM (
        SELECT cent.label,
               ROUND(SUM(c * q.val)
                     / (sqrt(SUM(c * c)) * sqrt(SUM(q.val * q.val))), 6) AS c_sim
        FROM cent JOIN q ON q.dim = cent.dim
        GROUP BY cent.label
      ) ORDER BY c_sim DESC, label LIMIT 3
    ), qv AS (
      SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0
    )
    SELECT e2.vec_id,
           ROUND(list_cosine_similarity(CAST(e2.embedding AS DOUBLE[]),
                                        CAST(qv.q_vec AS DOUBLE[])), 6) AS cosine_sim
    FROM embeddings e2 JOIN probe p ON e2.label = p.label, qv
    WHERE e2.vec_id <> 0
    ORDER BY cosine_sim DESC, e2.vec_id
    LIMIT 10
    """,
    doc="IVF-style ANN: coarse-quantize by per-label centroids, probe "
    "the nprobe=3 nearest cells, brute-force only those cells. The "
    "candidate scan shrinks ~label_count/nprobe-fold (recall floor "
    "measured in tests/test_lsh_recall.py); centroid scoring touches "
    "only centroids. 100 TB path alongside hyperplane LSH. Unlike "
    "the hash-randomized LSH paths, every stage here is "
    "deterministic (6-dp rounded probe cosine, label tie-break, "
    "vec_id tie-break on the final cut), so the FULL two-stage "
    "search sits under a DuckDB oracle — centroids, probed cells, "
    "and the in-cell exact top-k are all hash-checked.",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings", rebalance=True)
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    # Centroid vectors: long form -> array per label (sorted by dim).
    cent = (
        similarity.label_centroids(e)
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "centroid"))),
                lambda s: s["centroid"],
            ).alias("centroid_vec")
        )
    )
    probe = (
        cent.crossJoin(F.broadcast(q))
        .select(
            "label",
            # 6-dp round + label tie-break pin the probed cell set
            # cross-engine (oracle-hygiene rule 4)
            F.round(
                similarity.cosine(
                    F.col("centroid_vec"), F.col("q_vec").cast("array<double>")
                ),
                6,
            ).alias("c_sim"),
        )
        .orderBy(F.col("c_sim").desc(), "label")
        .limit(3)
        .select("label")
    )
    cands = e.join(F.broadcast(probe), "label", "left_semi")
    return similarity.cosine_topk(cands, q, k=10)


_ZORDER_TERMS = "(((x >> 0) & 1) << 1) + (((y >> 0) & 1) << 0) + (((x >> 1) & 1) << 3) + (((y >> 1) & 1) << 2) + (((x >> 2) & 1) << 5) + (((y >> 2) & 1) << 4) + (((x >> 3) & 1) << 7) + (((y >> 3) & 1) << 6) + (((x >> 4) & 1) << 9) + (((y >> 4) & 1) << 8) + (((x >> 5) & 1) << 11) + (((y >> 5) & 1) << 10) + (((x >> 6) & 1) << 13) + (((y >> 6) & 1) << 12) + (((x >> 7) & 1) << 15) + (((y >> 7) & 1) << 14) + (((x >> 8) & 1) << 17) + (((y >> 8) & 1) << 16) + (((x >> 9) & 1) << 19) + (((y >> 9) & 1) << 18)"


@register(
    "events_zorder_keys",
    f"""
    WITH dims AS (
      SELECT event_id,
             (user_id % 1024) AS x,
             ((epoch_us(ts) // 86400000000) % 1024) AS y
      FROM events
    )
    SELECT event_id, x, y,
           CAST({_ZORDER_TERMS} AS BIGINT) AS zkey
    FROM dims
    """,
    doc="Morton (Z-order) layout keys over (user_id, day) — the "
    "multi-dimensional clustering key write_zorder_layout sorts by "
    "so Parquet footer pruning works on EITHER dimension. The "
    "10-bit interleave is pure bit arithmetic (disjoint bit "
    "positions, so sum == or), recomputed term-for-term by the "
    "DuckDB oracle: the layout key itself is hash-checked "
    "cross-engine, making the physical clustering decision "
    "auditable outside Spark.",
)
def events_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.ingest import zorder_value

    e = load_table(spark, sf_dir, "events")
    dims = e.select(
        "event_id",
        (F.col("user_id") % 1024).alias("x"),
        (F.expr("unix_micros(ts) div 86400000000") % 1024).alias("y"),
    )
    return dims.select(
        "event_id", "x", "y", zorder_value("x", "y", bits=10).alias("zkey")
    )


# 2-D box for the pruned-read query: ~10% of users x 4 of 30 days at
# sf0.01 — selective on both dimensions, non-empty at every test SF.
_PRUNE_USER_LO, _PRUNE_USER_HI = 0, 15
_PRUNE_DAY_LO, _PRUNE_DAY_HI = 19723, 19726


@register(
    "zorder_pruned_read",
    f"""
    SELECT event_id, user_id,
           CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
           ROUND(value, 2) AS value
    FROM events
    WHERE user_id BETWEEN {_PRUNE_USER_LO} AND {_PRUNE_USER_HI}
      AND (epoch_us(ts) // 86400000000)
          BETWEEN {_PRUNE_DAY_LO} AND {_PRUNE_DAY_HI}
    """,
    doc="The read half of the Z-order layout story: writes the events "
    "table Z-ordered on (user_id, day) via write_zorder_layout, reads "
    "it back through a selective 2-D box filter, and ASSERTS from the "
    "written Parquet footers that the box skips files (<= half of "
    ">= 4 files touched — the same min/max decision Spark's reader "
    "makes); that the filters also reach the scan (PushedFilters) is "
    "asserted in tests/test_plan_quality.py. Content is "
    "fully oracled: the roundtrip must preserve rows exactly, so "
    "DuckDB filters the ORIGINAL table — layout may never change "
    "results, only scan cost. This replaces the hand-rolled partition/"
    "shard routing the reference's client does (era5client.py:253-263) "
    "with footer-driven pruning any engine applies automatically.",
)
def zorder_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:

    from ..sources.ingest import box_pruning_stats, write_zorder_layout

    e = load_table(spark, sf_dir, "events")
    frame = e.select(
        "event_id",
        "user_id",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
        F.round("value", 2).alias("value"),
    )
    path = _warehouse_path(sf_dir, "_zorder_pruned_read")
    write_zorder_layout(frame, path, "user_id", "day", bits=16, n_files=16)

    preds = [
        ("user_id", _PRUNE_USER_LO, _PRUNE_USER_HI),
        ("day", _PRUNE_DAY_LO, _PRUNE_DAY_HI),
    ]
    touched, total = box_pruning_stats(path, preds)
    # Tiny inputs can collapse to a handful of files; the pruning
    # claim is only meaningful (and asserted) with >= 4 files.
    if total >= 4:
        assert touched <= total // 2, (
            f"z-order layout failed to prune: box touches {touched}/{total} files"
        )

    # The filter-pushdown property of this read (PushedFilters on
    # user_id/day reaching the parquet scan) is asserted in
    # tests/test_plan_quality.py::test_zorder_pruned_read_skips_files_and_pushes_filters
    # — plan introspection belongs in tests, not the production path.
    return (
        spark.read.parquet(path)
        .filter(
            F.col("user_id").between(_PRUNE_USER_LO, _PRUNE_USER_HI)
            & F.col("day").between(_PRUNE_DAY_LO, _PRUNE_DAY_HI)
        )
        .select("event_id", "user_id", "day", "value")
    )


@register(
    "revenue_percentile_disc",
    """
    WITH ranked AS (
      SELECT o_orderstatus, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                ORDER BY o_totalprice) AS rn,
             COUNT(*) OVER (PARTITION BY o_orderstatus) AS n
      FROM orders
    )
    SELECT o_orderstatus,
           ROUND(MAX(CASE WHEN rn = (50 * n + 99) // 100
                          THEN o_totalprice END), 2) + 0.0 AS p50,
           ROUND(MAX(CASE WHEN rn = (90 * n + 99) // 100
                          THEN o_totalprice END), 2) + 0.0 AS p90,
           ROUND(MAX(CASE WHEN rn = (99 * n + 99) // 100
                          THEN o_totalprice END), 2) + 0.0 AS p99
    FROM ranked GROUP BY o_orderstatus
    """,
    doc="DISCRETE percentiles (nearest-rank: the smallest data value "
    "whose rank reaches ceil(p*n)) — the interpolation-free twin of "
    "revenue_quantiles. Implemented from FIRST PRINCIPLES on both "
    "engines (row_number + ceil-rank pick) rather than the native "
    "percentile_disc/quantile_disc aggregates, because nearest-rank "
    "conventions are exactly the kind of cross-engine edge this "
    "registry pins explicitly; a test asserts Spark's native "
    "percentile_disc WITHIN GROUP agrees with the rank formula, so "
    "the native function is ALSO covered. Discrete percentiles "
    "return actual data values (exact, no FP interpolation) — for "
    "monetary SLAs that is usually the right statistic, and it is "
    "deterministic by construction. Same per-group window shape as "
    "the registry's other ranked queries; duplicate values make the "
    "picked VALUE unambiguous regardless of tie order.",
)
def revenue_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_totalprice"
    )
    w = W.partitionBy("o_orderstatus").orderBy("o_totalprice")
    ranked = o.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(W.partitionBy("o_orderstatus"))
    )

    def pick(p: float, name: str) -> F.Column:
        # ceil(p*n) in EXACT integer arithmetic: (p100*n + 99) div 100
        # with p100 = 100p. Floating ceil(0.9*n) picks rank p*n+1 when
        # n is a multiple of 10 because 0.9 is not binary-representable
        # (0.9*60 = 54.000000000000007 -> ceil 55); both engines use
        # the integer form so the documented nearest-rank convention
        # holds exactly on boundaries.
        p100 = round(p * 100)
        target = F.expr(f"CAST(({p100} * n + 99) div 100 AS BIGINT)")
        return (
            F.round(
                F.max(
                    F.when(F.col("rn") == target, F.col("o_totalprice"))
                ),
                2,
            )
            + F.lit(0.0)
        ).alias(name)

    return ranked.groupBy("o_orderstatus").agg(
        pick(0.5, "p50"), pick(0.9, "p90"), pick(0.99, "p99")
    )


@register(
    "compaction_roundtrip",
    """
    SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS price,
           o_orderdate
    FROM orders WHERE o_orderkey BETWEEN 1 AND 150
    """,
    doc="Registry gate for the table-maintenance API (VERDICT r9 item "
    "6): simulates the streaming-sink small-files debris (48 tiny "
    "parquet files), runs ingest.compact_small_files with "
    "preserve_order_cols so the rewrite is also a sorted layout "
    "(range-partition + sortWithinPartitions on o_orderkey — the "
    "write_sorted_layout plan in one pass), ASSERTS from the rewrite "
    "stats that the file count collapsed by >= 4x and from the "
    "written footers that a selective key range skips files, then "
    "reads the compacted table back through that range filter. "
    "Content is fully oracled against the ORIGINAL table: maintenance "
    "may never change results, only scan cost. This is the plain-"
    "parquet form of Delta OPTIMIZE / Iceberg rewrite_data_files — "
    "the standing job a 100 TB ingest needs (a 100k-file table spends "
    "more time scheduling than scanning).",
)
def compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import math

    from ..sources.ingest import box_pruning_stats, compact_small_files

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round("o_totalprice", 2).alias("price"),
        "o_orderdate",
    )
    small = _warehouse_path(sf_dir, "_compaction_small")
    compacted = _warehouse_path(sf_dir, "_compaction_out")
    o.repartition(48).write.mode("overwrite").parquet(small)

    in_bytes = sum(
        os.path.getsize(f)
        for f in glob.glob(os.path.join(small, "**", "*.parquet"), recursive=True)
        if os.path.isfile(f)
    )
    # Target ~4 output files at any SF: size the target from the
    # measured input, exactly how an operator would size a real job.
    stats = compact_small_files(
        spark,
        small,
        compacted,
        target_bytes=max(1, math.ceil(in_bytes / 4)),
        preserve_order_cols=["o_orderkey"],
    )
    assert stats["files_before"] == 48, stats
    assert stats["files_after"] * 4 <= stats["files_before"], (
        f"compaction failed to shrink: {stats}"
    )
    # Keys 1..150 = 10% of the table at the SMALLEST SF (sf0.001 has
    # 1,500 dense keys), so the probe is selective at every test SF.
    touched, total = box_pruning_stats(compacted, [("o_orderkey", 1, 150)])
    if total >= 4:
        assert touched <= total // 2, (
            f"sorted compaction failed to prune: range touches "
            f"{touched}/{total} files"
        )
    return (
        spark.read.parquet(compacted)
        .filter(F.col("o_orderkey").between(1, 150))
        .select("o_orderkey", "o_custkey", "price", "o_orderdate")
    )


@register(
    "jsonl_roundtrip",
    """
    SELECT doc_id, text, lang, source, n_chars FROM documents
    """,
    doc="Registry gate for the JSON-Lines source/sink (the "
    "interchange format LLM training corpora ship in): writes the "
    "documents table as JSONL, reads it back with a DECLARED schema "
    "under FAILFAST, and the oracle checks content against the "
    "ORIGINAL table — serialization may never change data, so every "
    "string must survive JSON escaping byte-for-byte and every "
    "number must round-trip exactly. The format is splittable "
    "(one object per line), so at 100 TB the read parallelizes "
    "per-line like CSV; schema declaration avoids the inference "
    "scan, and the ingest discipline (FAILFAST, or PERMISSIVE + "
    "_corrupt_record quarantine) is tested in tests/test_ingest.py.",
)
def jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:

    from ..sources.ingest import read_jsonl, write_jsonl

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    path = _warehouse_path(sf_dir, "_jsonl_roundtrip")
    write_jsonl(d, path)
    return read_jsonl(
        spark,
        path,
        schema="doc_id bigint, text string, lang string, source string, n_chars bigint",
    ).select("doc_id", "text", "lang", "source", "n_chars")


@register(
    "csv_roundtrip",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
           l_returnflag, l_linestatus, l_shipdate
    FROM lineitem
    """,
    doc="Registry gate for the CSV source/sink (S2 — the reference "
    "ingests its disaster-dollar dataset from CSV before loading "
    "SQLite): writes the lineitem measure columns as header'd CSV, "
    "reads them back with a DECLARED schema under FAILFAST, and the "
    "oracle checks content against the ORIGINAL table. Doubles "
    "round-trip via Java shortest-repr printing, timestamps via the "
    "shared microsecond format; one-record-per-line means the read "
    "splits across executors at any size. Free text stays out by "
    "design — newline-bearing columns belong to the JSONL/parquet "
    "gates; hostile-string quoting is pinned in tests/test_ingest.py.",
)
def csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:

    from ..sources.ingest import read_csv, write_csv

    cols = [
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    ]
    li = load_table(spark, sf_dir, "lineitem").select(*cols)
    path = _warehouse_path(sf_dir, "_csv_roundtrip")
    write_csv(li, path)
    return read_csv(
        spark,
        path,
        schema=(
            "l_orderkey bigint, l_linenumber int, l_quantity double, "
            "l_extendedprice double, l_returnflag string, "
            "l_linestatus string, l_shipdate timestamp"
        ),
    ).select(*cols)


@register(
    "orc_roundtrip",
    """
    SELECT doc_id, text, lang, source, n_chars FROM documents
    """,
    doc="Registry gate for the ORC source/sink — the second columnar "
    "interchange format (Hive-ecosystem lakes ship ORC where "
    "everything else ships parquet). Writes the documents table as "
    "ORC and reads it back; the oracle checks content against the "
    "ORIGINAL parquet table, so the two columnar codecs must agree "
    "byte-for-byte on every value including multi-line text. Spark's "
    "native reader gives ORC the same scan machinery as parquet "
    "(column pruning, predicate pushdown into row-group indexes, "
    "vectorized decode — pushdown plan-asserted in "
    "tests/test_plan_quality.py), so a 100 TB ORC lake needs no "
    "conversion pass before this engine queries it.",
)
def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:

    from ..sources.ingest import read_orc, write_orc

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    path = _warehouse_path(sf_dir, "_orc_roundtrip")
    write_orc(d, path)
    return read_orc(spark, path).select("doc_id", "text", "lang", "source", "n_chars")


@register(
    "sqlite_roundtrip",
    """
    SELECT c_custkey, c_name, CAST(c_nationkey AS BIGINT) AS c_nationkey,
           c_acctbal, c_mktsegment
    FROM customer
    """,
    doc="Registry gate for the SQLite source/sink pair (S1 — the "
    "reference's operational store; every one of its four servers "
    "opens a single .db file). Writes the customer dim into SQLite "
    "through the batched driver-side sink (toLocalIterator, never a "
    "full collect), reads it back through the S1 reader, and the "
    "oracle checks content against the ORIGINAL table. SQLite is "
    "single-file/single-writer by nature, so the sink is explicitly "
    "a hand-back-to-reference-tooling path for dim-sized results — "
    "parquet is the fact sink; the 32-bit nationkey widens to BIGINT "
    "through SQLite's dynamic typing, mirrored by the oracle's CAST.",
)
def sqlite_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:

    from ..sources.ingest import read_sqlite, write_sqlite

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    db = _warehouse_path(sf_dir, "_sqlite_roundtrip", ".db")
    write_sqlite(c, db, "customer")
    return read_sqlite(spark, db, "customer").select(
        "c_custkey",
        "c_name",
        F.col("c_nationkey").cast("bigint").alias("c_nationkey"),
        F.col("c_acctbal").cast("double").alias("c_acctbal"),
        "c_mktsegment",
    )


@register(
    "excel_roundtrip",
    """
    SELECT CAST(s_suppkey AS DOUBLE) AS s_suppkey, s_name,
           CAST(s_nationkey AS DOUBLE) AS s_nationkey, s_acctbal
    FROM supplier
    """,
    doc="Registry gate for the Excel source/sink pair (S3 — the "
    "reference's emissions notebooks all start at pd.read_excel on "
    "EDGAR/NOAA workbooks). Writes the supplier dim through the "
    "stdlib zip+OOXML writer (inline strings, shortest-repr number "
    "cells), reads it back through the S3 reader, and the oracle "
    "checks content against the ORIGINAL table. Excel's only numeric "
    "type is double, so integer keys widen — mirrored by the "
    "oracle's CASTs, exactly how the reference's to_sql roundtrip "
    "sees them. Like SQLite, a workbook is single-file by nature: "
    "this is the dim-sized hand-back path, streamed driver-side via "
    "toLocalIterator; facts stay columnar.",
)
def excel_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:

    from ..sources.ingest import read_excel, write_excel

    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    path = _warehouse_path(sf_dir, "_excel_roundtrip", ".xlsx")
    write_excel(s, path, sheet_name="supplier")
    return read_excel(spark, path, sheet=0).select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )


@register(
    "netcdf_roundtrip",
    """
    WITH c AS (
      SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
             event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ), d AS (SELECT DISTINCT day FROM c), t AS (SELECT DISTINCT event_type FROM c)
    SELECT d.day AS event_day, t.event_type,
           CAST(COALESCE(c.n, 0) AS BIGINT) AS n_events
    FROM d CROSS JOIN t
    LEFT JOIN c ON c.day = d.day AND c.event_type = t.event_type
    """,
    doc="Registry gate for the netCDF source/sink pair (S4 — the "
    "reference's ERA5 format, ERA5_preprocessing.ipynb cell2-4): the "
    "LAST source family to move from pytest-only onto the driver's "
    "content oracle. Aggregates events into a DENSE (day x type) "
    "count grid, writes it as a classic CDF-1 file through the "
    "pure-stdlib writer — day as the RECORD (unlimited) dimension, "
    "type names as an NC_CHAR variable — reads it back through the "
    "S4 reader, and the oracle recomputes the same zero-filled grid "
    "with a cross join, so header layout, record interleave, char "
    "decode, and value byte order must all survive byte-for-byte. "
    "Days are epoch-microsecond integer days (the events_ohlc_daily "
    "convention — timezone-proof on both engines). Like SQLite and "
    "Excel this is the dim-sized hand-back path: a dense coordinate "
    "grid is small by construction (the collect is |days| x |types| "
    "cells), while fact-sized data stays columnar.",
)
def netcdf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _netcdf_grid_roundtrip(spark, sf_dir, container="classic")


@register(
    "netcdf4_roundtrip",
    """
    WITH c AS (
      SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
             event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ), d AS (SELECT DISTINCT day FROM c), t AS (SELECT DISTINCT event_type FROM c)
    SELECT d.day AS event_day, t.event_type,
           CAST(COALESCE(c.n, 0) AS BIGINT) AS n_events
    FROM d CROSS JOIN t
    LEFT JOIN c ON c.day = d.day AND c.event_type = t.event_type
    """,
    doc="netcdf_roundtrip's HDF5 twin: the SAME dense (day x type) "
    "grid written through the round-12 pure-stdlib netCDF-4 WRITER "
    "(superblock v0, v1 object headers, old-style root group, "
    "dimension scales + DIMENSION_LIST through one global heap "
    "collection, fixed-width strings for the type names) and read "
    "back through the auto-detecting S4 reader, under the identical "
    "content oracle — so the engine hands grids back in BOTH "
    "containers the ERA5 ecosystem consumes (classic CDF for legacy "
    "tooling, HDF5 for xarray/CDS-era tooling).",
)
def netcdf4_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _netcdf_grid_roundtrip(spark, sf_dir, container="hdf5")


def _netcdf_grid_roundtrip(
    spark: SparkSession, sf_dir: str, container: str
) -> DataFrame:
    """Shared body of netcdf_roundtrip (classic CDF-1) and
    netcdf4_roundtrip (HDF5): the same dense (day x type) count grid
    through whichever S4 WRITER, read back through the auto-detecting
    S4 reader — both containers must survive the identical content
    oracle."""

    import numpy as np

    from ..sources.ingest import read_netcdf

    ev = load_table(spark, sf_dir, "events")
    day = F.expr("unix_micros(ts) div 86400000000")
    cells = ev.groupBy(day.alias("day"), "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    obs = cells.collect()  # dim-sized: at most |days| x |types| rows
    if not obs:
        raise ValueError("netcdf_roundtrip: events table is empty")
    days = sorted({r["day"] for r in obs})
    types = sorted({r["event_type"] for r in obs})
    grid = np.zeros((len(days), len(types)), dtype=np.int32)
    di = {d: i for i, d in enumerate(days)}
    ti = {t: j for j, t in enumerate(types)}
    for r in obs:
        grid[di[r["day"]], ti[r["event_type"]]] = r["n"]
    strlen = max(len(t.encode("utf-8")) for t in types)
    names = np.array([t.encode("utf-8") for t in types], dtype=f"S{strlen}")
    if container == "classic":
        from ..sources.netcdf_writer import write_netcdf_classic as writer

        suffix = "nc"
    else:
        from ..sources.netcdf4_writer import write_netcdf4 as writer

        suffix = "nc4"
    path = _warehouse_path(sf_dir, "_netcdf_roundtrip", f".{suffix}")
    writer(
        path,
        dims=[("day", None), ("type", len(types)), ("strlen", strlen)],
        variables=[
            {
                "name": "day",
                "nc_type": 4,
                "dims": ["day"],
                "values": np.asarray(days, dtype=np.int32),
                "attrs": {"units": "days since 1970-01-01"},
            },
            {
                "name": "type",
                "nc_type": 4,
                "dims": ["type"],
                "values": np.arange(len(types), dtype=np.int32),
            },
            {
                "name": "type_name",
                "nc_type": 2,
                "dims": ["type", "strlen"],
                "values": names,
            },
            {
                "name": "n_events",
                "nc_type": 4,
                "dims": ["day", "type"],
                "values": grid,
            },
        ],
        gattrs={"title": "daily event counts by type"},
    )
    return read_netcdf(spark, path).select(
        F.col("day").cast("bigint").alias("event_day"),
        F.col("type_name").alias("event_type"),
        F.col("n_events").cast("bigint").alias("n_events"),
    )

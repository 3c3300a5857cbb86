"""Statistical analysis shapes (round 8, wave 9).

The reference's statistics end at SUM/AVG point lookups (SURVEY.md
§2.4); a data platform also answers *inferential* and *model-fitting*
questions in-engine. This module adds them with the repo's exactness
discipline — every statistic is computed from EXACT INTEGER power
sums / contingency counts, with floating point entering only in the
final closed-form expression (identical expression trees on both
engines), so results are bit-stable under any partitioning:

- chi-square independence audit (lang x source),
- closed-form OLS regression per group (normal equations from
  integer sums),
- higher-moment stats (variance / skewness from integer power sums;
  sqrt instead of pow so no libm divergence),
- A-priori frequent triples (L2-pruned candidate generation, true
  support counting).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..catalog import load_table
from ..lifecycle import CheckpointHandle, hold
from . import register


@register(
    "chi2_lang_source",
    """
    WITH obs AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
      FROM documents GROUP BY lang, source
    ), tot AS (
      SELECT lang, source, o,
             CAST(SUM(o) OVER (PARTITION BY lang) AS BIGINT) AS r,
             CAST(SUM(o) OVER (PARTITION BY source) AS BIGINT) AS c,
             CAST(SUM(o) OVER () AS BIGINT) AS n
      FROM obs
    ), cells AS (
      SELECT lang, source, o,
             ROUND(CAST(r AS DOUBLE) * c / n, 6) + 0.0 AS expected,
             ROUND((o - CAST(r AS DOUBLE) * c / n)
                   * (o - CAST(r AS DOUBLE) * c / n)
                   / (CAST(r AS DOUBLE) * c / n), 6) + 0.0 AS contrib
      FROM tot
    ), dims AS (
      SELECT CAST((COUNT(DISTINCT lang) - 1)
                  * (COUNT(DISTINCT source) - 1) AS BIGINT) AS dof
      FROM obs
    )
    SELECT lang, source, o AS observed, expected, contrib,
           ROUND(SUM(contrib) OVER (ORDER BY lang, source
                 ROWS BETWEEN UNBOUNDED PRECEDING
                 AND UNBOUNDED FOLLOWING), 4) + 0.0 AS chi2_total,
           (SELECT dof FROM dims) AS dof
    FROM cells
    """,
    doc="Chi-square independence audit of the lang x source "
    "contingency table — the categorical sibling of the KS length "
    "drift (length_drift_ks): is document language independent of "
    "provenance? Output is one row per cell (observed, expected, "
    "contribution) plus the total statistic and degrees of freedom "
    "on every row. Exactness: observed/row/col/grand totals are "
    "exact BIGINTs from one aggregation (the three margins come "
    "from windows over the CELL table — #langs x #sources rows, "
    "corpus-size independent — so no second pass over the data); "
    "each cell's contribution is one fixed double expression, "
    "pre-ROUNDed to 6 dp before the total so the cross-engine sum "
    "of ~100 cells agrees at the published 4 dp. At 100 TB the only "
    "full-data work is the partial+final cell count.",
)
def chi2_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("lang", "source")
    obs = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    )
    tot = obs.select(
        "lang",
        "source",
        "o",
        F.sum("o").over(W.partitionBy("lang")).cast("long").alias("r"),
        F.sum("o").over(W.partitionBy("source")).cast("long").alias("c"),
        F.sum("o").over(W.partitionBy()).cast("long").alias("n"),
    )
    e = F.col("r").cast("double") * F.col("c") / F.col("n")
    cells = tot.select(
        "lang",
        "source",
        "o",
        (F.round(e, 6) + F.lit(0.0)).alias("expected"),
        (F.round((F.col("o") - e) * (F.col("o") - e) / e, 6) + F.lit(0.0)).alias(
            "contrib"
        ),
    )
    dof = obs.agg(
        (
            (F.countDistinct("lang") - 1) * (F.countDistinct("source") - 1)
        )
        .cast("long")
        .alias("dof")
    )
    w_all = W.orderBy("lang", "source").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    return (
        cells.withColumn(
            "chi2_total", F.round(F.sum("contrib").over(w_all), 4) + F.lit(0.0)
        )
        .crossJoin(F.broadcast(dof))
        .select(
            "lang",
            "source",
            F.col("o").alias("observed"),
            "expected",
            "contrib",
            "chi2_total",
            "dof",
        )
    )


@register(
    "ols_order_size_price",
    """
    WITH xy AS (
      SELECT o.o_orderpriority,
             CAST(COUNT(l.l_orderkey) AS BIGINT) AS x,
             CAST(ROUND(o.o_totalprice) AS BIGINT) AS y
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderpriority, o.o_orderkey, o.o_totalprice
    ), sums AS (
      SELECT o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM xy GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, n,
           ROUND(CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                 / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE), 6) + 0.0 AS slope,
           ROUND((CAST(sy AS DOUBLE)
                  - CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                    / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) * sx)
                 / CAST(n AS DOUBLE), 4) + 0.0 AS intercept,
           ROUND(CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                 * CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                 / (CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                    * CAST(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE)),
                 6) + 0.0 AS r2
    FROM sums
    """,
    doc="Closed-form OLS per order priority: regress order price "
    "(whole dollars) on line-item count via the normal equations. "
    "Every power sum (Sx, Sy, Sxy, Sxx, Syy) is an EXACT BIGINT, "
    "and every cross term (n*Sxy - Sx*Sy, ...) is computed EXACTLY "
    "in wide integers — DECIMAL(38,0) on the Spark side, HUGEINT in "
    "the oracle — because n*Syy overflows int64 already at sf0.1 "
    "(~3e20 > 2^63; ANSI Spark raised mid-bench, which is exactly "
    "the failure mode this discipline exists to surface instead of "
    "silently wrapping). Each exact cross term converts to double "
    "ONCE (correctly rounded, hence identical on both engines) "
    "before the final divisions, whose expression trees match — "
    "slope/intercept/r2 are bit-stable under any partitioning, the "
    "property a naive avg-of-doubles regression loses. Two-phase "
    "aggregation throughout; the per-priority model table is 5 rows "
    "regardless of input size. The reference has no model fitting "
    "at all; its closest analytics are static SUM lookups "
    "(EDGARclient.py:233-246).",
)
def ols_order_size_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round("o_totalprice").cast("long").alias("y"),
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    xy = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority", "o_orderkey", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    x, y = F.col("x"), F.col("y")
    sums = xy.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).cast("long").alias("sx"),
        F.sum(y).cast("long").alias("sy"),
        F.sum(x * y).cast("long").alias("sxy"),
        F.sum(x * x).cast("long").alias("sxx"),
        F.sum(y * y).cast("long").alias("syy"),
    )
    dec = "decimal(38,0)"
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    nd, sxd, syd, sxyd, sxxd, syyd = (
        F.col(c).cast(dec) for c in ("n", "sx", "sy", "sxy", "sxx", "syy")
    )
    # Cross terms EXACT in 38-digit decimals — n*Syy overflows int64
    # already at sf0.1 (~3e20 > 2^63; caught live by the bench) —
    # then ONE correctly-rounded conversion to double per term.
    cov = (nd * sxyd - sxd * syd).cast("double")
    var_x = (nd * sxxd - sxd * sxd).cast("double")
    var_y = (nd * syyd - syd * syd).cast("double")
    slope = cov / var_x
    return sums.select(
        "o_orderpriority",
        "n",
        (F.round(slope, 6) + F.lit(0.0)).alias("slope"),
        (
            F.round((sy.cast("double") - slope * sx) / n.cast("double"), 4)
            + F.lit(0.0)
        ).alias("intercept"),
        (F.round(cov * cov / (var_x * var_y), 6) + F.lit(0.0)).alias("r2"),
    )


@register(
    "quantity_moments",
    """
    WITH sums AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s1,
             CAST(SUM(CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s2,
             CAST(SUM(CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s3
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           ROUND(CAST(s1 AS DOUBLE) / n, 6) + 0.0 AS mean_qty,
           ROUND(CAST(s2 AS DOUBLE) / n
                 - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n), 6)
             + 0.0 AS var_qty,
           ROUND((CAST(s3 AS DOUBLE) / n
                  - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
                  + 2.0 * (CAST(s1 AS DOUBLE) / n)
                        * (CAST(s1 AS DOUBLE) / n)
                        * (CAST(s1 AS DOUBLE) / n))
                 / ((CAST(s2 AS DOUBLE) / n
                     - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
                    * SQRT(CAST(s2 AS DOUBLE) / n
                           - (CAST(s1 AS DOUBLE) / n)
                             * (CAST(s1 AS DOUBLE) / n))), 6) + 0.0
             AS skewness
    FROM sums
    """,
    doc="Population mean / variance / skewness of line-item quantity "
    "per return flag, from EXACT integer power sums (quantities are "
    "integers <= 50, so S3 fits int64 past 10^13 rows): FP appears "
    "only in the closed-form moment expressions — and sqrt, which "
    "is IEEE-correctly-rounded on both engines, is used instead of "
    "pow(x, 1.5), which is libm-dependent and can differ by ulps. "
    "The standard built-in skewness() aggregate is NOT used on "
    "purpose: its streaming update order makes results partition-"
    "dependent at the last bit, exactly what this registry's "
    "oracle discipline forbids. One partial+final aggregate; 3-row "
    "output.",
)
def quantity_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_quantity").cast("long").alias("q")
    )
    q = F.col("q")
    sums = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(q).cast("long").alias("s1"),
        F.sum(q * q).cast("long").alias("s2"),
        F.sum(q * q * q).cast("long").alias("s3"),
    )
    n = F.col("n").cast("double")
    m1 = F.col("s1").cast("double") / n
    m2r = F.col("s2").cast("double") / n
    m3r = F.col("s3").cast("double") / n
    var = m2r - m1 * m1
    m3c = m3r - 3.0 * m1 * m2r + 2.0 * m1 * m1 * m1
    return sums.select(
        "l_returnflag",
        "n",
        (F.round(m1, 6) + F.lit(0.0)).alias("mean_qty"),
        (F.round(var, 6) + F.lit(0.0)).alias("var_qty"),
        (F.round(m3c / (var * F.sqrt(var)), 6) + F.lit(0.0)).alias("skewness"),
    )


@register(
    "frequent_triples",
    """
    WITH b AS MATERIALIZED (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), pairs AS (
      SELECT a.l_partkey AS pa, c.l_partkey AS pb
      FROM b a JOIN b c
        ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
    ), l2 AS MATERIALIZED (
      SELECT pa, pb FROM pairs GROUP BY pa, pb HAVING COUNT(*) >= 2
    ), cand AS MATERIALIZED (
      SELECT e1.pa AS a, e1.pb AS b2, e2.pb AS c
      FROM l2 e1
      JOIN l2 e2 ON e1.pb = e2.pa
      JOIN l2 e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
    )
    SELECT cd.a, cd.b2 AS b, cd.c,
           CAST(COUNT(*) AS BIGINT) AS support
    FROM cand cd
    JOIN b ba ON ba.l_partkey = cd.a
    JOIN b bb ON bb.l_partkey = cd.b2 AND bb.l_orderkey = ba.l_orderkey
    JOIN b bc ON bc.l_partkey = cd.c AND bc.l_orderkey = ba.l_orderkey
    GROUP BY cd.a, cd.b2, cd.c
    HAVING COUNT(*) >= 2
    """,
    doc="A-priori frequent triples over the co-purchase baskets: "
    "candidate (a,b,c) triples are generated ONLY where all three "
    "sub-pairs are frequent (the L2 support>=2 edge set — the "
    "antimonotonicity pruning that makes A-priori tractable; the "
    "candidate join is copurchase_triangles' shape), then TRUE "
    "support is counted by intersecting the three parts' basket "
    "lists per order and triples below the threshold are dropped. "
    "Completes the market-basket family: basket_part_affinity "
    "(pairs + lift) -> triangles (structure) -> this (k=3 "
    "itemsets). Scale: the expensive stage is candidate support "
    "counting, bounded by |candidates| x avg-basket-hits — and "
    "candidates are L2-pruned first, which is the entire point of "
    "the algorithm; at 100 TB the basket table shuffles once on "
    "l_orderkey and the three intersection joins reuse that "
    "partitioning.",
)
def frequent_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .warehouse import copurchase_edges

    li, l2 = copurchase_edges(spark, sf_dir)
    e1, e2, e3 = l2.alias("e1"), l2.alias("e2"), l2.alias("e3")
    cand = (
        e1.join(e2, F.col("e1.pb") == F.col("e2.pa"))
        .join(
            e3,
            (F.col("e3.pa") == F.col("e1.pa"))
            & (F.col("e3.pb") == F.col("e2.pb")),
        )
        .select(
            F.col("e1.pa").alias("a"),
            F.col("e1.pb").alias("b"),
            F.col("e2.pb").alias("c"),
        )
    )
    ba = li.alias("ba")
    bb = li.alias("bb")
    bc = li.alias("bc")
    sup = (
        cand.alias("cd")
        .join(ba, F.col("ba.l_partkey") == F.col("cd.a"))
        .join(
            bb,
            (F.col("bb.l_partkey") == F.col("cd.b"))
            & (F.col("bb.l_orderkey") == F.col("ba.l_orderkey")),
        )
        .join(
            bc,
            (F.col("bc.l_partkey") == F.col("cd.c"))
            & (F.col("bc.l_orderkey") == F.col("ba.l_orderkey")),
        )
        .groupBy("cd.a", "cd.b", "cd.c")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .where(F.col("support") >= 2)
    )
    out = sup.select("a", "b", "c", "support")
    return hold(out, li, CheckpointHandle(l2))

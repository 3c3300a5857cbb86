"""Deterministic, fully-oracled sketches: HyperLogLog and Count-Min.

The registry's two approximate aggregates (`approx_distinct_custkeys`,
`approx_revenue_quantiles`) wrap Spark's native HLL++/KLL and are
rows-only: their register layouts are engine-internal. These queries
run the sketches themselves, from the shared cores in
``operators/sketch.py`` over the md5 hash family (oracle-hygiene rule
6), so DuckDB recomputes every register and counter bit for bit and
the driver hash-checks the estimate and the ground truth beside it.
The streaming maintenance (``streaming/sketch_maintenance.py``) runs
the same cores, which is why streamed equals batch.

- `hll_distinct_md5`: HyperLogLog with p=8 / 256 registers, including
  the small-range linear-counting correction, grouped per order
  priority, with the exact distinct count and relative error beside
  it.
- `cms_heavy_hitters`: a Count-Min sketch with 4 salted rows x 512
  buckets over document tokens; the point-query minimum per token vs
  its exact count, top-15.

Scale notes (100 TB): both sketches are what you deploy when exact
distinct/frequency state no longer fits. The engine-side state is
(group x 256) registers / (4 x 512) counters regardless of input
size; inputs reach the aggregation as 8-byte hashes, partial
aggregation combines map-side, and the exact twins beside them are
the auditable baseline (at true scale you would sample the audit, as
minhash_estimate_vs_exact documents).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators import sketch
from . import register


@register(
    "hll_distinct_md5",
    """
    WITH h AS (
      SELECT o_orderpriority,
             CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 8))
                  AS BIGINT) AS h32
      FROM orders
    ), reg AS (
      SELECT o_orderpriority,
             CAST(FLOOR(h32 / 16777216) AS BIGINT) AS bucket,
             MAX(CASE WHEN h32 % 16777216 = 0 THEN 25
                      ELSE 25 - length(bin(h32 % 16777216)) END) AS m
      FROM h GROUP BY o_orderpriority, bucket
    ), z AS (
      SELECT o_orderpriority,
             CAST(256 - COUNT(*) AS BIGINT) AS v,
             (256 - COUNT(*)) * 1.0
               + SUM(1.0 / (CAST(1 AS BIGINT) << m)) AS zsum
      FROM reg GROUP BY o_orderpriority
    ), est AS (
      SELECT o_orderpriority, v,
             (0.7213 / (1.0 + 1.079 / 256)) * 256 * 256 / zsum AS e_raw
      FROM z
    ), ex AS (
      SELECT o_orderpriority,
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_exact
      FROM orders GROUP BY o_orderpriority
    )
    SELECT est.o_orderpriority AS priority, ex.n_exact,
           ROUND(CASE WHEN e_raw <= 640 AND v > 0
                      THEN 256 * LN(256.0 / v) ELSE e_raw END, 2)
             AS hll_estimate,
           ROUND(ABS(CASE WHEN e_raw <= 640 AND v > 0
                          THEN 256 * LN(256.0 / v) ELSE e_raw END
                     - ex.n_exact) / ex.n_exact, 4) AS rel_error
    FROM est JOIN ex ON ex.o_orderpriority = est.o_orderpriority
    """,
    doc="HyperLogLog distinct-count sketch, recomputed register by "
    "register in both engines: 32-bit md5-prefix hash, p=8 (top 8 "
    "bits route to 256 registers), register value = position of the "
    "leftmost 1-bit in the remaining 24 bits (via length(bin(x)), "
    "identical minimal-binary semantics in Spark and DuckDB), "
    "harmonic-mean raw estimate with Flajolet's alpha_256, and the "
    "small-range linear-counting correction (E<=2.5m with empty "
    "registers). 2^-M terms are exact dyadic doubles (all >= 2^-25, "
    "256 of them), so the register sum is order-independent — no FP "
    "nondeterminism. Grouped per o_orderpriority with exact distinct "
    "and relative error beside the estimate; "
    "tests/test_sketches.py asserts the 1.04/sqrt(m) error bound. "
    "The engine-side state is 256 registers per group regardless of "
    "input size — the sketch exists precisely for the 100 TB case "
    "where count-distinct state won't fit; duplicates hash "
    "identically so no pre-distinct pass is needed (map-side partial "
    "MAX combines do the shrinking).",
)
def hll_distinct_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderpriority", "o_custkey")
    est = sketch.hll_estimate(
        sketch.hll_registers(o, "o_orderpriority", "o_custkey")
    )
    ex = o.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.countDistinct("o_custkey").alias("n_exact")
    )
    e, n = F.col("estimate"), F.col("n_exact")
    return est.join(ex, "grp").select(
        F.col("grp").alias("priority"),
        "n_exact",
        F.round(e, 2).alias("hll_estimate"),
        F.round(F.abs(e - n) / n, 4).alias("rel_error"),
    )


@register(
    "cms_heavy_hitters",
    r"""
    WITH tc AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS n_exact
      FROM (
        SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
        FROM documents WHERE trim(text) <> ''
      ) GROUP BY token
    ), hashed AS (
      SELECT token, n_exact, r,
             CAST(('0x' || substr(md5(CAST(r AS VARCHAR) || '|' || token),
                                  1, 8)) AS BIGINT) % 512 AS bucket
      FROM tc, (SELECT unnest(range(0, 4)) AS r)
    ), sketch AS (
      SELECT r, bucket, CAST(SUM(n_exact) AS BIGINT) AS cell
      FROM hashed GROUP BY r, bucket
    ), est AS (
      SELECT h.token, h.n_exact, MIN(s.cell) AS cms_estimate
      FROM hashed h JOIN sketch s ON s.r = h.r AND s.bucket = h.bucket
      GROUP BY h.token, h.n_exact
    )
    SELECT token, cms_estimate, n_exact,
           cms_estimate - n_exact AS overestimate
    FROM est
    ORDER BY cms_estimate DESC, token
    LIMIT 15
    """,
    doc="Count-Min heavy hitters over document tokens: a 4-row x "
    "512-bucket sketch with md5-salted row hashes ('r|token'), "
    "point-query estimate = min over rows of the landed cell, "
    "reported beside the exact count for the top-15 (estimate-desc, "
    "token tie-break). CMS can only OVERestimate (collisions add); "
    "tests/test_sketches.py asserts estimate >= exact and the "
    "eps*N = (e/512)*N Markov bound. Plan shape: exact token counts "
    "feed the sketch (4 rows per distinct token, map-side "
    "combinable), the sketch is 2,048 cells REGARDLESS of corpus "
    "size, and the point-query join is keyed on (row, bucket) "
    "against those 2,048 cells. On the synthetic 31-token vocabulary "
    "every token is a heavy hitter; what the oracle checks is the "
    "full hash->cell->min arithmetic. At 100 TB the sketch build is "
    "one partial+final agg over hashes; the audit side (exact "
    "counts) is what you'd sample, as the doc of "
    "minhash_estimate_vs_exact spells out.",
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", rebalance=True)
    tc = sketch.token_counts(d)
    est = sketch.cms_point_query(tc, sketch.cms_cells(tc))
    return (
        est.select(
            "token",
            "cms_estimate",
            F.col("n").alias("n_exact"),
            (F.col("cms_estimate") - F.col("n")).alias("overestimate"),
        )
        .orderBy(F.desc("cms_estimate"), "token")
        .limit(15)
    )

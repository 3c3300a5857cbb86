"""HyperLogLog and Count-Min cores over the rule-6 md5 hash.

Each sketch's arithmetic is written once here and run by both the
batch registry queries (``queries/sketches.py``) and the streaming
maintenance (``streaming/sketch_maintenance.py``). A stream that runs
the batch query's own code equals the batch result by construction,
and the DuckDB oracles recompute every register and cell because the
only hash is :func:`dedup.md5_hash64`.

- HyperLogLog (Flajolet et al. 2007), p=8: the top 8 of md5_hash64's
  32 bits pick one of 256 registers, rho is the position of the
  leftmost 1-bit in the remaining 24 (via ``length(bin(x))``, the
  same minimal-binary semantics in Spark and DuckDB), and a register
  keeps its maximum rho. Registers merge by MAX.
- Count-Min (Cormode & Muthukrishnan 2005): 4 salted rows x 512
  buckets, row hash ``md5_hash64('r|key') % 512``. Cells merge by
  SUM; a point query is the minimum over rows of the landed cell.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import md5_hash64
from .text import tokens

_HLL_M = 256
_HLL_REM = 1 << 24
_HLL_RHO_MAX = 25
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / _HLL_M)

_CMS_ROWS = 4
_CMS_WIDTH = 512


def hll_registers(df: DataFrame, grp_col: str, key_col: str) -> DataFrame:
    """(grp, bucket, m): the registers of ``key_col`` per ``grp_col``
    value, one narrow aggregation whose partial MAX combines
    map-side. Duplicate keys hash identically, so no pre-distinct
    pass is needed."""
    h = df.select(F.col(grp_col).alias("grp"), md5_hash64(F.col(key_col)).alias("h32"))
    rem = F.col("h32") % _HLL_REM
    rho = F.when(rem == 0, F.lit(_HLL_RHO_MAX)).otherwise(
        _HLL_RHO_MAX - F.length(F.bin(rem))
    )
    return (
        h.select(
            "grp",
            F.floor(F.col("h32") / _HLL_REM).cast("long").alias("bucket"),
            rho.alias("rho"),
        )
        .groupBy("grp", "bucket")
        .agg(F.max("rho").alias("m"))
    )


def hll_estimate(registers: DataFrame) -> DataFrame:
    """(grp, estimate) from one (grp, bucket, m) row per register:
    the harmonic-mean raw estimate with alpha_256 and the small-range
    linear-counting correction (E <= 2.5m with empty registers),
    unrounded. The 2^-m terms are exact dyadic doubles (all >= 2^-25,
    at most 256 of them), so the sum is order-independent."""
    z = registers.groupBy("grp").agg(
        (_HLL_M - F.count(F.lit(1))).cast("long").alias("v"),
        (
            (_HLL_M - F.count(F.lit(1))) * F.lit(1.0)
            + F.sum(F.lit(1.0) / F.expr("shiftleft(CAST(1 AS BIGINT), m)"))
        ).alias("zsum"),
    )
    e_raw = F.lit(_HLL_ALPHA) * _HLL_M * _HLL_M / F.col("zsum")
    est = z.select("grp", "v", e_raw.alias("e_raw"))
    corrected = F.when(
        (F.col("e_raw") <= 2.5 * _HLL_M) & (F.col("v") > 0),
        F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / F.col("v")),
    ).otherwise(F.col("e_raw"))
    return est.select("grp", corrected.alias("estimate"))


def token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(token, n): exact token frequencies of the non-blank docs, the
    stream the Count-Min sketch summarizes."""
    return (
        docs.filter(F.trim(F.col(text_col)) != "")
        .select(F.explode(tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def cms_buckets(df: DataFrame, key_col: str = "token") -> DataFrame:
    """``df`` with one row per sketch row ``r`` and its ``bucket``:
    the row-hash explode shared by the cell builder and the point
    query."""
    rows = F.array(*[F.lit(i) for i in range(_CMS_ROWS)])
    salted = F.concat(F.col("r").cast("string"), F.lit("|"), F.col(key_col))
    return df.select("*", F.explode(rows).alias("r")).withColumn(
        "bucket", md5_hash64(salted) % _CMS_WIDTH
    )


def cms_cells(counts: DataFrame, key_col: str = "token", n_col: str = "n") -> DataFrame:
    """(r, bucket, cell): the sketch of (key, n) count rows. Cells
    from disjoint inputs SUM to the sketch of their union."""
    return (
        cms_buckets(counts, key_col)
        .groupBy("r", "bucket")
        .agg(F.sum(n_col).alias("cell"))
    )


def cms_point_query(
    keys: DataFrame, cells: DataFrame, key_col: str = "token"
) -> DataFrame:
    """Point query: ``keys`` with ``cms_estimate``, the minimum over
    rows of the landed cell (0 where no input touched the cell). Any
    other columns of ``keys`` are grouped through unchanged."""
    return (
        cms_buckets(keys, key_col)
        .join(cells, ["r", "bucket"], "left")
        .groupBy(*keys.columns)
        .agg(F.min(F.coalesce(F.col("cell"), F.lit(0))).alias("cms_estimate"))
    )

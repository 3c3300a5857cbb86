"""Streaming maintenance of mergeable sketches (HLL + Count-Min).

A micro-batch runs the batch query's own sketch code, the cores in
``operators/sketch.py`` that ``queries/sketches.py`` also runs, over
only its own rows, and the reader merges the partial sketches with
the sketch's own merge. So ``streamed == batch`` holds because both
sides run one implementation, not two copies kept in step; it is
checked cell for cell in tests/test_streaming_sketch.py.

The two sketches need different replay disciplines:

- HLL registers merge by element-wise MAX, so an APPEND-ONLY protocol
  is exactly-once under at-least-once delivery: a replayed
  micro-batch appends duplicate (grp, bucket, m) rows, and the
  MAX-merge at read time is idempotent to duplicates. No
  transactional sink, no dedup state: the algebra absorbs retries.
- Count-Min cells merge by SUM, which would double-count a replay,
  so each batch OVERWRITES its own batch-id-keyed directory instead.

(Contrast the MinHash index maintenance next door, which relies on
pair-level dedup downstream.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import sketch

# (grp, bucket, m) register rows for ONE batch of rows; merging
# across batches is MAX.
batch_registers = sketch.hll_registers


def register_writer(registers_path: str, grp_col: str, key_col: str):
    """foreachBatch function: append this micro-batch's registers.
    Append-only is enough — see the module docstring for why replays
    are harmless under MAX-merge."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_registers(batch_df, grp_col, key_col).write.mode(
            "append"
        ).parquet(registers_path)

    return write_batch


def run_hll_maintenance_available_now(
    stream: DataFrame,
    registers_path: str,
    checkpoint_path: str,
    grp_col: str,
    key_col: str,
) -> None:
    """Drain an availableNow stream through the register writer."""
    q = (
        stream.writeStream.foreachBatch(
            register_writer(registers_path, grp_col, key_col)
        )
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def estimate_from_registers(
    spark: SparkSession, registers_path: str
) -> DataFrame:
    """MAX-merge all appended register rows and apply the batch
    query's estimate: (grp, hll_estimate)."""
    reg = (
        spark.read.parquet(registers_path)
        .groupBy("grp", "bucket")
        .agg(F.max("m").alias("m"))
    )
    return sketch.hll_estimate(reg).select(
        "grp", F.round("estimate", 2).alias("hll_estimate")
    )


# ------------------------------------------------------------------
# Count-Min maintenance: the SUM-merged counterpart
# ------------------------------------------------------------------


def cms_batch_cells(batch_df: DataFrame, text_col: str = "text") -> DataFrame:
    """(r, bucket, cell) partial sketch for ONE micro-batch; summed
    partials equal the one-shot sketch of cms_heavy_hitters."""
    return sketch.cms_cells(sketch.token_counts(batch_df, text_col))


def cms_cell_writer(cells_path: str, text_col: str = "text"):
    """foreachBatch function: OVERWRITE this batch's own partition
    directory (cells_path/batch_id=N). Replays rewrite the same
    directory with the same deterministic bytes — idempotent by
    write discipline, since SUM-merge cannot absorb duplicates."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        cms_batch_cells(batch_df, text_col).write.mode("overwrite").parquet(
            f"{cells_path}/batch_id={batch_id}"
        )

    return write_batch


def run_cms_maintenance_available_now(
    stream: DataFrame, cells_path: str, checkpoint_path: str
) -> None:
    q = (
        stream.writeStream.foreachBatch(cms_cell_writer(cells_path))
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def cms_point_estimates(
    spark: SparkSession, cells_path: str, tokens_df: DataFrame
) -> DataFrame:
    """SUM-merge all batch partials, then point-query the given
    (token) rows: (token, cms_estimate)."""
    merged = (
        spark.read.parquet(cells_path)
        .groupBy("r", "bucket")
        .agg(F.sum("cell").alias("cell"))
    )
    return sketch.cms_point_query(tokens_df.select("token"), merged)

"""SparkSession factory tuned for this engine.

Local mode is one JVM with N threads; on a real cluster the same
configs hold (AQE handles post-shuffle coalescing and skew joins, so
``spark.sql.shuffle.partitions`` is a ceiling, not a fixed cost).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> int:
    """``SPARK_GRAFT_CPUS``, else the CPUs this process may run on (its
    affinity mask, not the host's count), so leaving the variable unset
    never oversubscribes the host."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def _default_driver_memory() -> str:
    """Half of physical memory, at most 16g: the driver JVM is the
    whole local-mode engine, and a heap larger than the host invites
    the kernel's OOM killer instead of Spark's own spill."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    return f"{min(16 * 1024, half_mb)}m"


def get_spark(app_name: str = "ocdi-spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    Settings chosen for 100 TB-scale habits that also behave in local
    mode. ``cpus`` defaults to ``default_cpus()``; the driver heap to
    ``SPARK_DRIVER_MEMORY``, else to half of physical memory (at most
    16g).

    - AQE on: runtime coalescing of small post-shuffle partitions,
      skew-join splitting, and dynamic join-strategy switching.
    - shuffle.partitions ~= cores locally; AQE coalesces down, and on
      a big cluster this would be raised (or left to AQE advisory
      sizes).
    - Arrow on: every Pandas UDF / toPandas crosses the JVM<->Python
      boundary in columnar batches.
    - UTC session timezone: deterministic timestamp semantics and
      parity with DuckDB oracle comparisons.
    """
    if cpus is None:
        cpus = default_cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet carries TIMESTAMP(NANOS) which Spark's parquet
        # reader rejects; read as long and convert in catalog.load_table
        # (micro-truncation matches DuckDB's ns->us behavior).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Spark 4 routes lower()/upper() under UTF8_BINARY through ICU
        # case mapping; ICU's internal locks serialize all executor
        # threads (observed: 32 tasks blocked ~90s in
        # CollationSupport$Lower.execBinaryICU). JVM case mapping is
        # lock-free and identical for the data handled here.
        .config("spark.sql.icu.caseMappings.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

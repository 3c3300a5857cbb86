"""Maintenance economics of the stored inverted-list index (round 17).

Times the three operations a deployed index actually runs, on one
scale twin in ONE session (the same-session pairing discipline):

- BUILD: write_ivf_index over the base corpus (one frozen coding
  pass + partitioned write);
- APPEND: write_ivf_index(mode="append") over an ingest batch of
  --batch-frac of the corpus with the SAME codebooks (FAISS add() —
  the nightly job; cost must be ~batch_frac of the build, since the
  coding scan reads only the new rows);
- SEARCH: search_ivf_index over the grown index (probe + partition-
  pruned read of the probed cells + LUT top-k), plus the probed-cell
  I/O fraction (bytes in probed partitions / total index bytes — the
  planner-enforced bound the PartitionFilters pin asserts
  structurally).

Usage: python scripts/ivf_index_probe.py [--dir .scale/sf10]
    [--cpus 32] [--batch-frac 0.1] [--nprobe 2] [--n-queries 8]

Prints one JSON line; pin the result in BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", default=".scale/sf10")
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument("--batch-frac", type=float, default=0.1)
    ap.add_argument("--nprobe", type=int, default=2)
    ap.add_argument("--n-queries", type=int, default=8)
    ap.add_argument(
        "--n-cells",
        type=int,
        default=32,
        help="coarse cells for the probe's index (default 32, NOT the "
        "registry's 8: at 8 cells a Q=8 x nprobe=2 probe union covers "
        "every cell and the pruning fraction reads 1.0 — production "
        "grows n_cells with the corpus precisely so it doesn't)",
    )
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from optimized_climate_data_integration_with_real_time_llm_querying_spark.catalog import (
        load_table,
    )
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.lifecycle import (
        release,
    )
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.clustering import (
        kmeans_assign,
        pq_assign,
    )
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.ivf_index import (
        search_ivf_index,
        write_ivf_index,
    )
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.queries.clustering import (
        _train_stride,
    )
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.session import (
        get_spark,
    )

    spark = get_spark("ivf-index-probe", cpus=args.cpus)
    emb = load_table(spark, os.path.abspath(args.dir), "embeddings", rebalance=True)
    n = emb.count()
    cut = int(n * (1.0 - args.batch_frac))
    base = emb.filter(F.col("vec_id") < cut)
    batch = emb.filter(F.col("vec_id") >= cut)

    stride = _train_stride(emb)
    cells = kmeans_assign(base, k=args.n_cells, n_iter=2, train_stride=stride)
    codes = pq_assign(base, m=8, k=16, n_iter=2, train_stride=stride)
    release(cells)
    release(codes)
    ci, pi = cells.centroids, codes.centroids

    tmp = tempfile.mkdtemp(prefix="ivfprobe_")
    path = os.path.join(tmp, "idx")
    # The ingest batch arrives as its OWN files in production; write
    # it out and append from that, so the append's coding scan reads
    # batch-sized input (a filter over the full corpus parquet would
    # still scan corpus-sized bytes and overstate append cost).
    batch_path = os.path.join(tmp, "ingest_batch")
    batch.write.parquet(batch_path)
    batch_df = spark.read.parquet(batch_path)
    # warm-up build (parquet cold-read + codegen), then the timed pair
    write_ivf_index(base, path, ci, pi, m=8)
    t0 = time.monotonic()
    write_ivf_index(base, path, ci, pi, m=8)
    wall_build = time.monotonic() - t0
    t0 = time.monotonic()
    write_ivf_index(batch_df, path, ci, pi, m=8, mode="append")
    wall_append = time.monotonic() - t0

    q = emb.orderBy("vec_id").limit(args.n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    walls = []
    probed_cells = -1
    for i in range(3):  # pass 0 = warm-up, then min-of-2
        t0 = time.monotonic()
        out = search_ivf_index(spark, path, q, nprobe=args.nprobe, topk=10)
        rows = out.count()
        dt = time.monotonic() - t0
        if i > 0:
            walls.append(dt)

    # I/O bound: bytes under probed partitions vs the whole code
    # table (recompute the probe set the same way search does).
    coarse = spark.read.parquet(path + "/coarse")
    qset = q.select(
        F.col("q_id"), F.posexplode("q_vec").alias("dim", "qval")
    ).select("q_id", "dim", F.col("qval").cast("double").alias("qval"))
    from pyspark.sql import Window as W

    qd = (
        qset.join(F.broadcast(coarse), "dim")
        .groupBy("q_id", "cluster")
        .agg(
            F.round(
                F.sum((F.col("qval") - F.col("cval")) * (F.col("qval") - F.col("cval"))),
                6,
            ).alias("d2")
        )
    )
    probed = sorted(
        {
            int(r["cluster"])
            for r in qd.withColumn(
                "rk",
                F.row_number().over(W.partitionBy("q_id").orderBy("d2", "cluster")),
            )
            .filter(F.col("rk") <= args.nprobe)
            .collect()
        }
    )
    probed_cells = len(probed)

    def _dirsize(p: str) -> int:
        tot = 0
        for root, _, files in os.walk(p):
            tot += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return tot

    total_bytes = _dirsize(path + "/codes")
    probed_bytes = sum(
        _dirsize(os.path.join(path, "codes", f"cluster={c}")) for c in probed
    )

    print(
        json.dumps(
            {
                "metric": "ivf_index_probe",
                "dir": args.dir,
                "n": n,
                "batch_frac": args.batch_frac,
                "nprobe": args.nprobe,
                "n_queries": args.n_queries,
                "wall_build_sec": round(wall_build, 2),
                "wall_append_sec": round(wall_append, 2),
                "append_over_build": round(wall_append / wall_build, 3),
                "wall_search_sec": round(min(walls), 2),
                "search_rows": rows,
                "probed_cells": probed_cells,
                "probed_bytes_frac": round(probed_bytes / total_bytes, 4),
                "index_bytes": total_bytes,
                "load_1m": round(os.getloadavg()[0], 2),
            }
        )
    )


if __name__ == "__main__":
    main()

"""Inverted-list / probe balance measurement for the IVF family —
the 100-TB ANN failure-mode audit (VERDICT r12 ask #3).

At cluster scale each IVF inverted list maps to a shuffle partition
of the candidate semi-join in ivf_pq_topk / ivf_residual_pq_topk; a
hot list means one straggler task scans a disproportionate share of
the corpus. The isotropic embedding twin CANNOT exhibit this (k-means
over a uniform sphere splits evenly); the clustered Zipf-occupancy
twin (gen_scale_data --embed-skew) can. This script measures, per
scale directory:

- list occupancy of the registry-setting coarse quantizer
  (kmeans_assign, k=8, n_iter=2): max/mean ratio — FAISS's
  imbalance_factor numerator — plus the full size vector;
- probe-weighted scan share over a query sample: for each sampled
  query, the fraction of the corpus its nprobe=2 probed lists
  actually scan (ideal = nprobe/k = 0.25); reported as mean and max
  over queries — the straggler factor a 1000-executor run would see.

Prints one JSON line per scale dir. Usage:
  python scripts/ann_skew_probe.py --dirs .scale/skew-sf0.1x \
      .scale/skew-sf1 [--cpus 32] [--queries 32]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

K = 8          # registry coarse-quantizer settings (queries/clustering.py)
N_ITER = 2
NPROBE = 2


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dirs", nargs="+", required=True)
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument("--queries", type=int, default=32, help="query sample size")
    ap.add_argument(
        "--balanced",
        action="store_true",
        help="use kmeans_assign_balanced (hot-list splitting) instead "
        "of the plain coarse quantizer",
    )
    ap.add_argument(
        "--train-cap",
        type=int,
        default=None,
        help="bound the quantizer TRAINING set at ~N points "
        "(stride = ceil(n/N), the registry's TRAIN_CAP mechanism) — "
        "measures whether capped training preserves the list "
        "structure the skew findings rest on",
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
        kmeans_assign_balanced,
    )
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.session import (
        get_spark,
    )

    spark = get_spark("ann-skew-probe", cpus=args.cpus)
    for d in args.dirs:
        d = os.path.abspath(d)
        emb = load_table(spark, d, "embeddings", rebalance=True)
        n = emb.count()
        import math

        stride = (
            max(1, math.ceil(n / args.train_cap)) if args.train_cap else 1
        )
        cells = (
            kmeans_assign_balanced(emb, K, N_ITER, train_stride=stride)
            if args.balanced
            else kmeans_assign(emb, K, N_ITER, train_stride=stride)
        )
        occ_rows = cells.groupBy("cluster").count().collect()
        release(cells)
        occ = {int(r["cluster"]): int(r["count"]) for r in occ_rows}
        # cell ids are not contiguous after hot-list splitting; size
        # stats come from the realized cells
        sizes = sorted(occ.values(), reverse=True)
        mean_sz = n / len(occ)
        imbalance = max(sizes) / mean_sz

        # probe-weighted scan share: each sampled query's NPROBE
        # nearest centroids, weighted by those lists' sizes. The
        # query->centroid distance is reproduced with the same
        # exploded-join shape the operator uses; the sample is the
        # lowest vec_ids (deterministic; query 0 is the registry's).
        cent = spark.createDataFrame(cells.centroids, "cluster int, dim int, cval double")
        qs = (
            emb.orderBy("vec_id")
            .limit(args.queries)
            .select("vec_id", F.posexplode("embedding").alias("dim", "qval"))
            .select("vec_id", "dim", F.col("qval").cast("double").alias("qval"))
        )
        d2 = (
            qs.join(F.broadcast(cent), "dim")
            .groupBy("vec_id", "cluster")
            .agg(
                F.sum(
                    (F.col("qval") - F.col("cval")) * (F.col("qval") - F.col("cval"))
                ).alias("d2")
            )
        )
        from pyspark.sql import Window as W

        probed = (
            d2.withColumn(
                "rk",
                F.row_number().over(
                    W.partitionBy("vec_id").orderBy("d2", "cluster")
                ),
            )
            .filter(F.col("rk") <= NPROBE)
            .select("vec_id", "cluster")
            .collect()
        )
        shares: dict[int, float] = {}
        for r in probed:
            shares[r["vec_id"]] = shares.get(r["vec_id"], 0.0) + occ.get(r["cluster"], 0) / n
        vals = sorted(shares.values())
        mean_share = sum(vals) / len(vals)
        print(
            json.dumps(
                {
                    "metric": "ivf_probe_balance",
                    "dir": os.path.basename(d),
                    "n": n,
                    "k": K,
                    "n_cells": len(occ),
                    "balanced": bool(args.balanced),
                    "train_stride": stride,
                    "nprobe": NPROBE,
                    "list_sizes": sizes,
                    "imbalance_factor": round(imbalance, 3),
                    "ideal_scan_share": round(NPROBE / len(occ), 3),
                    "mean_scan_share": round(mean_share, 3),
                    "max_scan_share": round(max(vals), 3),
                    "n_query_sample": len(vals),
                },
                separators=(",", ":"),
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()

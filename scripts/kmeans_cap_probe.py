"""Output-quality cost of TRAIN_CAP for the clustering-OUTPUT family
(VERDICT r14 ask #4).

The round-14 TRAIN_CAP change deliberately left kmeans_embedding_clusters
and semantic_dedup_prune on FULL training: their output IS the
clustering, so a capped training changes the deliverable, not just an
index in front of an exact re-rank. But at 100 TB their Lloyd
iterations are the same corpus-proportional scan TRAIN_CAP removed
elsewhere. This probe measures what the cap would actually cost on the
scale twins, the analogue of the round-14 recall table:

- WALL per variant (full vs capped training), both run in ONE session
  back-to-back (the same-session pairing discipline this host's
  phase-of-session drift forces — see BASELINE.md benching notes);
- INERTIA (sum of final-assignment dist2) per variant and the delta %
  — the k-means objective itself;
- ASSIGNMENT CHURN under the OPTIMAL cluster-label matching: the two
  trainings may converge to permuted (or genuinely different) label
  sets, so raw label disagreement overstates churn; with k = 8 the
  8 x 8 contingency table is exact driver-side data and brute-force
  permutation matching (8! = 40320) finds the true maximum-overlap
  alignment. churn = 1 - matched_overlap / n.

Usage:
  python scripts/kmeans_cap_probe.py [--dir .scale/sf10] [--cpus 32]
      [--k 8] [--n-iter 2]

Prints one JSON line; pin the result in BASELINE.md.
"""

from __future__ import annotations

import argparse
import itertools
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", default=".scale/sf10")
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument("--k", type=int, default=8)
    ap.add_argument("--n-iter", type=int, default=2)
    ap.add_argument(
        "--warm-start",
        action="store_true",
        help="also measure capped-train + N full-data Lloyd pass(es) "
        "from the capped codebook (VERDICT r15 ask #5): churn/inertia "
        "vs full, wall vs capped",
    )
    ap.add_argument("--warm-iters", type=int, default=1)
    ap.add_argument(
        "--flows",
        action="store_true",
        help="also compute churn via the DISTRIBUTED audit "
        "(codebook_churn_flows + matched_churn_from_flows, round 17) "
        "on the same codebooks — must equal matched_churn_frac "
        "exactly (the cross-validation that retires this probe's "
        "collect-everything path at corpus scale)",
    )
    args = ap.parse_args()
    # The optimal label matching below brute-forces size! permutations
    # (exact and fine at the default k=8: 8! = 40320); k >= 11 would be
    # infeasible — guard rather than hang. ap.error, not assert: an
    # assert is stripped under python -O (ADVICE r16).
    if args.k > 10:
        ap.error(f"--k {args.k} > 10: permutation matching is size! work")

    from optimized_climate_data_integration_with_real_time_llm_querying_spark.catalog import (
        load_table,
    )
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.lifecycle import (
        release,
    )
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.clustering import (
        kmeans_assign,
    )
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.queries.clustering import (
        TRAIN_CAP,
    )
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.session import (
        get_spark,
    )

    spark = get_spark("kmeans-cap-probe", cpus=args.cpus)
    sf_dir = os.path.abspath(args.dir)
    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    n = emb.count()
    stride = max(1, math.ceil(n / TRAIN_CAP))

    def run(train_stride: int, init_centroids=None, n_iter=None):
        t0 = time.monotonic()
        out = kmeans_assign(
            emb,
            k=args.k,
            n_iter=args.n_iter if n_iter is None else n_iter,
            train_stride=train_stride,
            init_centroids=init_centroids,
        )
        rows = {r.vec_id: (r.cluster, r.dist2) for r in out.collect()}
        wall = time.monotonic() - t0
        release(out)
        return rows, wall, out.centroids

    def matched_churn(a: dict, b: dict) -> float:
        """Assignment disagreement under the exact optimal cluster-
        label matching (labels may be permuted between trainings)."""
        cont: dict[tuple[int, int], int] = {}
        for vid, (ca, _) in a.items():
            cb = b[vid][0]
            cont[(ca, cb)] = cont.get((ca, cb), 0) + 1
        a_labels = sorted({x for x, _ in cont})
        b_labels = sorted({y for _, y in cont})
        # pad to a square assignment over the larger label set
        size = max(len(a_labels), len(b_labels))
        best = 0
        for perm in itertools.permutations(range(size)):
            tot = 0
            for i, al in enumerate(a_labels):
                j = perm[i]
                if j < len(b_labels):
                    tot += cont.get((al, b_labels[j]), 0)
            best = max(best, tot)
        return 1.0 - best / n

    # Warm-up pass so the full-vs-capped pair compares steady state,
    # not parquet cold-read + codegen compile of whoever runs first.
    run(1)
    full, wall_full, full_centroids = run(1)
    capped, wall_capped, capped_centroids = run(stride)
    assert set(full) == set(capped) and len(full) == n

    inertia_full = sum(d for _, d in full.values())
    inertia_capped = sum(d for _, d in capped.values())
    churn = matched_churn(full, capped)

    rec = {
        "metric": "kmeans_train_cap_probe",
        "dir": args.dir,
        "n": n,
        "k": args.k,
        "n_iter": args.n_iter,
        "train_cap": TRAIN_CAP,
        "stride": stride,
        "wall_full_sec": round(wall_full, 2),
        "wall_capped_sec": round(wall_capped, 2),
        "inertia_full": round(inertia_full, 3),
        "inertia_capped": round(inertia_capped, 3),
        "inertia_delta_pct": round(
            100.0 * (inertia_capped - inertia_full) / inertia_full, 2
        ),
        "matched_churn_frac": round(churn, 4),
        "load_1m": round(os.getloadavg()[0], 2),
    }

    if args.flows:
        from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.clustering import (
            codebook_churn_flows,
            matched_churn_from_flows,
        )

        t0 = time.monotonic()
        fl = codebook_churn_flows(emb, full_centroids, capped_centroids)
        frows = [
            (int(r.cluster_old), int(r.cluster_new), int(r.n)) for r in fl.collect()
        ]
        wall_flows = time.monotonic() - t0
        rec.update(
            {
                "matched_churn_flows_frac": round(
                    matched_churn_from_flows(frows), 4
                ),
                "wall_flows_sec": round(wall_flows, 2),
                "n_flow_cells": len(frows),
            }
        )

    if args.warm_start:
        # VERDICT r15 ask #5: can ONE full-data Lloyd pass from the
        # CAPPED codebook recover the full-training partition at a
        # fraction of full cost? (The 83% churn at +0.61% inertia
        # suggested near-tied optima — if the basins really are
        # adjacent, a single corrective pass should collapse the
        # churn; if they are genuinely different optima, it won't.)
        warm, wall_warm, _ = run(
            1, init_centroids=capped_centroids, n_iter=args.warm_iters
        )
        inertia_warm = sum(d for _, d in warm.values())
        rec.update(
            {
                "warm_iters": args.warm_iters,
                "wall_warm_sec": round(wall_warm, 2),
                "wall_capped_plus_warm_sec": round(wall_capped + wall_warm, 2),
                "inertia_warm": round(inertia_warm, 3),
                "inertia_warm_delta_pct": round(
                    100.0 * (inertia_warm - inertia_full) / inertia_full, 2
                ),
                "matched_churn_warm_frac": round(matched_churn(full, warm), 4),
            }
        )

    print(json.dumps(rec))


if __name__ == "__main__":
    main()

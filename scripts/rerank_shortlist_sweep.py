"""Shortlist-size sensitivity for the IVF-PQ exact re-rank stage
(VERDICT r13 ask #3).

Round 13 measured ONE point: hot-cluster re-ranked recall@10 = 0.7 at
shortlist=50 (vs cold 1.0). This script draws the full curve on the
embedding-skew twin — the same 600-row / 32-mode / Zipf-occupancy
construction the recall-floor tests pin (tests/test_lsh_recall.py) —
for hot and cold query samples, shortlist in {50, 100, 200, 400},
nprobe in {2, 3}.

Method: for each sampled query, ONE ivf_pq_topk call at
topk=max(shortlists) yields the full ADC-ordered candidate ranking;
re-ranked recall at every smaller shortlist s is then exact
re-scoring of the first s ADC candidates (identical math to
ivf_pq_rerank_topk's refine stage — a prefix property, so the sweep
costs one index search per (query, nprobe), not one per shortlist).
The recall CEILING per query is also reported: exact top-10 coverage
of the probed candidate pool — past the knee, shortlist growth can
only approach this ceiling, and a ceiling < 1.0 is a PROBE miss
(raise nprobe), not a shortlist miss.

Usage:
  python scripts/rerank_shortlist_sweep.py [--n 600] [--queries 6]
      [--cpus 16] [--shortlists 50 100 200 400] [--nprobes 2 3]

Prints one JSON line per (tag, nprobe) with the recall curve, plus a
human-readable table; pin the result in BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=600)
    ap.add_argument("--queries", type=int, default=6, help="per tag (hot/cold)")
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "16")))
    ap.add_argument("--shortlists", type=int, nargs="+", default=[50, 100, 200, 400])
    ap.add_argument("--nprobes", type=int, nargs="+", default=[2, 3])
    ap.add_argument(
        "--tags", nargs="+", default=["hot", "cold"],
        choices=["hot", "cold"],
        help="query samples to sweep (round-15 cold-tail nprobe "
        "extension runs --tags cold with --nprobes 2 3 4 6 8)",
    )
    ap.add_argument(
        "--composed",
        action="store_true",
        help="measure the COMPOSED remedy stack instead of the "
        "single-query prefix method: one ivf_pq_batch_rerank_topk("
        "query_ids=<tag sample>, balanced=True) call per (tag, "
        "nprobe, shortlist) — the production call shape whose "
        "per-query equality is pinned in tests/test_pq.py, here "
        "measured for RECALL on the same 6+6 samples (VERDICT r15 "
        "ask #3)",
    )
    ap.add_argument(
        "--corrected",
        action="store_true",
        help="with --composed: pass nprobe_scale_with_split=True so "
        "the requested nprobes are scaled by the realized split "
        "ratio (the round-17 encoding of the low-nprobe dilution "
        "finding; regenerates BASELINE.md's corrected-point table)",
    )
    args = ap.parse_args()
    if args.corrected and not args.composed:
        ap.error("--corrected only applies to the --composed stack")

    import numpy as np
    from gen_scale_data import gen_embeddings_skew
    from pyspark.sql import functions as F

    from optimized_climate_data_integration_with_real_time_llm_querying_spark.lifecycle import (
        release,
    )
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.clustering import (
        ivf_pq_topk,
    )
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.session import (
        get_spark,
    )

    spark = get_spark("rerank-sweep", cpus=args.cpus)
    tbl = gen_embeddings_skew(args.n)
    pdf = tbl.to_pandas()
    pdf["embedding"] = pdf["embedding"].map(lambda v: [float(x) for x in v])
    emb = spark.createDataFrame(pdf)
    mat = np.array(tbl.column("embedding").to_pylist())

    # Same component labelling as the recall-floor tests: the twin's
    # own 32 seed directions (gen_scale_data seed 48).
    rng = np.random.default_rng(48)
    centers = rng.standard_normal((32, mat.shape[1]))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    comp = (mat @ centers.T).argmax(axis=1)
    occ = np.bincount(comp, minlength=32)
    hot_ids = np.flatnonzero(comp == occ.argmax())[: args.queries]
    # cold sample: pool members of the smallest non-empty components
    pool: list[int] = []
    for c in np.argsort(occ):
        if occ[c] == 0:
            continue
        pool.extend(np.flatnonzero(comp == c).tolist())
        if len(pool) >= args.queries:
            break
    cold_ids = np.array(pool[: args.queries])

    norms = np.linalg.norm(mat, axis=1)

    def exact_top10(qid: int) -> set[int]:
        d = mat @ mat[qid] / (norms * norms[qid])
        d[qid] = -np.inf
        return set(np.argsort(-d)[:10].tolist())

    if args.composed:
        from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.clustering import (
            ivf_pq_batch_rerank_topk,
        )

        rows = []
        for tag, ids in (("hot", hot_ids), ("cold", cold_ids)):
            if tag not in args.tags:
                continue
            truth = {int(q): exact_top10(int(q)) for q in ids}
            for nprobe in args.nprobes:
                rec = {
                    "tag": tag,
                    "nprobe": nprobe,
                    "queries": len(ids),
                    "stack": "batched+balanced+refine"
                    + ("+corrected-nprobe" if args.corrected else ""),
                    "recall_at_10_by_shortlist": {},
                }
                for s in args.shortlists:
                    out = ivf_pq_batch_rerank_topk(
                        emb, n_cells=8, nprobe=nprobe, m=8, k=16,
                        n_iter=2, topk=10, shortlist=s, balanced=True,
                        query_ids=[int(q) for q in ids],
                        nprobe_scale_with_split=args.corrected,
                    )
                    res = out.collect()
                    release(out)
                    got: dict[int, set[int]] = {}
                    for r in res:
                        got.setdefault(r.q_id, set()).add(r.vec_id)
                    rec["recall_at_10_by_shortlist"][str(s)] = round(
                        float(
                            np.mean(
                                [
                                    len(truth[q] & got.get(q, set())) / 10
                                    for q in truth
                                ]
                            )
                        ),
                        3,
                    )
                rows.append(rec)
                print(json.dumps(rec))
        print(
            "\ntag   nprobe  "
            + "  ".join(f"s={s:<4d}" for s in args.shortlists)
            + "  (composed batched+balanced+refine)"
        )
        for r in rows:
            vals = "  ".join(
                f"{r['recall_at_10_by_shortlist'][str(s)]:<6.3f}"
                for s in args.shortlists
            )
            print(f"{r['tag']:<5s} {r['nprobe']:<7d} {vals}")
        return

    smax = max(args.shortlists)
    rows = []
    for tag, ids in (("hot", hot_ids), ("cold", cold_ids)):
        if tag not in args.tags:
            continue
        for nprobe in args.nprobes:
            curve = {s: [] for s in args.shortlists}
            ceilings = []
            for qid in ids:
                qid = int(qid)
                truth = exact_top10(qid)
                adc = ivf_pq_topk(
                    emb, query_id=qid, n_cells=8, nprobe=nprobe,
                    m=8, k=16, n_iter=2, topk=smax,
                ).collect()
                cand = [r["vec_id"] for r in adc]  # ADC order
                ceilings.append(len(truth & set(cand)) / 10)
                d = mat[cand] @ mat[qid]  # exact refine (same math as
                # ivf_pq_rerank_topk; monotone in cosine for the
                # re-ranked prefix since the query norm is constant)
                d = d / (norms[cand] * norms[qid])
                for s in args.shortlists:
                    pre = cand[:s]
                    top = [pre[i] for i in np.argsort(-d[: len(pre)])[:10]]
                    curve[s].append(len(truth & set(top)) / 10)
            rec = {
                "tag": tag,
                "nprobe": nprobe,
                "queries": len(ids),
                "recall_at_10_by_shortlist": {
                    str(s): round(float(np.mean(curve[s])), 3)
                    for s in args.shortlists
                },
                "probe_pool_ceiling": round(float(np.mean(ceilings)), 3),
            }
            rows.append(rec)
            print(json.dumps(rec))

    print("\ntag   nprobe  " + "  ".join(f"s={s:<4d}" for s in args.shortlists) + "  ceiling")
    for r in rows:
        vals = "  ".join(
            f"{r['recall_at_10_by_shortlist'][str(s)]:<6.3f}" for s in args.shortlists
        )
        print(f"{r['tag']:<5s} {r['nprobe']:<7d} {vals}  {r['probe_pool_ceiling']:.3f}")


if __name__ == "__main__":
    main()

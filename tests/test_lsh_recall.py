"""Empirical recall floors for every approximate similarity path
(VERDICT r2 missing #4): each rows-only LSH/IVF query is measured
against its exact twin on sf0.001 and must clear a stated floor, so
"returns rows" becomes a falsifiable quality claim. Floors sit below
the measured values (minhash 1.0, cosine-LSH 0.857, lsh_topk 0.7,
IVF 0.5 at the registered parameters) to absorb testdata-seed drift;
the measured number is printed for the record on every run.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from optimized_climate_data_integration_with_real_time_llm_querying_spark.catalog import (
    load_table,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.lifecycle import (
    release,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators import (
    dedup,
    similarity,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.queries import (
    all_queries,
)


def _pairs(df):
    return {(r["id_a"], r["id_b"]) for r in df.select("id_a", "id_b").collect()}


def test_minhash_recall_vs_exact_jaccard(spark, sf_small):
    docs = load_table(spark, sf_small, "documents")
    # Same shingle grain (k=3), same threshold, no stop-shingle cap on
    # the exact side so it is the full ground truth.
    exact = _pairs(
        dedup.ngram_jaccard_pairs(docs, min_jaccard=0.5, max_shingle_df=None)
    )
    approx = _pairs(dedup.minhash_near_duplicates(docs, min_jaccard=0.5))
    assert exact, "testdata must contain planted near-duplicates"
    # Candidate verification computes exact Jaccard, so no false
    # positives are possible — approx must be a subset of exact.
    assert approx <= exact
    recall = len(approx & exact) / len(exact)
    print(f"minhash recall@j>=0.5: {recall:.3f} ({len(approx)}/{len(exact)})")
    assert recall >= 0.9


def test_cosine_lsh_near_dup_recall(spark, sf_small):
    emb = load_table(spark, sf_small, "embeddings")
    # Registered parameters (embedding_cosine_near_dups_lsh).
    exact = _pairs(
        similarity.cosine_near_dup_pairs(emb, threshold=0.45, id_col="vec_id")
    )
    approx = _pairs(
        similarity.cosine_near_dup_pairs(
            emb, threshold=0.45, id_col="vec_id", use_lsh=True, dim=64, n_planes=4
        )
    )
    assert exact
    assert approx <= exact  # exact verification after bucketing
    recall = len(approx & exact) / len(exact)
    print(f"cosine-LSH near-dup recall: {recall:.3f} ({len(approx)}/{len(exact)})")
    assert recall >= 0.7


def test_exploded_verify_agrees_with_hof(spark, sf_small):
    """The codegen'd posexplode+agg cosine (verify='exploded') must
    produce the SAME pairs and 6-dp scores as the HOF-lambda form, in
    both exact and LSH candidate modes — it's a physical-plan escape
    hatch (VERDICT r3 next #5), not a semantic variant."""
    emb = load_table(spark, sf_small, "embeddings")

    def rows(df):
        return sorted((r["id_a"], r["id_b"], r["cosine_sim"]) for r in df.collect())

    hof = similarity.cosine_near_dup_pairs(emb, threshold=0.45, id_col="vec_id")
    expl = similarity.cosine_near_dup_pairs(
        emb, threshold=0.45, id_col="vec_id", verify="exploded"
    )
    assert rows(hof) == rows(expl)
    hof_lsh = similarity.cosine_near_dup_pairs(
        emb, threshold=0.45, id_col="vec_id", use_lsh=True, dim=64, n_planes=4
    )
    expl_lsh = similarity.cosine_near_dup_pairs(
        emb,
        threshold=0.45,
        id_col="vec_id",
        use_lsh=True,
        dim=64,
        n_planes=4,
        verify="exploded",
    )
    assert rows(hof_lsh) == rows(expl_lsh)


def test_embedding_decontamination_lsh_recall(spark, sf_small):
    """The LSH-bucketed decontaminate_by_embedding must (a) never flag
    a vector the exact path wouldn't (verification is exact), and (b)
    catch most of what the exact path catches."""
    emb = load_table(spark, sf_small, "embeddings")
    heldout = emb.filter(F.col("vec_id") % 10 == 0)
    corpus = emb.filter(F.col("vec_id") % 10 != 0)
    _, exact_c = similarity.decontaminate_by_embedding(corpus, heldout, threshold=0.4)
    _, lsh_c = similarity.decontaminate_by_embedding(
        corpus, heldout, threshold=0.4, use_lsh=True, dim=64, n_planes=4
    )
    exact_ids = {r["vec_id"] for r in exact_c.collect()}
    lsh_ids = {r["vec_id"] for r in lsh_c.collect()}
    assert exact_ids, "threshold must flag some contamination at sf0.001"
    assert lsh_ids <= exact_ids  # exact verify -> no false positives
    recall = len(lsh_ids & exact_ids) / len(exact_ids)
    print(f"embedding-decontamination LSH recall: {recall:.3f} "
          f"({len(lsh_ids)}/{len(exact_ids)})")
    assert recall >= 0.6


def test_lsh_topk_recall(spark, sf_small):
    qs = all_queries()
    exact = {r["vec_id"] for r in qs["embedding_cosine_topk"].builder(spark, sf_small).collect()}
    approx = {r["vec_id"] for r in qs["embedding_lsh_topk"].builder(spark, sf_small).collect()}
    recall = len(exact & approx) / len(exact)
    print(f"lsh_topk recall@10: {recall:.3f}")
    assert recall >= 0.5


def test_ivf_topk_recall(spark, sf_small):
    qs = all_queries()
    exact = {r["vec_id"] for r in qs["embedding_cosine_topk"].builder(spark, sf_small).collect()}
    approx = {r["vec_id"] for r in qs["ann_ivf_topk"].builder(spark, sf_small).collect()}
    recall = len(exact & approx) / len(exact)
    print(f"ivf_topk recall@10 (nprobe=3/10 cells): {recall:.3f}")
    assert recall >= 0.3


def test_multi_table_lsh_beats_single_table(spark, sf_small):
    # The recall knob works in the right direction: unioning candidates
    # over more tables can only add pairs (monotone), and on this data
    # it strictly improves over one table.
    emb = load_table(spark, sf_small, "embeddings")
    one = _pairs(
        similarity.cosine_near_dup_pairs(
            emb, threshold=0.45, id_col="vec_id", use_lsh=True,
            dim=64, n_planes=4, n_tables=1,
        )
    )
    eight = _pairs(
        similarity.cosine_near_dup_pairs(
            emb, threshold=0.45, id_col="vec_id", use_lsh=True,
            dim=64, n_planes=4, n_tables=8,
        )
    )
    assert one <= eight
    assert len(eight) > len(one)


def test_lsh_candidate_set_is_subquadratic(spark, sf_small):
    # Scale guard: the candidate pair count must stay far below the
    # all-pairs count — the whole point of bucketing.
    emb = load_table(spark, sf_small, "embeddings")
    n = emb.count()
    b = similarity.hyperplane_lsh_multi(emb, dim=64, n_planes=8, n_tables=8)
    a = b.select(F.col("vec_id").alias("id_a"), "lsh_table", "lsh_bucket")
    c = b.select(F.col("vec_id").alias("id_b"), "lsh_table", "lsh_bucket")
    n_cand = (
        a.join(c, ["lsh_table", "lsh_bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .count()
    )
    all_pairs = n * (n - 1) / 2
    frac = n_cand / all_pairs
    print(f"candidate fraction: {frac:.4f} ({n_cand}/{int(all_pairs)})")
    assert frac < 0.2


def test_weighted_simhash_guarantees_exact_dup_candidates(spark, sf_oracle):
    """Identical tf-idf vectors produce identical signatures, so
    exact-duplicate pairs MUST appear in the band candidates — the
    deterministic half of the recall story for tfidf_simhash_topk."""
    from pyspark.sql import functions as F

    from optimized_climate_data_integration_with_real_time_llm_querying_spark.catalog import (
        load_table,
    )
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators import (
        dedup,
    )

    base = load_table(spark, sf_oracle, "documents").select("doc_id", "text")
    # Inject exact duplicates: copy 10 docs under new ids so the
    # guarantee is tested regardless of the corpus's own dup mix.
    dup = base.orderBy("doc_id").limit(10).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    d = base.unionByName(dup)
    exact_pairs = {
        (r.doc_id, r.doc_id + 1_000_000)
        for r in base.orderBy("doc_id").limit(10).collect()
    }

    sh = dedup.shingles(d, k=3, distinct=False).select(
        "doc_id", dedup.md5_hash64(F.col("shingle")).alias("tm")
    )
    nd = d.agg(F.count(F.lit(1)).alias("nd"))
    tf = sh.groupBy("doc_id", "tm").agg(F.count(F.lit(1)).alias("tf"))
    dft = tf.groupBy("tm").agg(F.count(F.lit(1)).alias("dft"))
    wdbl = F.col("tf") * (
        F.log((F.col("nd") + 1) / (F.col("dft") + 1).cast("double")) + 1
    )
    w = (
        tf.join(dft, "tm")
        .crossJoin(F.broadcast(nd))
        .filter(F.col("dft") * 5 <= F.col("nd"))
        .select(
            "doc_id", "tm", F.floor(wdbl * 1e6 + F.lit(0.5)).cast("long").alias("wint")
        )
    )
    sigs = dedup.weighted_simhash_signatures(w, weight_col="wint")
    cand = {
        (r.id_a, r.id_b)
        for r in dedup.simhash_band_candidates(sigs, n_bands=2).collect()
    }
    missing = exact_pairs - cand
    assert not missing, f"exact dups missing from candidates: {missing}"


def test_tfidf_simhash_topk_recall_floor(spark, sf_oracle):
    """The banded variant's top pairs must recover a floor of the
    EXACT query's top pairs — usefulness, not just self-consistency
    (the oracle already pins the pipeline itself)."""
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.queries import (
        all_queries,
    )

    qs = all_queries()
    exact = qs["tfidf_doc_similarity"].builder(spark, sf_oracle)
    exact_rows = [(r.id_a, r.id_b) for r in exact.collect()]
    release(exact)
    lsh = qs["tfidf_simhash_topk"].builder(spark, sf_oracle)
    lsh_pairs = {(r.id_a, r.id_b) for r in lsh.collect()}
    release(lsh)
    top5 = set(exact_rows[:5])
    hit = len(top5 & lsh_pairs) / len(top5)
    assert hit >= 0.4, f"recall of exact top-5 too low: {hit} ({top5 & lsh_pairs})"


def test_simhash_band_width_knob(spark, sf_oracle):
    """VERDICT r9 item 5: bits-per-band is a real knob — 24-bit bands
    (48-bit signature over the 64-bit hash family) must produce no
    more candidates than 16-bit bands on the same vectors, and the
    32-bit md5 family must refuse a 48-bit signature loudly (bits
    above the hash width are constant zero; the widened band would
    silently shrink to 8 effective bits and EXPLODE candidates —
    measured 504 -> 49,917 before the guard)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from optimized_climate_data_integration_with_real_time_llm_querying_spark.queries.corpus_ops import (
        tfidf_simhash_candidates,
    )

    c16 = tfidf_simhash_candidates(
        spark, sf_oracle, n_bits=32, n_bands=2, hash_family=F.xxhash64
    )
    n16 = c16.count()
    release(c16)
    c24 = tfidf_simhash_candidates(
        spark, sf_oracle, n_bits=48, n_bands=2, hash_family=F.xxhash64
    )
    n24 = c24.count()
    release(c24)
    assert 0 < n24 <= n16, (n16, n24)

    with _pytest.raises(ValueError, match="32-bit-valued"):
        tfidf_simhash_candidates(spark, sf_oracle, n_bits=48, n_bands=2)


def test_ivf_pq_recall_under_occupancy_skew(spark):
    """Recall floor on the clustered Zipf-occupancy twin — the
    100-TB ANN failure mode the isotropic table cannot exhibit (hot
    inverted lists; scripts/ann_skew_probe.py measures imbalance
    ~2.25 at the registry settings). Queries are drawn from BOTH the
    hottest and the coldest components: skew must not silently
    collapse tail-component recall."""
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"
        ),
    )
    from gen_scale_data import gen_embeddings_skew

    from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.clustering import (
        ivf_pq_rerank_topk,
        ivf_pq_topk,
    )

    tbl = gen_embeddings_skew(600)
    pdf = tbl.to_pandas()
    pdf["embedding"] = pdf["embedding"].map(lambda v: [float(x) for x in v])
    emb = spark.createDataFrame(pdf)

    # hot/cold query picks: rank components by nearest-center mass
    import numpy as np

    m = np.array(tbl.column("embedding").to_pylist())
    rng = np.random.default_rng(48)
    centers = rng.standard_normal((32, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    comp = (m @ centers.T).argmax(axis=1)
    counts = np.bincount(comp, minlength=32)
    hot_q = int(np.flatnonzero(comp == counts.argmax())[0])
    nz = [c for c in np.argsort(counts) if counts[c] >= 12]
    cold_q = int(np.flatnonzero(comp == nz[0])[0])

    recalls = {}
    rerank = {}
    for tag, qid in (("hot", hot_q), ("cold", cold_q)):
        qrow = emb.filter(F.col("vec_id") == qid).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        )
        exact = {
            r["vec_id"]
            for r in similarity.cosine_topk(emb, qrow, k=10).collect()
        }
        approx = {
            r["vec_id"]
            for r in ivf_pq_topk(
                emb, query_id=qid, n_cells=8, nprobe=2, m=8, k=16, n_iter=2
            ).collect()
        }
        recalls[tag] = len(exact & approx) / len(exact)
        rr = {
            r["vec_id"]
            for r in ivf_pq_rerank_topk(
                emb, query_id=qid, n_cells=8, nprobe=2, m=8, k=16,
                n_iter=2, topk=10, shortlist=50,
            ).collect()
        }
        rerank[tag] = len(exact & rr) / len(exact)
    print(f"ivf_pq recall@10 under skew: adc={recalls} rerank={rerank}")
    # The PINNED FINDING (measured: hot 0.3 / cold 0.9): occupancy
    # skew degrades ADC-ranked recall for HOT-cluster queries — the
    # dense cluster's neighbors sit below the m=8/k=16 quantization
    # resolution (nprobe=8 does NOT recover it; it is PQ distortion,
    # not probe miss) — while cold-tail queries stay high. The
    # production remedy is an ADC SHORTLIST + exact re-rank
    # (ivf_pq_rerank_topk; measured 0.7 hot / 1.0 cold at
    # shortlist=50). Floors sit below the measured values.
    assert recalls["cold"] >= 0.7, recalls
    assert recalls["hot"] >= 0.2, recalls
    assert recalls["cold"] > recalls["hot"], recalls
    assert rerank["hot"] >= 0.6, rerank
    assert rerank["cold"] >= 0.7, rerank
    assert rerank["hot"] > recalls["hot"], (rerank, recalls)


def test_balanced_ivf_search_composes(spark):
    """The hot-list-splitting quantizer plugs into the search path
    (balanced=True) with the documented knob pairing — proportionally
    larger nprobe for the smaller cells — and holds the re-ranked
    recall of the plain path on the skew twin while removing the
    straggler list."""
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"
        ),
    )
    import numpy as np
    from gen_scale_data import gen_embeddings_skew

    from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.clustering import (
        ivf_pq_rerank_topk,
    )

    tbl = gen_embeddings_skew(600)
    pdf = tbl.to_pandas()
    pdf["embedding"] = pdf["embedding"].map(lambda v: [float(x) for x in v])
    emb = spark.createDataFrame(pdf)
    m = np.array(tbl.column("embedding").to_pylist())
    rng = np.random.default_rng(48)
    centers = rng.standard_normal((32, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    comp = (m @ centers.T).argmax(axis=1)
    hot_q = int(np.flatnonzero(comp == np.bincount(comp).argmax())[0])

    qrow = emb.filter(F.col("vec_id") == hot_q).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = {
        r["vec_id"] for r in similarity.cosine_topk(emb, qrow, k=10).collect()
    }
    got = ivf_pq_rerank_topk(
        emb, query_id=hot_q, n_cells=8, nprobe=3, m=8, k=16, n_iter=2,
        shortlist=50, balanced=True,
    ).collect()
    assert len(got) == 10
    recall = len(exact & {r["vec_id"] for r in got}) / len(exact)
    print(f"balanced ivf rerank hot recall@10 (nprobe=3): {recall:.2f}")
    assert recall >= 0.6  # measured 0.7, matches the plain path


def test_balanced_residual_ivf_composes(spark):
    """balanced=True composes into the RESIDUAL variant too (round-14,
    VERDICT r13 ask #4): same (id, cluster) + centroids contract, so
    the per-cell residual LUT pipeline is unchanged, results stay
    deterministic, and recall does not regress vs the plain quantizer
    at matched knobs.

    Pinned finding (measured on the skew twin, round 14): residual
    encoding does NOT recover the hot-cluster distortion — hot
    recall@10 is 0.2 for plain AND balanced, flat in nprobe from 2 to
    8. With n_cells=8 far below the twin's 32 true modes, the coarse
    cells do not align with the data clusters, so residuals stay
    multimodal and the m=8 x k=16 codebook loses them exactly like
    raw vectors (contrast tests/test_pq.py::
    test_residual_pq_dominates_plain, where cells match the modes and
    residual wins). The production remedy remains the exact re-rank
    (ivf_pq_rerank_topk), not more bits in the residual codebook.
    """
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"
        ),
    )
    import numpy as np
    from gen_scale_data import gen_embeddings_skew

    from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.clustering import (
        ivf_residual_pq_topk,
    )

    tbl = gen_embeddings_skew(600)
    pdf = tbl.to_pandas()
    pdf["embedding"] = pdf["embedding"].map(lambda v: [float(x) for x in v])
    emb = spark.createDataFrame(pdf)
    m = np.array(tbl.column("embedding").to_pylist())
    rng = np.random.default_rng(48)
    centers = rng.standard_normal((32, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    comp = (m @ centers.T).argmax(axis=1)
    hot_q = int(np.flatnonzero(comp == np.bincount(comp).argmax())[0])

    qrow = emb.filter(F.col("vec_id") == hot_q).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = {
        r["vec_id"] for r in similarity.cosine_topk(emb, qrow, k=10).collect()
    }

    plain = ivf_residual_pq_topk(
        emb, query_id=hot_q, n_cells=8, nprobe=2, m=8, k=16, n_iter=2
    ).collect()
    bal = ivf_residual_pq_topk(
        emb, query_id=hot_q, n_cells=8, nprobe=3, m=8, k=16, n_iter=2,
        balanced=True,
    ).collect()
    bal2 = ivf_residual_pq_topk(
        emb, query_id=hot_q, n_cells=8, nprobe=3, m=8, k=16, n_iter=2,
        balanced=True,
    ).collect()
    assert len(bal) == 10
    assert [(r["vec_id"], r["adc_dist2"]) for r in bal] == [
        (r["vec_id"], r["adc_dist2"]) for r in bal2
    ]
    r_plain = len(exact & {r["vec_id"] for r in plain}) / len(exact)
    r_bal = len(exact & {r["vec_id"] for r in bal}) / len(exact)
    print(f"residual ivf hot recall@10: plain={r_plain:.2f} balanced={r_bal:.2f}")
    assert r_bal >= r_plain  # measured 0.2 == 0.2; composition must not regress
    assert r_bal >= 0.1


def test_rerank_shortlist_knee(spark):
    """Floor at the measured shortlist knee (round 14, BASELINE.md
    "Re-rank shortlist knee"): on the skew twin, hot-cluster queries
    are DISTORTION-limited (probe-pool ceiling 1.0), and the exact
    re-rank recovers recall@10 to 1.0 at shortlist=200 (0.917 at 100,
    0.667 at 50; identical at nprobe 2 and 3). Floor sits below the
    measured 1.0 with slack, via the real operator."""
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"
        ),
    )
    import numpy as np
    from gen_scale_data import gen_embeddings_skew

    from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.clustering import (
        ivf_pq_rerank_topk,
    )

    tbl = gen_embeddings_skew(600)
    pdf = tbl.to_pandas()
    pdf["embedding"] = pdf["embedding"].map(lambda v: [float(x) for x in v])
    emb = spark.createDataFrame(pdf)
    m = np.array(tbl.column("embedding").to_pylist())
    rng = np.random.default_rng(48)
    centers = rng.standard_normal((32, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    comp = (m @ centers.T).argmax(axis=1)
    hot_q = int(np.flatnonzero(comp == np.bincount(comp).argmax())[0])

    qrow = emb.filter(F.col("vec_id") == hot_q).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = {
        r["vec_id"] for r in similarity.cosine_topk(emb, qrow, k=10).collect()
    }
    got = {
        r["vec_id"]
        for r in ivf_pq_rerank_topk(
            emb, query_id=hot_q, n_cells=8, nprobe=2, m=8, k=16, n_iter=2,
            topk=10, shortlist=200,
        ).collect()
    }
    recall = len(exact & got) / len(exact)
    print(f"rerank hot recall@10 at the s=200 knee: {recall:.2f}")
    assert recall >= 0.9


def test_cold_tail_nprobe_endpoint(spark):
    """Floor at the measured cold-tail nprobe ENDPOINT (round 15,
    BASELINE.md "Cold-tail nprobe curve"): cold/outlier queries are
    PROBE-limited — recall saturates at the probe-pool ceiling
    (0.467 / 0.633 / 0.783 / 0.933 at nprobe 2/3/4/6) and shortlist
    growth cannot cross it — and the measured endpoint is nprobe=6
    with shortlist=200, where cold recall@10 first reaches >= 0.9
    (mean 0.917 over the 6-query cold sample; per-query 0.8-1.0).
    Deployment rule: spend nprobe on tail queries — 6 of 8 cells
    (75% scan share on this twin's geometry) buys cold 0.917 where
    nprobe=2 caps at 0.467. Floor sits below the measured mean with
    slack, via the real operator on the first 3 cold queries
    (measured 0.9 each)."""
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"
        ),
    )
    import numpy as np
    from gen_scale_data import gen_embeddings_skew

    from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.clustering import (
        ivf_pq_rerank_topk,
    )

    tbl = gen_embeddings_skew(600)
    pdf = tbl.to_pandas()
    pdf["embedding"] = pdf["embedding"].map(lambda v: [float(x) for x in v])
    emb = spark.createDataFrame(pdf)
    m = np.array(tbl.column("embedding").to_pylist())
    rng = np.random.default_rng(48)
    centers = rng.standard_normal((32, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    comp = (m @ centers.T).argmax(axis=1)
    occ = np.bincount(comp, minlength=32)
    # the sweep's cold sample: members of the smallest non-empty
    # components, in occupancy order (scripts/rerank_shortlist_sweep)
    pool: list[int] = []
    for c in np.argsort(occ):
        if occ[c] == 0:
            continue
        pool.extend(np.flatnonzero(comp == c).tolist())
        if len(pool) >= 3:
            break
    recalls = []
    for qid in pool[:3]:
        qid = int(qid)
        qrow = emb.filter(F.col("vec_id") == qid).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        )
        exact = {
            r["vec_id"]
            for r in similarity.cosine_topk(emb, qrow, k=10).collect()
        }
        got = {
            r["vec_id"]
            for r in ivf_pq_rerank_topk(
                emb, query_id=qid, n_cells=8, nprobe=6, m=8, k=16,
                n_iter=2, topk=10, shortlist=200,
            ).collect()
        }
        recalls.append(len(exact & got) / len(exact))
    mean = sum(recalls) / len(recalls)
    print(f"cold-tail recall@10 at nprobe=6, s=200: {recalls} mean={mean:.2f}")
    assert mean >= 0.8, recalls


def test_composed_stack_recall_floor(spark):
    """Recall floor for the FULL composed skew-remedy stack —
    batched search + balanced cells + exact refine in ONE operator
    call (round 16, VERDICT r15 ask #3). Per-query equality to the
    single-query stack is pinned in tests/test_pq.py; this pins the
    RECALL of the production call shape itself on the skew twin's
    6 hot + 6 cold samples, batched together (the sweep's samples,
    scripts/rerank_shortlist_sweep.py --composed). Measured at
    nprobe=6, shortlist=200: hot 1.000, cold 0.917 — matching the
    plain single-query endpoint (cold is probe-limited either way).
    The sweep's new finding lives at LOW nprobe: balanced splitting
    shrinks each probe's share of a hot cluster, so composed hot
    recall at nprobe=2/s=200 reads 0.850 vs plain 1.000 and recovers
    by nprobe=3 (0.983) — deployment note in BASELINE.md. Floors sit
    below the endpoint measurements with slack."""
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"
        ),
    )
    import numpy as np
    from gen_scale_data import gen_embeddings_skew

    from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.clustering import (
        ivf_pq_batch_rerank_topk,
    )

    tbl = gen_embeddings_skew(600)
    pdf = tbl.to_pandas()
    pdf["embedding"] = pdf["embedding"].map(lambda v: [float(x) for x in v])
    emb = spark.createDataFrame(pdf)
    m = np.array(tbl.column("embedding").to_pylist())
    rng = np.random.default_rng(48)
    centers = rng.standard_normal((32, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    comp = (m @ centers.T).argmax(axis=1)
    occ = np.bincount(comp, minlength=32)
    hot_ids = [int(q) for q in np.flatnonzero(comp == occ.argmax())[:6]]
    pool: list[int] = []
    for c in np.argsort(occ):
        if occ[c] == 0:
            continue
        pool.extend(int(x) for x in np.flatnonzero(comp == c).tolist())
        if len(pool) >= 6:
            break
    cold_ids = pool[:6]

    norms = np.linalg.norm(m, axis=1)

    def exact_top10(qid: int) -> set[int]:
        d = m @ m[qid] / (norms * norms[qid])
        d[qid] = -np.inf
        return set(np.argsort(-d)[:10].tolist())

    out = ivf_pq_batch_rerank_topk(
        emb, n_cells=8, nprobe=6, m=8, k=16, n_iter=2, topk=10,
        shortlist=200, balanced=True, query_ids=hot_ids + cold_ids,
    )
    rows = out.collect()
    release(out)
    got: dict[int, set[int]] = {}
    for r in rows:
        got.setdefault(r.q_id, set()).add(r.vec_id)
    assert sorted(got) == sorted(hot_ids + cold_ids)

    def mean_recall(ids: list[int]) -> float:
        return sum(len(exact_top10(q) & got[q]) / 10 for q in ids) / len(ids)

    hot, cold = mean_recall(hot_ids), mean_recall(cold_ids)
    print(f"composed-stack recall@10 (nprobe=6, s=200): hot={hot:.3f} cold={cold:.3f}")
    assert hot >= 0.9, hot
    assert cold >= 0.8, cold


def test_composed_stack_corrected_nprobe(spark):
    """Floor for the ENCODED nprobe split-ratio correction (round 17,
    VERDICT r16 ask #5): the round-16 sweep found balanced hot-list
    splitting dilutes per-probe hot-mode coverage (composed hot
    recall@10 at nprobe=2/s=200 reads 0.850 vs plain 1.000), and the
    remedy shipped as a prose deployment rule. It is now the opt-in
    ``nprobe_scale_with_split`` parameter: nprobe scales by
    ceil(realized_cells / n_cells) when balanced=True (the ratio is
    CEILed before multiplying — the hot list's own split factor
    exceeds the average growth, and the equal-coverage form measured
    0.983 < plain). This pins the sweep point the ask names:
    nprobe=2-CORRECTED recovers >= the PLAIN (unbalanced) nprobe=2
    recall on the skew twin's hot samples (measured: corrected 1.000
    = plain 1.000 at eff nprobe 4, realized 12 of 8 requested cells;
    cold rises 0.467 -> 0.717 as a side effect). Defaults stay OFF so
    registry plans remain byte-stable."""
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"
        ),
    )
    import numpy as np
    from gen_scale_data import gen_embeddings_skew

    from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.clustering import (
        effective_nprobe,
        ivf_pq_batch_rerank_topk,
    )

    # The rule itself: ratio-ceil, never below the requested nprobe.
    assert effective_nprobe(2, 8, 12) == 4
    assert effective_nprobe(2, 8, 8) == 2
    assert effective_nprobe(6, 8, 12) == 12
    assert effective_nprobe(3, 8, 17) == 9

    tbl = gen_embeddings_skew(600)
    pdf = tbl.to_pandas()
    pdf["embedding"] = pdf["embedding"].map(lambda v: [float(x) for x in v])
    emb = spark.createDataFrame(pdf)
    m = np.array(tbl.column("embedding").to_pylist())
    rng = np.random.default_rng(48)
    centers = rng.standard_normal((32, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    comp = (m @ centers.T).argmax(axis=1)
    occ = np.bincount(comp, minlength=32)
    hot_ids = [int(q) for q in np.flatnonzero(comp == occ.argmax())[:6]]
    norms = np.linalg.norm(m, axis=1)

    def exact_top10(qid: int) -> set[int]:
        d = m @ m[qid] / (norms * norms[qid])
        d[qid] = -np.inf
        return set(np.argsort(-d)[:10].tolist())

    def mean_recall(balanced: bool, corrected: bool) -> float:
        out = ivf_pq_batch_rerank_topk(
            emb, n_cells=8, nprobe=2, m=8, k=16, n_iter=2, topk=10,
            shortlist=200, balanced=balanced, query_ids=hot_ids,
            nprobe_scale_with_split=corrected,
        )
        rows = out.collect()
        release(out)
        got: dict[int, set[int]] = {}
        for r in rows:
            got.setdefault(r.q_id, set()).add(r.vec_id)
        return sum(len(exact_top10(q) & got[q]) / 10 for q in hot_ids) / len(
            hot_ids
        )

    plain = mean_recall(balanced=False, corrected=False)
    corrected = mean_recall(balanced=True, corrected=True)
    print(
        f"hot recall@10 at nprobe=2, s=200: plain={plain:.3f} "
        f"balanced+corrected={corrected:.3f}"
    )
    assert corrected >= plain, (corrected, plain)
    assert corrected >= 0.95, corrected


def test_simhash_production_path(spark):
    """The production 64-bit xxhash SimHash path must stay covered
    after its rows-only registry entry retired (round-14 displacement
    — __spark_entry__.py retirement order #1): exact duplicates land
    at Hamming 0, a lightly-edited near-dup is found within the
    banded candidate set at Hamming <= 3, and an unrelated document
    pairs with neither."""
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators import (
        dedup,
    )

    words = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango "
        "uniform victor whiskey xray yankee zulu one two three four"
    ).split()
    base = " ".join(words * 4)  # 120 tokens; majority votes are stable
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),  # exact dup -> Hamming 0
            (3, base.replace("zulu", "zebra", 1)),  # one-token edit
            (4, "completely different text about spark shuffle planning and parquet row groups"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_near_duplicates(docs, max_hamming=3).collect()
    }
    assert pairs.get((1, 2)) == 0, pairs
    assert all(4 not in p for p in pairs), pairs
    near = [p for p in pairs if p in ((1, 3), (2, 3))]
    assert near and all(0 < pairs[p] <= 3 for p in near), pairs

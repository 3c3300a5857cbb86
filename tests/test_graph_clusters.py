"""Connected-components / dedup-clustering operator tests
(operators/graph.py): label propagation on known topologies,
convergence on multi-hop chains, singleton handling, and the
determinism the registered dedup_clusters query relies on.
"""

from __future__ import annotations

import pytest

from optimized_climate_data_integration_with_real_time_llm_querying_spark.lifecycle import (
    release,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.graph import (
    connected_components,
    dedup_cluster_assignments,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "id_a long, id_b long")


def _components(spark, pairs):
    rows = connected_components(_edges(spark, pairs)).collect()
    return {r.node: r.component for r in rows}


def test_two_disjoint_components(spark):
    got = _components(spark, [(1, 2), (2, 3), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_path_graph_needs_multiple_rounds(spark):
    # A 7-node path: the min label must travel 6 hops, so single-round
    # neighbor-min would be wrong — this pins the fixpoint loop.
    path = [(i, i + 1) for i in range(1, 7)]
    got = _components(spark, path)
    assert got == {i: 1 for i in range(1, 8)}


def test_edge_direction_is_irrelevant(spark):
    # Same component whether the smaller id is on the left or right.
    assert _components(spark, [(5, 2), (2, 9)]) == {2: 2, 5: 2, 9: 2}


def test_empty_edges(spark):
    assert _components(spark, []) == {}


def test_convergence_guard_raises(spark):
    path = [(i, i + 1) for i in range(1, 9)]
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(_edges(spark, path), max_iterations=2)


def test_cluster_assignments_cover_all_docs(spark):
    docs = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    pairs = _edges(spark, [(1, 2), (2, 3), (5, 6)])
    rows = dedup_cluster_assignments(docs, pairs).collect()
    by_doc = {r.doc_id: r for r in rows}
    assert len(by_doc) == 7
    # Component members share the min-id cluster and its size.
    assert {by_doc[i].cluster_id for i in (1, 2, 3)} == {1}
    assert {by_doc[i].cluster_size for i in (1, 2, 3)} == {3}
    assert by_doc[5].cluster_id == 5 and by_doc[5].cluster_size == 2
    # Docs in no pair are singletons of themselves.
    for i in (4, 7):
        assert by_doc[i].cluster_id == i and by_doc[i].cluster_size == 1
    # Exactly one kept representative per cluster: the min id.
    kept = sorted(r.doc_id for r in rows if r.is_kept)
    assert kept == [1, 4, 5, 7]


def test_pagerank_mass_conservation_and_determinism(spark, sf_oracle):
    """Power iteration over an undirected graph conserves probability
    mass (sum pr = 1 up to the 6-dp grid), gives every node a
    positive score, and replays identically."""
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.catalog import (
        load_table,
    )
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators import (
        dedup,
    )
    from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators.graph import (
        pagerank,
    )

    d = load_table(spark, sf_oracle, "documents", rebalance=True)
    pairs = dedup.ngram_jaccard_pairs(d, k=3, min_jaccard=0.6, max_shingle_df=100)
    pr = pagerank(pairs, d=0.85, n_iter=3)
    rows = [(r.node, r.pr) for r in pr.collect()]
    release(pr)
    assert rows
    total = sum(p for _, p in rows)
    assert abs(total - 1.0) < 1e-3, total
    assert all(p > 0 for _, p in rows)

    pr2 = pagerank(pairs, d=0.85, n_iter=3)
    rows2 = [(r.node, r.pr) for r in pr2.collect()]
    release(pr2)
    assert sorted(rows) == sorted(rows2)

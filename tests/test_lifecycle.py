"""``hold`` and ``release``, the single owner of what a query persists,
and the driver adapter that releases a result once it has run."""

from __future__ import annotations

import os
from pathlib import Path
from types import SimpleNamespace
from unittest.mock import Mock

import pytest

import __spark_entry__ as ep
from optimized_climate_data_integration_with_real_time_llm_querying_spark.catalog import (
    load_table,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.lifecycle import (
    hold,
    release,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators import (
    clustering,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "optimized_climate_data_integration_with_real_time_llm_querying_spark"


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _handle(fail: bool = False) -> Mock:
    h = Mock(spec=["unpersist"])
    h.unpersist.side_effect = RuntimeError("unpersist failed") if fail else None
    return h


def test_hold_flattens_children_and_skips_none(spark):
    a, b, c = _handle(), _handle(), _handle()
    child = hold(SimpleNamespace(), a)
    kept_nothing = spark.range(3)  # a child result that persisted nothing
    persisted = spark.range(4).persist()
    out = hold(SimpleNamespace(), None, child, kept_nothing, persisted, b)
    out = hold(out, hold(SimpleNamespace(), child), c)  # adds to what it holds
    assert release(out) == [a, persisted, b, a, c]
    assert not persisted.is_cached


def test_release_is_idempotent_and_survives_a_failing_handle():
    handles = [_handle(), _handle(fail=True), _handle()]
    out = hold(SimpleNamespace(), *handles)
    with pytest.raises(RuntimeError, match="unpersist failed"):
        release(out)
    assert release(out) == []
    assert release(SimpleNamespace()) == []
    assert [h.unpersist.call_count for h in handles] == [1, 1, 1]


@pytest.mark.parametrize("materialize", ["collect", "count"])
def test_driver_adapter_releases_after_materializing(spark, sf_small, materialize):
    before = _persisted(spark)
    getattr(ep.queries()["source_overlap_matrix"](spark, sf_small), materialize)()
    assert _persisted(spark) == before


def test_training_failure_releases_the_surviving_training(spark, sf_small, monkeypatch):
    emb = load_table(spark, sf_small, "embeddings", rebalance=True)
    trained = []

    def kmeans(*a, **kw):
        trained.append(clustering.kmeans_assign(*a, **kw))
        return trained[-1]

    def failing_pq_assign(*a, **kw):
        raise RuntimeError("pq training failed")

    monkeypatch.setattr(clustering, "pq_assign", failing_pq_assign)
    before = _persisted(spark)
    with pytest.raises(RuntimeError, match="pq training failed"):
        clustering._train_cells_and_codes(
            kmeans, emb, 4, 8, 16, 2, "embedding", "vec_id", 1
        )
    assert len(trained) == 1 and release(trained[0]) == []
    assert _persisted(spark) == before


def test_batch_search_without_queries_persists_nothing(spark, sf_small):
    emb = load_table(spark, sf_small, "embeddings", rebalance=True)
    before = _persisted(spark)
    with pytest.raises(ValueError, match="no query rows resolved"):
        clustering.ivf_pq_batch_topk(emb, query_ids=[-1])
    assert _persisted(spark) == before


def test_only_lifecycle_knows_where_handles_live():
    paths = [os.path.join(ROOT, "bench.py"), os.path.join(ROOT, "__spark_entry__.py")]
    for top in (PKG, "tests", "scripts", "examples"):
        for dirpath, _, files in os.walk(os.path.join(ROOT, top)):
            paths += [os.path.join(dirpath, f) for f in files if f.endswith(".py")]
    exempt = {os.path.join(ROOT, PKG, "lifecycle.py"), os.path.abspath(__file__)}
    offenders = [
        f"{os.path.relpath(p, ROOT)}:{n}"
        for p in paths
        if p not in exempt
        for n, line in enumerate(Path(p).read_text(encoding="utf-8").splitlines(), 1)
        if "cache_handle" in line
    ]
    assert offenders == []

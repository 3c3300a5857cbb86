"""Error-bound and invariant tests for the deterministic sketches
(hll_distinct_md5, cms_heavy_hitters) and the data-selection scorers
(dsir_select, kneser_ney_bigram_scores) beyond the cell-level oracle
parity that test_oracle_parity already enforces."""

from __future__ import annotations

import math

import duckdb

from optimized_climate_data_integration_with_real_time_llm_querying_spark.queries import (
    all_queries,
)

from conftest import SF_ORACLE, collect_released

QS = all_queries()


def test_hll_error_within_bound(spark):
    """HLL with m=256 registers has std error 1.04/sqrt(m) ~= 6.5%;
    assert every group is inside 3 sigma (~19.5%) — a real accuracy
    check of the register pipeline, not just parity."""
    rows = QS["hll_distinct_md5"].builder(spark, SF_ORACLE).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.n_exact > 0
        assert r.rel_error <= 3 * 1.04 / math.sqrt(256), (
            r.priority,
            r.rel_error,
        )


def test_cms_never_underestimates(spark):
    """Count-Min point queries can only overestimate (collisions add
    counts); the min-over-rows estimate must also respect the
    eps*N bound with eps = e/w at the tested width."""
    rows = QS["cms_heavy_hitters"].builder(spark, SF_ORACLE).collect()
    assert rows, "no heavy hitters returned"
    n_total = duckdb.sql(
        f"""SELECT SUM(len(string_split_regex(trim(text), '\\s+')))
            FROM read_parquet('{SF_ORACLE}/documents.parquet')
            WHERE trim(text) <> ''"""
    ).fetchone()[0]
    eps_bound = math.e / 512 * float(n_total)
    for r in rows:
        assert r.overestimate >= 0, (r.token, r.overestimate)
        assert r.cms_estimate >= r.n_exact
        assert r.overestimate <= eps_bound, (r.token, r.overestimate)


def test_dsir_selects_raw_docs_in_weight_order(spark):
    rows = collect_released(QS["dsir_select"].builder(spark, SF_ORACLE))
    assert len(rows) == 100
    assert all(r.lang != "en" for r in rows)
    ws = [r.logw for r in rows]
    assert ws == sorted(ws, reverse=True)


def test_kneser_ney_is_a_proper_distribution():
    """Interpolated KN must sum to exactly 1 over the vocabulary for
    every context w1: sum_seen (c-D)/n1 + (D*n1f/n1) * sum_vocab
    Pcont = 1 because Pcont itself sums to 1 over observed
    continuations. Verified numerically per context in DuckDB on the
    same corpus the query trains on."""
    con = duckdb.connect()
    con.execute(
        f"""CREATE VIEW documents AS
            SELECT * FROM read_parquet('{SF_ORACLE}/documents.parquet')"""
    )
    rows = con.execute(
        r"""
        WITH toks AS (
          SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i
          FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
                FROM documents WHERE trim(text) <> '')
        ), tk AS (SELECT doc_id, i, t[i] AS token FROM toks),
        bg AS (
          SELECT doc_id, w1, w2 FROM (
            SELECT doc_id, token AS w1,
                   LEAD(token) OVER (PARTITION BY doc_id ORDER BY i) AS w2
            FROM tk) WHERE w2 IS NOT NULL
        ),
        c2 AS (SELECT w1, w2, COUNT(*) AS n2 FROM bg GROUP BY w1, w2),
        ls AS (SELECT w1, SUM(n2) AS n1, COUNT(*) AS n1f FROM c2 GROUP BY w1),
        rs AS (SELECT w2, COUNT(*) AS n1b FROM c2 GROUP BY w2),
        nb AS (SELECT COUNT(*) AS nbig FROM c2),
        -- P(w2|w1) over the FULL (w1 x vocab-as-w2) grid: unseen
        -- pairs get the pure backoff term
        grid AS (
          SELECT ls.w1, rs.w2, ls.n1, ls.n1f, rs.n1b, c2.n2
          FROM ls CROSS JOIN rs
          LEFT JOIN c2 ON c2.w1 = ls.w1 AND c2.w2 = rs.w2
        )
        SELECT w1, SUM(
          (GREATEST(COALESCE(n2, 0) - 0.75, 0)
           + 0.75 * n1f * (CAST(n1b AS DOUBLE) / nb.nbig)) / n1
        ) AS total_p
        FROM grid CROSS JOIN nb GROUP BY w1
        """
    ).fetchall()
    assert rows
    for w1, total_p in rows:
        assert abs(total_p - 1.0) < 1e-9, (w1, total_p)


def test_quality_classifier_loss_decreases():
    """Full-batch GD on the (convex) logistic loss with lr=0.5 over
    scaled features must reduce training loss vs the zero-weight
    start (whose loss is exactly ln 2). Replays the generated oracle
    in DuckDB and compares mean log-loss at w0 vs w8."""
    import duckdb

    from optimized_climate_data_integration_with_real_time_llm_querying_spark.queries import (
        datasel,
    )

    con = duckdb.connect()
    con.execute(
        f"""CREATE VIEW documents AS
            SELECT * FROM read_parquet('{SF_ORACLE}/documents.parquet')"""
    )
    rows = con.execute(datasel._lr_oracle()).fetchall()
    assert rows
    eps = 1e-12
    loss8 = -sum(
        math.log(max(p, eps)) if y == 1 else math.log(max(1 - p, eps))
        for (_, y, p, _pred) in rows
    ) / len(rows)
    loss0 = math.log(2.0)
    assert loss8 < loss0, (loss8, loss0)

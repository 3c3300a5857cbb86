"""Inputs and checks for the ``registry`` workload.

The tables have the catalog's schemas (``catalog.TABLE_SCHEMAS``) at
roughly sf0.001 size and are drawn from the run's seed, so every run
reads fresh inputs and its outputs are checked against the DuckDB
oracle twins over the same files.
"""

from __future__ import annotations

import importlib.util
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Registry queries the workload runs, each built and forced through the
# noop sink: relational, as-of, token-statistics, retrieval and
# language-model queries, and the file sinks (each a write followed by a
# read of what was written). Every pass runs them in this order, so the
# JVM's first-use costs land on the same queries in every run and the
# seed changes only the data.
QUERIES = [
    "pricing_summary",
    "join_agg_topk",
    "window_topk_per_group",
    "asof_last_event_before_order",
    "token_stats",
    "tfidf_top_terms",
    "kneser_ney_bigram_scores",
    "bm25_topk",
    "hybrid_rrf_topk",
    # file sinks
    "csv_roundtrip",
    "orc_roundtrip",
    "jsonl_roundtrip",
    "sqlite_roundtrip",
    "excel_roundtrip",
    "netcdf_roundtrip",
    "netcdf4_roundtrip",
    "compaction_roundtrip",
    "zorder_pruned_read",
]
WARMUP_QUERY = "pricing_summary"

# Cells both engines round to a fixed precision from a float sum or
# mean of exact decimals that can land exactly on a rounding tie (x.xx5):
# cent prices times hundredth discounts and taxes do. Float summation
# order then decides the side, so these cells may differ from the oracle
# by one unit of their ROUND precision; every other cell compares
# exactly. (The other rounded cells of QUERIES round logarithms, which
# do not land on ties, or values already in cents.)
ROUNDED_CELLS = {
    "pricing_summary": {
        "sum_disc_price": 0.01,
        "sum_charge": 0.01,
        "avg_qty": 0.01,
        "avg_price": 0.01,
        "avg_disc": 0.0001,
    },
    "join_agg_topk": {"revenue": 0.01},
}

SIZES = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 1000,
    "documents": 500,
    "embeddings": 500,
    "users": 15,
}
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS, LANG_W = ["en", "de", "es", "fr", "zh"], [0.412, 0.148, 0.148, 0.148, 0.144]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng, n, start: datetime, span_days: int) -> list[datetime]:
    return [start + timedelta(days=int(d)) for d in rng.integers(0, span_days, n)]


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def generate(out_dir: str, seed: int) -> None:
    """Write the ten input tables for ``seed`` under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = SIZES
    money = lambda lo, hi, k: np.round(rng.uniform(lo, hi, k), 2)  # noqa: E731

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(range(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"]).tolist()})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n["supplier"])})
    _write(out_dir, "part", {
        "p_partkey": pa.array(range(n["part"]), pa.int64()),
        "p_name": [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}" for _ in range(n["part"])],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
                             n["part"]).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": [round(900 + (k % 1000) / 10, 1) for k in range(n["part"])]})
    ts_us = pa.timestamp("us")
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(range(n["orders"]), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]).tolist(),
        "o_totalprice": money(1000, 500000, n["orders"]),
        "o_orderdate": pa.array(_days(rng, n["orders"], datetime(1995, 1, 1), 2404), ts_us),
        "o_orderpriority": rng.choice(PRIORITIES, n["orders"]).tolist()})
    k = n["lineitem"]
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n["orders"], k), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], k), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], k), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, k), pa.int32()),
        "l_quantity": rng.integers(1, 51, k).astype(float),
        "l_extendedprice": money(900, 105000, k),
        "l_discount": np.round(rng.integers(0, 11, k) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, k) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], k).tolist(),
        "l_linestatus": rng.choice(["F", "O"], k).tolist(),
        "l_shipdate": pa.array(_days(rng, k, datetime(1995, 1, 2), 2498), ts_us)})
    k = n["events"]
    start = datetime(2024, 1, 1)
    secs = np.sort(rng.uniform(0, 30 * 86400, k))
    _write(out_dir, "events", {
        "event_id": pa.array(range(k), pa.int64()),
        "ts": pa.array([start + timedelta(seconds=float(s)) for s in secs], ts_us),
        "user_id": pa.array(rng.integers(0, n["users"], k), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, k).tolist(),
        "value": money(0, 330, k),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)]})
    texts: list[str] = []
    for i in range(n["documents"]):
        if i and rng.random() < 0.05:  # near-copy of an earlier document
            src = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(0, 3))):
                src[int(rng.integers(0, len(src)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(src))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    _write(out_dir, "documents", {
        "doc_id": pa.array(range(len(texts)), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, len(texts), p=LANG_W).tolist(),
        "source": [f"src{i % 20}" for i in range(len(texts))],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    vecs = rng.standard_normal((n["embeddings"], 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(range(n["embeddings"]), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n["embeddings"]), pa.int32())})


def load_parity(root: str):
    """The canonicalisation of ``scripts/check_parity.py`` (the one the
    oracle-parity tests use), loaded from the checkout."""
    path = os.path.join(root, "scripts", "check_parity.py")
    spec = importlib.util.spec_from_file_location("perfbench_check_parity", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def rounding_tie(a: str, b: str, unit: float) -> bool:
    """True if two canonical float cells differ by exactly ``unit``, the
    ROUND precision of a cell listed in ``ROUNDED_CELLS``."""
    try:
        diff = abs(float(a) - float(b))
    except ValueError:
        return False
    return abs(diff - unit) <= unit * 1e-6


class Oracle:
    """DuckDB views over the generated tables; compares a query's
    collected rows with its oracle SQL. Cells are compared exactly after
    ``check_parity``'s canonicalisation, except that a rounding tie in a
    cell of ``ROUNDED_CELLS`` is counted in ``ties`` instead of failing."""

    def __init__(self, data_dir: str, parity, tables: list[str]):
        import duckdb

        self.parity = parity
        self.ties: list[str] = []
        self.con = duckdb.connect()
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def check(self, name: str, sql: str, cols: list[str], rows: list[tuple]) -> str | None:
        res = self.con.execute(sql)
        ocols = [d[0] for d in res.description]
        if sorted(cols) != sorted(ocols):
            return f"columns {sorted(cols)} != oracle {sorted(ocols)}"
        got = self.parity._canon_rows(cols, rows)
        want = self.parity._canon_rows(ocols, res.fetchall())
        if len(got) != len(want):
            return f"{len(got)} rows, oracle {len(want)}"
        rounded = ROUNDED_CELLS.get(name, {})
        units = [rounded.get(c) for c in sorted(cols)]  # canonical column order
        bad = []
        for g, w in zip(got, want):
            if g == w:
                continue
            if all(x == y or (u and rounding_tie(x, y, u)) for x, y, u in zip(g, w, units)):
                self.ties.append(f"{g} ~ {w}")
            else:
                bad.append((g, w))
        return f"{len(bad)} rows differ, first {bad[0]}" if bad else None

    def close(self) -> None:
        self.con.close()


def release(df) -> None:
    """Unpersist what a builder attached for its caller to release."""
    handles = list(getattr(df, "cache_handles", None) or [])
    single = getattr(df, "cache_handle", None)
    if single is not None:
        handles.append(single)
    for h in handles:
        h.unpersist()


def dir_bytes_since(root: str, since: float) -> int:
    """Bytes of files under ``root`` modified at or after ``since``
    (wall-clock seconds)."""
    total = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            try:
                st = os.stat(os.path.join(dirpath, f))
            except OSError:
                continue
            if st.st_mtime >= since:
                total += st.st_size
    return total

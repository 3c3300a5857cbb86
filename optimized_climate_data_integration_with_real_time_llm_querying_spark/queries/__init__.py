"""Named query registry.

Every implemented operator from SURVEY.md §2 (plus the
LLM-training-pipeline operators) registers here as a :class:`Query`:
a DataFrame builder ``(spark, sf_dir) -> DataFrame`` and, where the
semantics are ANSI-SQL-expressible, a DuckDB oracle SQL twin. The
driver hash-compares builder output against the oracle at sf=0.01
(order-insensitive, column-name-sorted), so builders alias every
computed column to exactly the oracle's alias and keep float outputs
rounded.

ORACLE-HYGIENE RULES (cross-engine canonicalization)
====================================================
Every red driver row so far has been a violation of one of these, not
an engine bug. Check ALL of them before registering a query:

1. **Integer aggregates: cast DuckDB sums back to BIGINT.** DuckDB
   ``SUM(int)`` returns HUGEINT (int128), which pandas canonicalizes
   to float64 — ``1.0`` vs Spark's ``1`` hash-mismatches even though
   the values are equal. Always ``CAST(SUM(x) AS BIGINT)`` in the
   oracle. (Found on user_sessionization.)
2. **FLOOR before double→int casts.** Spark ``CAST(double AS INT)``
   truncates toward zero; DuckDB rounds. Apply ``FLOOR`` (or
   ``ROUND``) explicitly on BOTH sides so the semantics are pinned.
3. **Timestamps leave as DATE or epoch-µs BIGINT.** Raw timestamp
   stringification differs between engines (tz suffix, ns precision);
   ``CAST(x AS DATE)`` or ``epoch_us(x)`` / ``unix_micros(x)`` are
   stable.
4. **Doubles are ROUNDed identically on both sides** — 2 dp for
   money, 4–6 dp for ratios/similarities — and any ORDER BY ...
   LIMIT carries a unique-key tie-break so the kept rows are
   deterministic.
5. **No array/struct/map columns in registered output.** The driver
   canonicalizer sorts via pandas ``sort_values`` over all columns,
   which factorizes cell values — ``list`` cells raise ``TypeError:
   unhashable type``. Explode to scalar rows (Spark ``posexplode`` /
   DuckDB ``unnest(range(...))`` + subscript) or hash the array to a
   string on both sides. (Found on embedding_quantize_int8,
   media_feature_extract.)
6. **Hash/bucket logic uses the md5 trick, not xxhash64.** DuckDB
   ``CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT)`` equals Spark
   ``operators.dedup.md5_hash64(x)``, the one Spark side of this
   rule: every md5 bucket in the package calls it (``pmod``/``%`` on
   top where a site buckets), and ``md5_hash64(a, b)`` hashes
   ``a || ':' || b``. xxhash64 has no DuckDB twin — queries built on
   it are rows-only forever.
7. **DuckDB ``range()`` cannot lateral-reference columns** in the
   FROM clause — use ``unnest(range(0, col))`` in the SELECT list of
   a subquery instead; constant-bound ``FROM t, range(a, b) i`` is
   fine.
8. **Normalize signed zero: append ``+ 0.0`` after ROUND on any
   double that can land at zero.** Near-zero values (covariances,
   centered means) can round to -0.0 on one engine and +0.0 on the
   other — the canonicalizer prints "-0.000000" vs "0.000000".
   IEEE (+0.0) + (-0.0) = +0.0, so ``ROUND(x, n) + 0.0`` pins it on
   both sides. (Found on embedding_covariance.)
9. **Chained CTEs that each read the previous one MUST be
   ``AS MATERIALIZED`` in DuckDB** when any CTE has two readers —
   DuckDB inlines CTEs by default, so an n-round chain (BPE
   induction, iterative refinement) re-derives the whole prefix per
   round: measured 167 s -> 0.9 s at sf0.01 for the 12-round BPE
   oracle. Spark is unaffected (the engine side iterates eagerly).
10. **DuckDB ``levenshtein`` counts UTF-8 BYTES, Spark counts
   CHARACTERS** — ('', 'é') is 1 in Spark, 2 in DuckDB; they agree
   exactly on ASCII. Levenshtein-oracled queries must run on
   verified-ASCII columns (fuzzy_name_match_pairs: part names) or
   stay rows-only. Pinned in tests/test_hash_equivalence.py.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Query:
    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, or None -> rows-only check
    doc: str = ""


_REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None, doc: str = ""):
    """Decorator: add a builder to the global registry.

    Before writing an ``oracle`` string, read the ORACLE-HYGIENE
    RULES in this module's docstring — every driver red row to date
    was a violation of one of the seven rules, not an engine bug.
    """

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        _REGISTRY[name] = Query(name, fn, oracle, doc)
        return fn

    return deco


def all_queries() -> dict[str, Query]:
    # Import side-effect populates the registry.
    from . import (  # noqa: F401
        advanced,
        analytics,
        clustering,
        composed,
        corpus_ops,
        datasel,
        llm_pipeline,
        relational,
        retrieval,
        sketches,
        stats,
        streaming_shapes,
        warehouse,
    )

    return dict(_REGISTRY)

#!/usr/bin/env python
"""Row digests of registry queries: a same-rows check between two trees.

Usage: python scripts/row_digests.py [name ...]   (default: all 200)

Builds each named registry query at $SPARK_GRAFT_SF_DIR (the same
default as scripts/check_parity.py), canonicalizes its rows the way
the parity check does (column-name order, 6-dp floats, sorted rows),
frees what the builder holds with ``release``, and prints one JSON
object ``{name: sha256}``. The digest covers the sorted column names
and the canonical rows, so two checkouts that print equal objects
returned the same result sets. A query that raises is reported as
``"error: <type>: <message>"`` and the exit status is 1.

Compare a change against its parent by running this from each
checkout and diffing the two JSON lines.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from check_parity import SF_DIR, _canon_rows  # noqa: E402

from optimized_climate_data_integration_with_real_time_llm_querying_spark.lifecycle import (  # noqa: E402
    release,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.queries import (  # noqa: E402
    all_queries,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.session import (  # noqa: E402
    get_spark,
)


def digest(cols, rows) -> str:
    canon = [sorted(cols), _canon_rows(cols, rows)]
    return hashlib.sha256(json.dumps(canon).encode()).hexdigest()


def main() -> int:
    qs = all_queries()
    names = sys.argv[1:] or list(qs)
    missing = [n for n in names if n not in qs]
    if missing:
        print("unknown queries:", missing, file=sys.stderr)
        return 2
    spark = get_spark("row-digests")
    out, rc = {}, 0
    for name in names:
        try:
            df = qs[name].builder(spark, SF_DIR)
            try:
                out[name] = digest(df.columns, [tuple(r) for r in df.collect()])
            finally:
                release(df)
        except Exception as e:  # report and go on: one line per query
            first = str(e).strip().splitlines()[0] if str(e).strip() else ""
            out[name] = f"error: {type(e).__name__}: {first}"
            rc = 1
    print(json.dumps(out, sort_keys=True))
    return rc


if __name__ == "__main__":
    raise SystemExit(main())

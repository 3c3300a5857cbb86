"""QuerySpec -> one DataFrame plan.

Reproduces the semantics of the reference's four SQL compilers in one
place, Spark-first:

- conjunctive WHERE builder with a schema whitelist that drops
  unknown fields (``Disaster dollar/server.py:56-99`` — dropped
  fields are *returned* so callers can surface them instead of the
  reference's silent skip);
- comparison/IN/equality filters (P3/P5/P7/P10);
- case-insensitive equality (P4, ``era5client.py:67,268``);
- year equality / BETWEEN and month buckets on a real date column
  (P6/P8 — the reference string-matches ``date LIKE 'y-m%'``);
- dynamic projection (P1/P2), groupBy aggregation (A2/A6/A8),
  ORDER BY + LIMIT top-k (O1-O4).

Everything is built from column expressions, so Catalyst pushes the
whole filter conjunction into the scan and plans top-k as
TakeOrderedAndProject — the compile-time "optimizations" the
reference hand-rolled (SURVEY.md §4) fall out for free.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DateType, TimestampNTZType, TimestampType

from .queryspec import COMPARISON_OPS, QuerySpec

_OP_BUILDERS = {
    "=": lambda c, v: c == v,
    "==": lambda c, v: c == v,
    "!=": lambda c, v: c != v,
    ">": lambda c, v: c > v,
    ">=": lambda c, v: c >= v,
    "<": lambda c, v: c < v,
    "<=": lambda c, v: c <= v,
}


def _filter_expr(col: Column, value, ci: bool) -> Column:
    """One filters-dict entry -> a Column predicate (conjunction)."""
    if isinstance(value, tuple):
        op, v = value
        if op not in COMPARISON_OPS:
            raise ValueError(f"unknown comparison op {op!r}")
        return _OP_BUILDERS[op](col, v)
    if isinstance(value, list):
        if value and all(isinstance(v, tuple) for v in value):
            expr = None
            for item in value:
                e = _filter_expr(col, item, ci)
                expr = e if expr is None else (expr & e)
            return expr
        if ci:
            return F.upper(col).isin([str(v).upper() for v in value])
        return col.isin(value)
    if ci and isinstance(value, str):
        return F.upper(col) == value.upper()
    return col == value


def _time_column(df: DataFrame) -> tuple[Column, bool] | None:
    """Find the dataset's time axis: a date/timestamp column (year()/
    month() apply) or an integer 'year' column. Returns (col, is_date)."""
    # TimestampNTZ included: Spark 4 reads parquet timestamps with
    # isAdjustedToUTC=false as NTZ (identical semantics under the
    # session's pinned UTC timezone).
    for f in df.schema.fields:
        if isinstance(f.dataType, (DateType, TimestampType, TimestampNTZType)):
            return F.col(f.name), True
    for f in df.schema.fields:
        if f.name.lower() == "year":
            return F.col(f.name), False
    return None


def apply_filters(
    spec: QuerySpec, df: DataFrame
) -> tuple[DataFrame, list[str]]:
    """The spec's filters dict as a conjunction of predicates on
    ``df`` (P9's whitelist builder): (filtered, dropped_fields), where
    dropped_fields are the filter keys ``df`` lacks. A column in
    ``spec.case_insensitive`` compares ``upper()`` on both sides.
    The filter stage of :func:`compile_spec`, and the whole read of a
    series the NL layer finishes on the driver."""
    cols = set(df.columns)
    dropped: list[str] = []
    for name, value in spec.filters.items():
        if name not in cols:
            dropped.append(name)
            continue
        df = df.filter(_filter_expr(F.col(name), value, name in spec.case_insensitive))
    return df, dropped


def compile_spec(
    spec: QuerySpec, df: DataFrame
) -> tuple[DataFrame, list[str]]:
    """Compile the spec against a dataset DataFrame.

    Returns (plan, dropped_fields): dropped_fields lists filter keys
    not present in the schema — the reference silently drops them
    (``server.py:67-69, 89-91``); here they're reported so the NL
    layer can tell the user.
    """
    spec.validate()
    cols = set(df.columns)
    df, dropped = apply_filters(spec, df)

    # P6/P8 time constraints.
    if spec.year is not None or spec.year_range is not None or spec.months:
        tc = _time_column(df)
        if tc is None:
            raise ValueError(f"dataset {spec.dataset!r} has no time column")
        col, is_date = tc
        year_col = F.year(col) if is_date else col
        if spec.year is not None:
            df = df.filter(year_col == spec.year)
        if spec.year_range is not None:
            lo, hi = spec.year_range
            df = df.filter(year_col.between(lo, hi))
        if spec.months:
            if not is_date:
                raise ValueError(f"dataset {spec.dataset!r} has no month granularity")
            df = df.filter(F.month(col).isin(spec.months))

    # Aggregation (A2/A6/A8) or plain projection (P1/P2).
    if spec.agg != "none":
        agg_fn = {"sum": F.sum, "avg": F.avg, "count": F.count}[spec.agg]
        if spec.agg == "count":
            aggs = [F.count(F.lit(1)).alias("count")]
        else:
            missing = [m for m in spec.metrics if m not in cols]
            if missing:
                raise ValueError(f"unknown metric columns {missing}")
            aggs = [agg_fn(m).alias(m) for m in spec.metrics]
        df = df.groupBy(*spec.group_by).agg(*aggs) if spec.group_by else df.agg(*aggs)
    elif spec.metrics:
        keep = spec.group_by + [m for m in spec.metrics if m not in spec.group_by]
        missing = [m for m in keep if m not in cols]
        if missing:
            raise ValueError(f"unknown columns {missing}")
        df = df.select(*keep)

    # O1-O4 sort/limit (top-k plans as TakeOrderedAndProject).
    if spec.order_by:
        df = df.orderBy(
            *[F.col(c).asc() if asc else F.col(c).desc() for c, asc in spec.order_by]
        )
    if spec.limit is not None:
        df = df.limit(spec.limit)
    return df, dropped

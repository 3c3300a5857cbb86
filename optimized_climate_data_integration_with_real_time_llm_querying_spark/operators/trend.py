"""Holt linear-trend state recursion (double exponential smoothing),
shared by the ``holt_forecast_daily`` registry query and the NL
planner's "which X is trending up?" path.

The recursion l_t = a*y_t + (1-a)*(l+b); b_t = b*(l_t - l_{t-1}) +
(1-b)*b_{t-1} is sequential and its input is small (one value per key
and step: types x 30 days, or keys x years), so callers collect the
series with one Spark action and the recursion runs here, on the
driver. Each step re-rounds to the 6-dp grid with ``round6``, which
reproduces Spark's ``round(double, 6)``; with the default DYADIC
constants 0.75/0.25 the trajectory is the one the registry oracle
replays as generated SQL CTEs, step for step.
"""

from __future__ import annotations

import math
from collections.abc import Mapping, Sequence
from decimal import ROUND_HALF_UP, Context, Decimal

_SIX_DP = Decimal("1e-6")
# A finite double has at most 309 integer digits; quantizing to 6 dp
# must never run out of precision.
_WIDE = Context(prec=400)


def round6(x: float | None, places: int = 6) -> float | None:
    """Spark's ``round(x, places)`` for a double (6 dp unless given):
    HALF_UP on the shortest decimal representation
    (``BigDecimal.valueOf``), NaN, infinities and null passed through.
    Python's ``round()`` is banker's rounding on the binary value and
    differs on ties. ``+ 0.0`` because a BigDecimal has no negative
    zero, so Spark returns 0.0 for -0.0 and for negatives that round to
    zero. This is the package's one Python twin of Spark's ``round``."""
    if x is None or not math.isfinite(x):
        return x
    grid = _SIX_DP if places == 6 else Decimal(1).scaleb(-places)
    return float(Decimal(repr(x)).quantize(grid, ROUND_HALF_UP, _WIDE)) + 0.0


def holt_linear_state(
    series: Mapping[object, Sequence[float | None]],
    key_col: str,
    n_steps: int,
    alpha: float = 0.75,
    beta: float = 0.25,
    series_desc: str = "steps",
) -> dict[object, tuple[float | None, float | None]]:
    """{key: (l, b)} after ``n_steps`` Holt steps over each key's values
    (in step order).

    Initial state from the first two observations: l_1 = y_1,
    b_1 = y_2 - y_1 (the standard initialization), so the recursion
    NEEDS at least two observations, and every key must have exactly
    ``n_steps`` of them: a recursion over a short series would fit the
    wrong steps. Both preconditions raise here, so no caller can forget
    them. ``key_col`` and ``series_desc`` ("days", "years") name the
    key and the step unit in the error. A null observation nulls the
    key's state, as SQL arithmetic would.
    """
    if n_steps < 2:
        raise ValueError(
            f"holt_linear_state: need at least 2 {series_desc} "
            f"(got n_steps={n_steps}) — initialization uses the first "
            "two observations"
        )
    counts = [len(ys) for ys in series.values()]
    if not counts or min(counts) != n_steps or max(counts) != n_steps:
        raise ValueError(
            f"holt_linear_state: expected exactly {n_steps} "
            f"{series_desc} per {key_col}, got {sorted(set(counts))}"
        )
    a, b_ = alpha, beta
    state = {}
    for key, ys in series.items():
        if any(y is None for y in ys):
            state[key] = (None, None)
            continue
        l, b = float(ys[0]), float(ys[1] - ys[0])
        for y in ys[1:]:
            l_new = round6(a * y + (1 - a) * (l + b))
            b = round6(b_ * (l_new - l) + (1 - b_) * b)
            l = l_new
        state[key] = (l, b)
    return state

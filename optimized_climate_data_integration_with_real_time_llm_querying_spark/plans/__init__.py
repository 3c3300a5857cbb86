"""Query IR + planner.

``QuerySpec`` formalizes the reference's only declarative IR — the
filters dict handed to ``advanced_query`` (reference
``Disaster dollar/server.py:40-103``: ``{col: value | (op, value) |
[(op, value), ...]}``) — and extends it with the fields the other
three clients encode ad hoc (metrics, entities, years/months,
grouping, ordering). The planner compiles a spec into ONE DataFrame
plan, replacing the reference's Cartesian query fan-out
(``era5client.py:246-277``, ``EDGARclient.py:228-303``).
"""

from .planner import apply_filters, compile_spec
from .queryspec import QuerySpec

__all__ = ["QuerySpec", "apply_filters", "compile_spec"]

"""Who frees the intermediates a query keeps persisted.

A builder persists (or localCheckpoints) an intermediate when several
branches of its plan read it, but cannot free it: the plan runs only
after the builder returns. So the builder hands it to its result with
:func:`hold`, and whoever materializes the result calls :func:`release`.
A builder that composes others holds their results too, so one
``release`` on the outermost result frees everything its plan kept.
No other module knows where the handles are kept.
"""

from __future__ import annotations

import gc

from pyspark.sql import DataFrame

_HANDLES = "cache_handles"


class CheckpointHandle:
    """Release handle for a ``localCheckpoint()``-ed DataFrame.

    Checkpointed blocks have no synchronous public release: Spark's
    ContextCleaner frees them after no live reference to the frame
    remains and the driver JVM has run a GC. ``unpersist`` drops this
    handle's reference, runs a Python GC so py4j detaches the frame,
    and asks for one advisory JVM ``System.gc()``. The blocks become
    reclaimable once the caller has also dropped the result frame,
    whose plan still references them; the frames checkpointed this way
    are small (labels, edge lists), so the delay costs little.
    """

    def __init__(self, df: DataFrame):
        self._df = df

    def unpersist(self) -> None:
        df, self._df = self._df, None
        if df is None:
            return
        sc = df.sparkSession.sparkContext
        df = None
        gc.collect()
        try:
            sc._jvm.System.gc()
        except Exception:
            pass  # reclamation stays lazy, which is still correct


def hold(out: DataFrame, *items) -> DataFrame:
    """Add release handles to ``out`` and return it.

    Each item is a persisted DataFrame, a :class:`CheckpointHandle`,
    ``None`` (skipped) or a child result whose handles ``out``
    inherits. A DataFrame that holds nothing and is not persisted is a
    child result that kept nothing, and adds nothing.
    """
    handles = list(getattr(out, _HANDLES, ()))
    for item in items:
        inherited = getattr(item, _HANDLES, None)
        if inherited is not None:
            handles.extend(inherited)
        elif item is not None and getattr(item, "is_cached", True):
            handles.append(item)
    setattr(out, _HANDLES, handles)
    return out


def release(df: DataFrame) -> list:
    """Unpersist every handle ``df`` holds and return them; a second
    call returns ``[]``. A failing handle does not stop the others: the
    first failure is raised after all have been tried."""
    handles = getattr(df, _HANDLES, None) or []
    setattr(df, _HANDLES, [])
    first = None
    for h in handles:
        try:
            h.unpersist()
        except Exception as e:  # noqa: BLE001 — raised below
            first = first or e
    if first is not None:
        raise first
    return handles

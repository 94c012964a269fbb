"""Scoped caching for driver-facing operator queries.

The dedup family persists shingle/prefix intermediates that are
re-referenced both within one query (self-join sides) and across queries
(jaccard and minhash share the shingle stage via Spark's cache-plan
matching). A bare ``.persist()`` with no owner leaks those blocks for the
life of the session; this registry keeps the reuse but gives the harness
a single ``release_caches()`` to drop every registered block once a suite
(check_oracles, bench) finishes — a long-lived session ends with zero
cached RDDs instead of one shingle table per sf_dir ever touched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_SCOPED: list[DataFrame] = []
_ON_RELEASE: list = []


def on_release(fn) -> None:
    """Register a callback run by ``release_caches()`` — lets owners of
    derived caches keyed on scoped DataFrames (e.g. the ANN index registry)
    invalidate themselves when the scope closes."""
    _ON_RELEASE.append(fn)


def scoped_persist(df: DataFrame) -> DataFrame:
    df = df.persist()
    _SCOPED.append(df)
    return df


def scoped(df: DataFrame) -> DataFrame:
    """Register an already-cached DF (e.g. a localCheckpoint) for release."""
    _SCOPED.append(df)
    return df


def unpersist(df: DataFrame) -> None:
    """Release ``df``'s blocks: a localCheckpoint (a ``LogicalRDD`` plan)
    frees its RDD blocks, which ``DataFrame.unpersist`` cannot see; any
    other DataFrame drops its cache entry. Best-effort: the
    ContextCleaner's periodic GC reclaims anything missed, and a stopped
    session has nothing to free."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
        else:
            df.unpersist(blocking=False)
    except Exception:
        pass


def release_caches() -> None:
    """Unpersist every block registered since the last release (both
    CacheManager entries and localCheckpoint blocks, see ``unpersist``).
    Release callbacks are one-shot: the list is cleared after firing, so
    owners re-registering on the next scope never accumulate duplicates
    across scope cycles."""
    global _SCOPED, _ON_RELEASE
    for df in _SCOPED:
        unpersist(df)
    _SCOPED = []
    callbacks, _ON_RELEASE = _ON_RELEASE, []
    for fn in callbacks:
        try:
            fn()
        except Exception:
            pass

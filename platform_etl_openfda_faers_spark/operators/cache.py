"""Cache-lifetime plumbing for operators that persist intermediates.

Several operators persist internal DataFrames (``pagerank``'s edge
projection, ``contingency_llr``'s pair table, the dedup shingle indexes)
because the result's lazy DAG consumes them more than once.  The result
itself is returned UN-materialized, so the operator cannot unpersist
before returning — that would evict the cache before it is ever used.

Lifetime contract (two supported modes):

1. **Runner-owned** (what ``bench.py`` / ``tools/check_correctness.py``
   do): call ``spark.catalog.clearCache()`` between queries.  Simple,
   and correct for one-shot query execution.
2. **Caller-owned**: every operator that persists attaches its handles
   to the returned DataFrame via :func:`attach_cached`; after
   materializing the result, call :func:`unpersist_cached` to release
   exactly the caches that operator created — surgical, for long-lived
   sessions running many pipelines where a global ``clearCache`` would
   evict unrelated tables.

Handles propagate: composing operators can re-attach a child's deps to
the final result (``attach_cached(out, *cached_deps(child))``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_ATTR = "_spark_graft_cached_deps"


def attach_cached(df: DataFrame, *handles: DataFrame) -> DataFrame:
    """Record persisted dependency ``handles`` on ``df`` (appending to
    any already attached) and return ``df``."""
    deps = list(getattr(df, _ATTR, ()))
    deps.extend(handles)
    setattr(df, _ATTR, deps)
    return df


def cached_deps(df: DataFrame) -> list[DataFrame]:
    """The persisted dependencies attached to ``df`` (possibly empty)."""
    return list(getattr(df, _ATTR, ()))


def unpersist_cached(df: DataFrame) -> int:
    """Unpersist every attached dependency of ``df`` without blocking;
    returns how many handles were released.  Safe to call twice (second
    call is a no-op)."""
    deps = cached_deps(df)
    for h in deps:
        h.unpersist(False)
    setattr(df, _ATTR, [])
    return len(deps)

"""Training-data pipeline operators beyond the reference's surface:
deduplication, similarity search, text analysis and skew-handling
utilities (see repo brief: first-class components alongside SURVEY.md
§2)."""

from pyspark.sql import DataFrame

# ---------------------------------------------------------------------------
# Session-level operator-cache registry (ADVICE r5: a long session
# repeatedly running cache-backed operators — minhash signatures, IVF
# assignments, dedup-component labels — must not accumulate unreleased
# executor storage).  Operators register the frames they persist when
# the caller doesn't take ownership via a ``handles`` list; callers
# call release_operator_caches() once the previous result is
# materialized, so at most one invocation's caches are live at a time.
# ---------------------------------------------------------------------------

_SESSION_CACHES: list[DataFrame] = []


def register_operator_cache(df: DataFrame) -> DataFrame:
    """Track a persisted frame for later release_operator_caches()."""
    _SESSION_CACHES.append(df)
    return df


def release_operator_caches() -> int:
    """Unpersist every registered operator cache; returns the count
    released.  Safe to call while a returned-but-materialized result
    still references the frames (unpersist only forces recompute on a
    later re-read, never wrong results)."""
    n = len(_SESSION_CACHES)
    while _SESSION_CACHES:
        _SESSION_CACHES.pop().unpersist()
    return n

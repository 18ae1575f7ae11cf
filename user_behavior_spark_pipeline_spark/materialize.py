"""Share-once seam for corpus-sized intermediates (SCALE.md "Durability
caveat").

Durability is a per-call-site choice made in code: small derived tables
truncate lineage with ``df.localCheckpoint()`` at their call site, and
corpus-sized frames keep lineage through :func:`cache_shared` — a lost
executor recomputes them instead of failing the job, and checkpointing a
corpus-sized frame would double its storage.

:func:`cache_shared` registers its frame so sessions running many queries
reclaim executor storage with :func:`release_shared` between queries.
There is no cross-query cache: each query computes its own inputs, so
after :func:`release_shared` the session holds no cached frame.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame

# frames cached by cache_shared that are still holding executor storage;
# release_shared drains it. Bounded: sessions that never call
# release_shared (pytest, the oracle sweep, interactive use) must
# not accumulate pinned CacheManager entries forever — past the cap the
# OLDEST frame is unpersisted (its lineage recomputes if some plan still
# needs it: slower, never wrong).
_SHARED_CACHES: list[DataFrame] = []
_MAX_SHARED_CACHES = 16


def _register_cache(cached: DataFrame) -> None:
    _SHARED_CACHES.append(cached)
    while len(_SHARED_CACHES) > _MAX_SHARED_CACHES:
        # a query using >16 shared frames would silently lose the
        # share-once guarantee mid-plan (fan-out consumers recompute the
        # evicted lineage concurrently — the exact pathology this seam
        # prevents), so the eviction must be LOUD (ADVICE r05). Callers
        # running many queries should release_shared between queries —
        # bench.py does — keeping any single query far under the cap.
        import warnings

        warnings.warn(
            f"materialize: shared-cache cap ({_MAX_SHARED_CACHES}) hit — "
            "unpersisting the oldest shared frame; if one query registered "
            "all of these, its fan-out consumers will recompute lineage "
            "(correct but O(branches) slower). Call release_shared() "
            "between queries or raise _MAX_SHARED_CACHES.",
            stacklevel=3,
        )
        try:
            _SHARED_CACHES.pop(0).unpersist()
        except Exception:
            pass


def cache_shared(df: DataFrame) -> tuple[DataFrame, int]:
    """Corpus-sized shared intermediate: persist MEMORY_AND_DISK WITH
    lineage plus an eager count, registered for :func:`release_shared`
    and bounded by the cache cap. Eagerness is part of the contract: a
    LAZY persist under a fan-out plan is populated concurrently by its
    consumers, each computing the full lineage. Returns ``(frame,
    count)`` — the count is free, so sizing callers (bloom filters, LSH
    auto-knobs) need no second job."""
    cached = df.persist(StorageLevel.MEMORY_AND_DISK)
    n = cached.count()
    _register_cache(cached)
    return cached, n


def release_keyed() -> int:
    # kept only because perfbench/workloads.py imports and calls it: no
    # frame outlives release_shared(), so there is nothing to release
    return 0


def release_shared() -> int:
    """Unpersist every frame registered by cache_shared since the last
    release. Callers that hold a RETURNED plan referencing a shared cache
    (e.g. bloom_semi_join's key set) should execute the plan before
    releasing — after release the plan still computes correctly, it just
    recomputes the intermediate from lineage. Returns the number of
    frames released."""
    n = 0
    while _SHARED_CACHES:
        try:
            _SHARED_CACHES.pop().unpersist()
            n += 1
        except Exception:
            pass  # session already stopped — nothing to reclaim
    return n

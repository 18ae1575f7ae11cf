"""Share-once seam for corpus-sized and cross-query intermediates
(SCALE.md "Durability caveat").

Durability is a per-call-site choice made in code: small derived tables
truncate lineage with ``df.localCheckpoint()`` at their call site, and
corpus-sized frames keep lineage through :func:`cache_shared` — a lost
executor recomputes them instead of failing the job, and checkpointing a
corpus-sized frame would double its storage.

:func:`cache_shared` registers its frame so sessions running many queries
reclaim executor storage with :func:`release_shared` between queries.
:func:`cache_shared_by_key` pins small frames several registered queries
rebuild identically; :func:`release_keyed` drains those.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

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


_KEYED_SHARED: dict[tuple, DataFrame] = {}


def cache_shared_by_key(key, builder, spark: SparkSession, eager=True) -> DataFrame:
    """SESSION-LIFETIME keyed share for small derived frames that several
    REGISTERED QUERIES recompute identically (VERDICT r05 #4: the three
    certified ANN queries each rebuilt the same exact-top-k baseline).
    Entries survive :func:`release_shared` — reuse across queries is the
    point — so this is ONLY for frames small enough to pin for the
    session. The key is namespaced by ``spark``'s application id, so a
    frame from a stopped session is never served to a new one;
    :func:`release_keyed` clears explicitly. The hit check runs BEFORE
    ``builder()``, so a warm hit skips plan construction entirely
    (0.3–0.6 s of py4j expression-building).

    ``eager=False`` registers the persist WITHOUT the eager count: the
    caller's next action populates the cache as a side effect, saving one
    blocking driver job per cold build. ONLY for frames whose first
    consumer references them exactly once (the ANN certificate's exact
    baseline feeds one join) — a lazily-persisted frame first touched by
    two concurrent stages computes its lineage in both. Later consumers
    via the same key read the by-then-populated cache."""
    full_key = (spark.sparkContext.applicationId, key)
    hit = _KEYED_SHARED.get(full_key)
    if hit is not None:
        return hit
    # prune entries from OTHER application ids: they belong to stopped
    # sessions (a process restarting Spark repeatedly must not accumulate
    # dead DataFrame references). A process running two LIVE sessions
    # would thrash this prune — don't share the seam across concurrent
    # sessions (nothing in this repo does).
    for stale in [k for k in _KEYED_SHARED if k[0] != full_key[0]]:
        _KEYED_SHARED.pop(stale, None)
    cached = builder().persist(StorageLevel.MEMORY_AND_DISK)
    if eager:
        cached.count()
    _KEYED_SHARED[full_key] = cached
    return cached


def release_keyed() -> int:
    """Unpersist and forget every keyed shared frame. Returns the count."""
    n = 0
    while _KEYED_SHARED:
        _, df = _KEYED_SHARED.popitem()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    return n


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

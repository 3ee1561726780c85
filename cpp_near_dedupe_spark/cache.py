"""Session-level cache registry: persist with a lifecycle.

Several operators persist an intermediate that feeds multiple plan
subtrees (Spark does not CSE duplicated Python-UDF subtrees, so an
unpersisted multi-consumer ``mapInPandas`` kernel re-runs once per
consumer). The persist is correct per-query, but a long-lived session
accumulating one cached RDD per query call leaks executor storage.

Contract: operators register every persist here via :func:`track`; the
CALLER that materializes the returned DataFrame releases the caches when
it is done with the query via :func:`release_all` (bench.py and the
driver-facing query wrappers in ``__spark_entry__`` do this between
queries; tests assert the registry drains — see
tests/test_cache_lifecycle.py). Releasing is always safe: an unpersisted
DataFrame stays computable, it just loses the cache.

Plan-shaped small relations (e.g. the hot-bucket stats broadcast in
operators/pairs.py) deliberately do NOT persist at all — identical
broadcast subtrees are collapsed by Spark's ReuseExchange rule instead.

``dedupe_increment`` (streaming/incremental.py) tracks the batch's
sketches and bands and its within-batch clusters, which
``resolve_clusters`` reads three times. It keeps no persist of the
within-batch kept ids: they are anti-joined once against the batch's
state-match ids. Relations cut off their lineage by an eager
``localCheckpoint`` are not registry entries either — connected
components' edge sets, and ``dedupe_increment``'s state-match and
survivor ids. The survivor ids must not be a persist: the state append
re-caches every cached plan that reads the state directories, which
would drop the persist and re-run the state match for each later
consumer. ``release_all`` leaves such blocks alone; they go when their
DataFrame is garbage-collected.

Scope: the registry is process-global and assumes SERIAL query execution
on the driver — one query is built, materialized, and released before the
next begins (the contract bench.py and the ``_released`` wrappers in
``__spark_entry__`` follow). Concurrent queries on one driver would need a
per-query registry token; with the global one, ``release_all`` from query
A would unpersist query B's still-live caches — not a correctness bug
(an unpersisted DataFrame stays computable) but a recomputation of any
multi-consumer kernel, and for side-effecting plans the caller must
materialize before any release (``write_arrow_ipc`` localCheckpoints its
summary for exactly this reason). Registry mutations themselves are
lock-protected so an interleaved track/release never corrupts the list.
One query may read its tracked caches from several driver threads
(``dedupe_increment`` runs its state match beside its within-batch pass);
the caller releases them only after every thread is done.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_TRACKED: list[DataFrame] = []
_LOCK = threading.Lock()


def track(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK
) -> DataFrame:
    """Persist ``df`` and register it for a later :func:`release_all`."""
    df.persist(level)
    with _LOCK:
        _TRACKED.append(df)
    return df


def release_all(blocking: bool = False) -> int:
    """Unpersist every tracked DataFrame; returns how many were released."""
    n = 0
    while True:
        with _LOCK:
            if not _TRACKED:
                break
            df = _TRACKED.pop()
        try:
            df.unpersist(blocking)
        except Exception:
            pass  # session already stopped — nothing to release
        n += 1
    return n


def tracked_count() -> int:
    with _LOCK:
        return len(_TRACKED)

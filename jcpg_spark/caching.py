"""Cache lifecycle for heavy intermediates reused across downstream joins.

Spark's exchange-reuse does not always dedupe a subtree referenced from
several branches of one query (measured: the MinHash signature aggregate
recomputed 4x in ``minhash_lsh_pairs``), so operators persist such frames.
A bare ``.persist()`` inside an operator leaks: the CacheManager holds the
plan until an explicit unpersist, so repeated registry calls accumulate
cached RDDs for the life of the session. ``swap_persist`` gives each call
site a keyed slot — persisting a new frame releases the previous one, so
at most one cache per call site is ever live; ``clear_caches`` drops them
all (long sessions, tests).

A frame from an earlier call that is unpersisted while a lazy result still
references it silently falls back to recompute — correctness is never
affected, only that stale result's speed.

``driver_probe`` is the probe of the scale-adaptive operators (union-find
in ``canonicalize.connected_components``, the ``p+`` closure and DESCRIBE
in ``operators.query``): one job decides whether a relation fits the
driver, and when it does not, the relation stays persisted in the call
site's slot so the distributed fallback reuses what the probe computed.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

log = logging.getLogger(__name__)

_live: dict[str, DataFrame] = {}


def swap_persist(
    key: str, df: DataFrame, storage: StorageLevel = StorageLevel.MEMORY_AND_DISK
) -> DataFrame:
    prev = _live.pop(key, None)
    if prev is not None:
        try:
            prev.unpersist()
        except Exception:
            pass  # previous session already stopped
    _live[key] = df.persist(storage)
    return df


def clear_caches() -> None:
    for key in list(_live):
        try:
            _live.pop(key).unpersist()
        except Exception:
            pass


def release(key: str) -> None:
    prev = _live.pop(key, None)
    if prev is not None:
        prev.unpersist()


def row_bytes(rows: list) -> float:
    """Estimated driver bytes per collected row: the ``str`` width of
    every field over the first 10 000 rows, plus 48 bytes of per-row
    overhead."""
    sample = rows[:10_000]
    if not sample:
        return 0.0
    return sum(len(str(v)) for r in sample for v in r) / len(sample) + 48


def driver_probe(key: str, df: DataFrame, max_rows: int, max_bytes: int) -> list | None:
    """ONE job collecting at most ``max_rows + 1`` rows of ``df``. Returns
    them when they are at most ``max_rows`` and their ``row_bytes``
    estimate is at most ``max_bytes`` (wide keys fill the heap long before
    the row cap). Otherwise returns None and leaves ``df`` persisted in
    ``key``'s slot, so the caller's distributed path reads the partitions
    the probe already computed. A ``df`` its caller had cached is neither
    persisted nor released here."""
    lvl = df.storageLevel
    owned = not (lvl.useMemory or lvl.useDisk or lvl.useOffHeap)
    if owned:
        swap_persist(key, df)
    rows = df.limit(max_rows + 1).collect()
    if len(rows) <= max_rows:
        est = row_bytes(rows) * len(rows)
        if est <= max_bytes:
            if owned:
                release(key)
            return rows
        log.info("%s: %d rows ~%.0f MiB exceed the driver byte budget; "
                 "running the distributed path", key, len(rows), est / 2**20)
    return None

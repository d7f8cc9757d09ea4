"""Session-scoped persist lifecycle (VERDICT r6 #3 / ADVICE r6).

Operators that persist an intermediate relation (LSH band tables,
PPJoin toksets, prefix-sum inputs, census caches) return a LAZY
DataFrame whose plan reads the cached relation — so the operator
itself can never unpersist: the cache's whole point is to be alive at
the caller's terminal action.  Without a release protocol, a
long-lived session that runs many registry entries (``Engine.query``,
the 236-entry correctness gate, bench.py's 7 passes) accumulates
disk-backed cache blocks forever — an OOM / eviction-thrash source at
production scale — and re-persisting the same plan every call spams
``CacheManager: Asked to cache already cached data`` warnings.

The protocol here:

- :func:`scoped_persist` — persist-once: consults Spark's
  CacheManager through ``df.storageLevel`` (a canonicalized-plan
  lookup, NOT an object-identity check), so re-building the same
  query in the same session reuses the existing cache instead of
  re-persisting (kills the already-cached warning), and every persist
  this module issues is tracked for release.
- :func:`release_persisted` — the caller-side boundary: drop every
  tracked cache after the terminal action of a query.  bench.py calls
  it once after the timed passes; tools/check_correctness.py calls it
  per entry and asserts the CacheManager ends empty.
- :func:`cached_plan_count` / :func:`persistent_rdd_count` — the
  leak assertions' measurement hooks.

Correctness never depends on a cache being alive (every persisted
relation is deterministic from its lineage), so releasing early is
always safe — only the recompute cost returns.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

_TRACKED: list[DataFrame] = []


def scoped_persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` MEMORY_AND_DISK unless its (canonicalized) plan
    is already in the session's CacheManager; track the handle for
    :func:`release_persisted`."""
    if df.storageLevel != StorageLevel.NONE:
        return df
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _TRACKED.append(df)
    return df


def release_persisted(blocking: bool = False) -> int:
    """Unpersist every relation :func:`scoped_persist` tracked in this
    process; returns how many were released.  Call after the terminal
    action that consumes a query's result."""
    n = 0
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            df.unpersist(blocking)
            n += 1
        except Exception:  # noqa: BLE001 — session already stopped
            pass
    return n


def cached_plan_count(spark: SparkSession) -> int:
    """Number of logical plans the session's CacheManager holds
    (DataFrame-level persists; localCheckpoint RDDs are GC-managed and
    not counted here)."""
    return spark._jsparkSession.sharedState().cacheManager() \
        .cachedData().size()


def persistent_rdd_count(spark: SparkSession) -> int:
    """RDD-level persistence census (includes localCheckpoint blocks
    until the ContextCleaner collects them) — informational."""
    return spark.sparkContext._jsc.getPersistentRDDs().size()

"""Session-scoped cache lifecycle for lazy catalog plans.

Catalog functions return LAZY DataFrames, so a ``.persist()`` placed
inside one (to stop a multi-consumer sub-pipeline re-executing per
consumer) cannot be paired with an ``unpersist()`` at the call site —
the action happens later, in the caller. Before r13 those persists
lived for the whole session (catalog/_registry.py documented the LRU-
eviction reliance): in a bench or oracle loop a leaked cache silently
warms LATER queries (and in-process re-runs of the SAME query), and at
100 TB it is executor-memory pressure for the rest of the session
(guide §5: unpersist when done).

``tracked_persist`` is ``persist()`` plus registration in a per-session
registry; ``release_tracked_persists`` unpersists and clears the
registry. Long-lived callers (bench.py between timed queries,
scripts/check_oracle.py between oracle checks) call the release after
each query's action completes, giving every catalog-created cache a
query-scoped lifetime. Within one query nothing changes: the persist
is live for exactly the action(s) that consume it. Unpersisting is
correctness-free for the DETERMINISTIC frames catalog functions persist
(the registry value-determinism contract) — a released frame simply
recomputes to the same values if ever re-referenced.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession

_REG_ATTR = "_ofrp_tracked_persists"
# guards registry creation, append and removal: frames are registered from
# build threads (project_all's 8 plan builders, curation's worker branch)
_REG_LOCK = threading.Lock()


def tracked_persist(df: DataFrame, level: str | None = None) -> DataFrame:
    """``df.persist()`` registered for later session-wide release.

    ``level`` is an optional ``pyspark.StorageLevel`` attribute name
    (default: Spark's default MEMORY_AND_DESERIALIZED level).
    """
    if level is not None:
        from pyspark.storagelevel import StorageLevel

        df.persist(getattr(StorageLevel, level))
    else:
        df.persist()
    spark = df.sparkSession
    with _REG_LOCK:
        reg = getattr(spark, _REG_ATTR, None)
        if reg is None:
            reg = []
            setattr(spark, _REG_ATTR, reg)
        reg.append(df)
    return df


def release_persist(df: DataFrame) -> None:
    """Unpersist one frame and drop it from its session's registry — the
    single-frame release for owners with a known end of use (an
    ``EventLog`` unpersisting its log), so the registry never keeps a
    frame whose blocks are already gone."""
    df.unpersist()
    with _REG_LOCK:
        reg = getattr(df.sparkSession, _REG_ATTR, None)
        if reg:
            reg[:] = [d for d in reg if d is not df]


def release_tracked_persists(spark: SparkSession) -> int:
    """Unpersist every tracked frame; returns how many were released.

    blocking=False: block deletion proceeds asynchronously — the caller
    only needs the CacheManager entries gone so the next plan/measurement
    cannot read through a stale cache. Safe to call at any point between
    queries; a no-op when nothing is registered. Frames registered while
    this runs stay registered for the next release.
    """
    with _REG_LOCK:
        reg = getattr(spark, _REG_ATTR, None) or []
        frames = list(reg)
        reg.clear()
    for df in frames:
        try:
            df.unpersist(False)
        except Exception:  # pragma: no cover — session teardown races
            pass
    return len(frames)

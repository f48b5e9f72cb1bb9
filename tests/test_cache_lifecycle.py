"""Tracked-persist lifecycle (r13): catalog-created caches are released
between queries by long-lived callers, so a re-run can never read a cache
a previous run left behind (the bench honest-cold retry contract)."""

import pytest
from pyspark.sql import functions as F

from open_ftth_relational_projector_spark.cache import (
    release_tracked_persists,
    tracked_persist,
)


def test_tracked_persist_registers_and_release_unpersists(spark):
    df = spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("v"))
    out = tracked_persist(df)
    assert out is df
    assert df.storageLevel.useMemory  # persisted
    n = release_tracked_persists(spark)
    assert n == 1
    assert not df.storageLevel.useMemory  # unpersisted
    # registry is cleared: releasing again is a no-op
    assert release_tracked_persists(spark) == 0


def test_release_is_safe_with_no_registry(spark):
    assert release_tracked_persists(spark) >= 0


def test_catalog_query_persists_are_query_scoped(spark):
    """corpus_pipeline_stats (llm.py) persists its survivor frame through
    tracked_persist; after the action + release, no catalog-created cache
    remains registered."""
    from open_ftth_relational_projector_spark.catalog import SPARK_QUERIES

    release_tracked_persists(spark)
    df = SPARK_QUERIES["corpus_pipeline_stats"](spark, "/root/testdata/sf0.001")
    df.write.format("noop").mode("overwrite").save()
    assert release_tracked_persists(spark) >= 1


def test_event_log_release_leaves_registry_unchanged(spark, monkeypatch, tmp_path):
    """An EventLog unpersists through the cache registry: dehydrate plus
    three forced-fallback batches (each persists the accumulated and the
    batch log) leave the registry as long as they found it."""
    import open_ftth_relational_projector_spark.streaming.incremental as I
    from open_ftth_relational_projector_spark.cache import _REG_ATTR
    from open_ftth_relational_projector_spark.events.generator import (
        generate,
        to_envelope_rows,
    )
    from open_ftth_relational_projector_spark.events.schemas import ENVELOPE_SCHEMA
    from open_ftth_relational_projector_spark.sinks import DuckDBSink
    from open_ftth_relational_projector_spark.streaming.runner import (
        apply_batch,
        dehydrate,
    )

    def registered() -> int:
        return len(getattr(spark, _REG_ATTR, None) or [])

    env = spark.createDataFrame(
        to_envelope_rows(generate(seed=5, scale=3)), ENVELOPE_SCHEMA
    ).cache()
    max_seq = env.agg({"seq": "max"}).collect()[0][0]
    bounds = [int(max_seq * f) for f in (0.4, 0.6, 0.8)] + [max_seq]
    monkeypatch.setattr(I, "MAX_DRIVER_BATCH_ROWS", 0)
    before = registered()
    sink = DuckDBSink()
    dehydrate(env.filter(f"seq <= {bounds[0]}"), sink)
    bronze = str(tmp_path / "bronze")
    env.filter(f"seq <= {bounds[0]}").write.parquet(bronze)
    for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        apply_batch(
            bronze,
            env.filter(f"seq > {lo} AND seq <= {hi}"),
            sink,
            batch_id=i,
        )
    assert registered() == before
    env.unpersist(False)


def test_tracked_persist_registry_is_thread_safe(spark, monkeypatch):
    """8 threads register at once on a session with no registry yet: the
    first-touch creation race must lose no frame, and one release must
    unpersist all 8."""
    import sys
    import threading

    from open_ftth_relational_projector_spark.cache import _REG_ATTR

    release_tracked_persists(spark)
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for _ in range(20):
            monkeypatch.delattr(spark, _REG_ATTR, raising=False)
            frames = [spark.range(i + 1) for i in range(8)]
            gate = threading.Barrier(len(frames))

            def register(df):
                gate.wait(timeout=60)
                tracked_persist(df)

            threads = [threading.Thread(target=register, args=(df,)) for df in frames]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=60)
            assert not any(t.is_alive() for t in threads)
            registry = getattr(spark, _REG_ATTR)
            assert sorted(map(id, registry)) == sorted(map(id, frames))
            assert release_tracked_persists(spark) == len(frames)
            assert not any(df.storageLevel.useMemory for df in frames)
    finally:
        sys.setswitchinterval(switch)


def test_curation_worker_pool_winds_down_after_main_thread_raise(spark, monkeypatch):
    """A raise in curation_decisions' main-thread branch, while the
    semantic-dedup branch builds in its worker thread, leaves no worker
    thread, no running Spark job and no registered persist behind — even
    while the exception's traceback (which references the pool) is still
    held."""
    import threading

    from open_ftth_relational_projector_spark.cache import _REG_ATTR
    from open_ftth_relational_projector_spark.catalog import SPARK_QUERIES
    from open_ftth_relational_projector_spark.functions import sampling

    def injected(*args, **kwargs):
        raise RuntimeError("injected main-thread failure")

    monkeypatch.setattr(sampling, "dsir_importance_weights", injected)
    registered = len(getattr(spark, _REG_ATTR, None) or [])
    before = set(threading.enumerate())
    with pytest.raises(RuntimeError, match="injected") as excinfo:
        SPARK_QUERIES["curation_decisions"](spark, "/root/testdata/sf0.001")
    workers = [
        t for t in threading.enumerate()
        if t not in before and t.name.startswith("ThreadPoolExecutor")
    ]
    for t in workers:
        t.join(timeout=60)
    assert not [t.name for t in workers if t.is_alive()]
    assert list(spark.sparkContext.statusTracker().getActiveJobsIds()) == []
    assert len(getattr(spark, _REG_ATTR, None) or []) == registered
    assert excinfo.traceback  # the pool stays referenced until here
    release_tracked_persists(spark)

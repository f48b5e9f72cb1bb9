"""Tracked-persist lifecycle (r13): catalog-created caches are released
between queries by long-lived callers, so a re-run can never read a cache
a previous run left behind (the bench honest-cold retry contract)."""

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


def test_event_log_release_leaves_registry_unchanged(spark, monkeypatch):
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
    for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        apply_batch(
            env.filter(f"seq <= {hi}"),
            env.filter(f"seq > {lo} AND seq <= {hi}"),
            sink,
            batch_id=i,
        )
    assert registered() == before
    env.unpersist(False)

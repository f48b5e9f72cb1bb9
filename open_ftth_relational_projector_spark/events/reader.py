"""Event-log reader: envelope scan + type dispatch + JSON parse (S1/S3/S4).

The reference replays envelopes through a 27-way type switch
(RelationalDatabaseProjection.cs:90-221). Spark-first, dispatch is a filter
per type over one scan — Catalyst pushes ``event_type = 'X'`` into the
parquet scan, and each projection reads only the payloads it consumes.

``EventLog`` is the seam between the raw stream and the projection
expression core: projections consume *typed* per-event DataFrames, so tests
and driver queries can inject typed events directly (no JSON round-trip)
while production reads JSON envelopes.
"""

from __future__ import annotations

import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from open_ftth_relational_projector_spark.cache import release_persist, tracked_persist
from open_ftth_relational_projector_spark.events.schemas import (
    ENVELOPE_SCHEMA,
    PAYLOAD_SCHEMAS,
)

# serialized in memory, spilling to disk: the envelope log is the largest
# frame a fold caches
_LEVEL = "MEMORY_AND_DISK"


class EventLog:
    """Typed access to an event stream.

    ``of(event_type)`` → DataFrame of (seq, <payload fields...>) for that
    type, payload struct flattened one level.
    """

    def __init__(
        self,
        typed: dict[str, DataFrame],
        spark: SparkSession,
        raw: DataFrame | None = None,
        persistent: bool = False,
    ):
        self._typed = typed
        self._spark = spark
        self._raw = raw
        self._persistent = persistent
        self._memo: dict[str, DataFrame] = {}
        self._memo_locks: dict[str, threading.Lock] = {}
        self._lock = threading.Lock()
        self._cached: list[DataFrame] = []

    @classmethod
    def from_envelopes(cls, raw: DataFrame) -> "EventLog":
        """raw: (seq long, event_type string, payload json-string).

        Typed streams are derived LAZILY on first ``of()`` access: a
        micro-batch touches a handful of the 27 types, and building every
        filter+parse plan upfront costs ~0.5 s of py4j round-trips per
        batch for plans that are never executed.
        """
        return cls({}, raw.sparkSession, raw=raw)

    @classmethod
    def from_typed(cls, spark: SparkSession, typed: dict[str, DataFrame]) -> "EventLog":
        return cls(dict(typed), spark)

    def of(self, event_type: str) -> DataFrame:
        if event_type in self._typed:
            return self._typed[event_type]
        if self._raw is not None and event_type in PAYLOAD_SCHEMAS:
            df = (
                self._raw.filter(F.col("event_type") == event_type)
                .select(
                    "seq",
                    F.from_json("payload", PAYLOAD_SCHEMAS[event_type]).alias("p"),
                )
                .select("seq", "p.*")
            )
            self._typed[event_type] = df
            return df
        # absent type → empty DataFrame with the right flattened schema
        return self._spark.createDataFrame([], _flat_schema(event_type))

    def persisted(self) -> "EventLog":
        """A log that caches: its source frames now, and every shared
        substream built with ``memo(cache=True)`` when it is first built.

        When the log came from envelopes, the RAW envelope frame is
        persisted: the ~27 typed streams then re-derive from the cached
        scan, and a type's filter+parse over a cached partition is
        microseconds — materializing 27 separate caches costs far more in
        stage scheduling than the parse it saves (measured 2× on the full
        8-table fold). For a typed-injection log there is no raw frame, so
        each typed stream persists instead. At 100 TB the same role is
        played by a durable typed-bronze layer (sources/bronze.py): one
        parse, N pruned columnar scans.

        Nothing is primed here: the first job over the log fills the
        cache, and projections.core.project_all decides what to prime.
        Every frame goes through the session cache registry, and
        ``unpersist`` releases all of them.
        """
        if self._raw is not None:
            return EventLog(
                {}, self._spark, raw=tracked_persist(self._raw, _LEVEL), persistent=True
            )
        return EventLog(
            {t: tracked_persist(df, _LEVEL) for t, df in self._typed.items()},
            self._spark,
            persistent=True,
        )

    @property
    def is_persisted(self) -> bool:
        return self._persistent

    def memo(
        self, name: str, build: Callable[["EventLog"], DataFrame], cache: bool
    ) -> DataFrame:
        """``build(self)``, built once per log under ``name``.

        Concurrent callers (project_all's build threads) wait for the one
        build in flight, so a plan is constructed — and, on a persisted
        log with ``cache``, persisted and registered — exactly once. A
        build that raises stores nothing; the next caller retries it.
        """
        with self._lock:
            lock = self._memo_locks.setdefault(name, threading.Lock())
        with lock:
            if name not in self._memo:
                df = build(self)
                if cache and self._persistent:
                    df = tracked_persist(df)
                    self._cached.append(df)
                self._memo[name] = df
            return self._memo[name]

    def unpersist(self) -> None:
        """Release the source frames and every cached substream."""
        sources = [self._raw] if self._raw is not None else list(self._typed.values())
        for df in sources + self._cached:
            release_persist(df)

    def restricted(
        self, filters: dict[str, tuple[str, DataFrame | list]]
    ) -> "EventLog":
        """Key-restricted view for incremental recompute.

        ``filters[event_type] = (id_expr, ids)`` narrows that type's stream
        to events whose ``id_expr`` is in ``ids``. A plain list becomes an
        IN-set literal filter — no broadcast build, no join, and the
        predicate pushes into the (bucketed-at-scale) bronze scan; a
        DataFrame becomes a broadcast semi-join (for key sets too large to
        inline). Unlisted types pass through whole, which is what keeps
        dimension streams (spec registrations, container relations, walks)
        visible to as-of joins during a per-key recompute.
        """
        typed = dict(self._typed)
        for etype, (id_expr, ids) in filters.items():
            src = self.of(etype)
            if isinstance(ids, list):
                typed[etype] = src.filter(F.col(id_expr).isin(ids))
            else:
                typed[etype] = src.join(
                    F.broadcast(ids.select(F.col("id").alias("_rid"))),
                    F.col(id_expr) == F.col("_rid"),
                    "left_semi",
                )
        # keep the raw frame so unlisted types still lazily derive (they
        # must pass through WHOLE — dimension streams feed as-of joins)
        return EventLog(typed, self._spark, raw=self._raw)

    @property
    def raw(self) -> DataFrame | None:
        """The (seq, event_type, payload) envelope frame this log was
        built from, or None for ``from_typed`` logs."""
        return self._raw

    @property
    def spark(self) -> SparkSession:
        return self._spark


def _flat_schema(event_type: str):
    from pyspark.sql import types as T

    schema = PAYLOAD_SCHEMAS[event_type]
    return T.StructType(
        [T.StructField("seq", T.LongType(), False), *schema.fields]
    )


def read_event_log(spark: SparkSession, path: str) -> EventLog:
    """Read a parquet/json envelope table and return the typed view."""
    if path.endswith(".json") or path.endswith(".jsonl"):
        raw = spark.read.schema(ENVELOPE_SCHEMA).json(path)
    else:
        raw = spark.read.parquet(path)
    return EventLog.from_envelopes(raw)

"""Dehydrate-then-catch-up orchestration (SURVEY §2.7 T1-T6).

The reference's Worker (Worker.cs:22-48) replays all history with writes
suppressed, snapshots every table (truncate + COPY), then polls every
2000 ms applying per-event DML. Spark-first:

* ``dehydrate`` — batch job: persist the full log, bulk-load a frame for
  every sink table (projections.core.sink_frames: the 8 projections, the
  slack-end pre-aggregation and the aux seeds), release the log, record the
  watermark (T2 bootstrap).
* ``apply_batch`` — one micro-batch, appended to bronze and then applied
  to the sink in one of three forms chosen once, before any work, from the
  bounded size probe and the batch's min seq against the watermark. The
  probe runs over the raw batch and answers "is it empty?" too; duplicate
  seqs are dropped on the driver. A driver-sized batch is appended to
  bronze from the probed rows as one parquet file, so an in-order
  steady-state batch costs exactly one Spark job: the probe.

  - driver path (driver-sized, min seq > watermark — every steady-state
    poll): parse the probed rows, replay them over sink-seeded state
    (streaming/replay.py), fold the spec registries and append the edge
    deltas. It never builds, persists or scans the accumulated log.
  - rewrite (min seq ≤ watermark: a re-delivered batch, or one the file
    source handed over after a later-seq batch): both incremental forms
    assume the sink holds the fold of every earlier event, which no longer
    holds, so every sink table is rewritten from the accumulated log with
    the frames dehydrate loads.
  - affected-key recompute (oversized, in order; the batch reaches bronze
    through a Spark append): streaming/incremental.compute_deltas over the
    accumulated log, and the aux tables reseeded from it.

  The last two are the distributed path, the only place the accumulated
  log is read from bronze, built and persisted. Every form writes inside
  one sink transaction keyed by batch_id (T5: re-delivered batch ids are
  skipped).
* ``ProjectionStream`` — Structured Streaming wiring: file-source
  ``readStream`` over an envelope directory, ``foreachBatch`` into
  ``apply_batch``, default trigger processingTime=2s matching the
  reference's poll loop (Worker.cs:47), ``availableNow`` for drain-and-stop
  runs. Bronze is appended before the sink commit and deduped on ``seq``
  when read, so a crash between the two re-applies cleanly.

Batch-order independence: every form yields fold(applied events) for the
touched keys, so the final sink state depends only on the set of applied
events, not the batch boundaries — the equivalence tests exploit this by
splitting one log at random points.
"""

from __future__ import annotations

import os
import uuid
from collections import Counter
from contextlib import contextmanager, nullcontext

from pyspark.sql import DataFrame, SparkSession, functions as F

from open_ftth_relational_projector_spark.events.reader import EventLog
from open_ftth_relational_projector_spark.events.schemas import ENVELOPE_SCHEMA
from open_ftth_relational_projector_spark.plans import concurrency
from open_ftth_relational_projector_spark.projections.core import (
    aux_seed_frames,
    sink_frames,
)
from open_ftth_relational_projector_spark.sinks.ddl import TABLE_COLUMNS
from open_ftth_relational_projector_spark.sinks.duckdb_sink import _to_arrow
from open_ftth_relational_projector_spark.streaming.replay import fold_spec_registry
from open_ftth_relational_projector_spark.streaming.incremental import (
    GroupDelta,
    TableDelta,
    affected_ids_distributed,
    affected_ids_from_rows,
    build_edge_context,
    compute_deltas,
    md5_uuid,
    sink_rows,
)


def _load(sink, frames: dict[str, DataFrame], txn=nullcontext()) -> None:
    """Overwrite each frame's sink table. The Spark side (plans → Arrow)
    fans out concurrently — the tables are independent jobs over the log's
    shared cached substreams — and runs before ``txn`` opens; only the
    single-connection DuckDB writes stay serial. On a cluster the write
    step is per-table Spark JDBC writes and the whole loop is concurrent."""
    arrow = concurrency.run_concurrent(
        {
            name: lambda d=df, c=[col for col, _ in TABLE_COLUMNS[name]]: _to_arrow(d, c)
            for name, df in frames.items()
        }
    )
    with txn:
        for name in frames:
            sink.overwrite(name, arrow[name])


def dehydrate(envelopes: DataFrame, sink) -> int:
    """Full replay → bulk snapshot of every sink table (T2 phase 1).
    Returns the watermark seq."""
    sink.ensure_schema()
    log = EventLog.from_envelopes(envelopes).persisted()
    try:
        _load(sink, sink_frames(log))
        row = envelopes.agg(F.max("seq")).collect()[0]
    finally:
        log.unpersist()
    watermark = int(row[0]) if row[0] is not None else 0
    sink.set_meta("watermark", str(watermark))
    return watermark


def apply_slack_delta(sink, delta: GroupDelta) -> None:
    """Node-level re-aggregation of conduit_slack from the aux end set.

    Replace touched equipments' end rows, then recount ONLY route nodes that
    appear in the old or new end rows — the IVM form of the reference's
    increment/decrement counters (ProjektorState.cs:473-512), including the
    delete-at-zero behavior (:505-511).
    """
    import pyarrow as pa

    eq = delta.group_keys
    if not eq:
        return
    node = ["route_node_id"]
    touched = {
        n for (n,) in sink_rows(sink, "_aux_slack_end", node, "span_equipment_id", eq)
    }
    sink.replace_group("_aux_slack_end", eq, delta.rows)
    touched.update(delta.rows.column("route_node_id").to_pylist())
    counts = Counter(
        n for (n,) in sink_rows(sink, "_aux_slack_end", node, "route_node_id", touched)
    )
    if counts:
        nodes = sorted(counts)
        sink.merge(
            "conduit_slack",
            pa.table(
                {
                    "id": [md5_uuid(n) for n in nodes],
                    "route_node_id": nodes,
                    "number_of_ends": pa.array([counts[n] for n in nodes], pa.int32()),
                }
            ),
        )
    sink.delete_keys(
        "conduit_slack", "route_node_id", sorted(n for n in touched if n not in counts)
    )


def _write_deltas(sink, deltas: dict[str, TableDelta | GroupDelta]) -> None:
    for table, delta in deltas.items():
        if table == "_aux_slack_end":
            apply_slack_delta(sink, delta)
        elif isinstance(delta, GroupDelta):
            sink.replace_group(table, delta.group_keys, delta.rows)
        else:
            sink.merge(table, delta.upserts)
            sink.delete_keys(table, "id", delta.delete_keys)


def _probe_collect(batch_envelopes: DataFrame, cap: int) -> list:
    """Bounded size-gate probe: pull at most ``cap + 1`` RAW envelope rows
    (seq, event_type, payload — payload stays an unparsed JSON string).
    The driver-sized test seam: everything apply_batch ever collects of a
    batch body goes through here, bounded by construction."""
    return (
        batch_envelopes.select("seq", "event_type", "payload")
        .limit(cap + 1)
        .collect()
    )


def _probe_batch(batch_envelopes: DataFrame, cap: int, seq_first: bool):
    """The batch's rows, deduplicated on seq and in seq order, or None when
    it holds more than ``cap`` rows. The probe runs over the raw batch, so
    a driver-sized batch costs one Spark job (two under ``seq_first``); a
    re-delivered seq counts towards the cap but is dropped here."""
    if seq_first:
        seqs = batch_envelopes.select("seq").limit(cap + 1).collect()
        if len(seqs) > cap:
            return None
        rows = _probe_collect(batch_envelopes, cap) if seqs else []
    else:
        rows = _probe_collect(batch_envelopes, cap)
        if len(rows) > cap:
            return None
    return sorted({r.seq: r for r in rows}.values(), key=lambda r: r.seq)


def _append_bronze(bronze_dir: str, rows: list) -> None:
    """Append probed rows to bronze as one parquet file, written under a
    dot-prefixed name (which Spark's file listing skips) and renamed into
    place, so a reader never sees a half-written file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(bronze_dir, exist_ok=True)
    table = pa.table(
        {
            "seq": pa.array([r.seq for r in rows], pa.int64()),
            "event_type": pa.array([r.event_type for r in rows], pa.string()),
            "payload": pa.array([r.payload for r in rows], pa.string()),
        }
    )
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(bronze_dir, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(bronze_dir, name))


def apply_batch(
    bronze_dir: str,
    batch_envelopes: DataFrame,
    sink,
    batch_id: int | None = None,
    probe_seq_first: bool = False,
) -> bool:
    """Append one micro-batch to bronze and apply it to the sink. Returns
    False if nothing was applied: an already-applied batch_id (T5
    exactly-once) or an empty batch.

    ``bronze_dir`` holds the accumulated log, deduplicated on seq when
    read. The batch is appended there before the sink transaction, so a
    crash between the two re-applies cleanly. A driver-sized batch is
    appended from its probed rows without a Spark job; only the
    distributed path reads the accumulated log back.

    ``probe_seq_first=True`` sizes the batch with a seq-ONLY probe before
    touching payloads, so an oversized batch never materializes cap+1 raw
    payload strings on the driver. Costs one extra tiny job when the batch
    turns out driver-sized — callers set it only where backlog is
    plausible (the first micro-batch after a (re)start); steady-state 2 s
    triggers keep the single-job full probe."""
    if batch_id is not None and sink.get_meta("applied_batch") == str(batch_id):
        return False

    from open_ftth_relational_projector_spark.streaming.incremental import (
        MAX_DRIVER_BATCH_ROWS as cap,
        parse_envelope_rows,
    )

    # A driver-sized batch (every 2 s-trigger micro-batch) costs ONE Spark
    # job: the probe IS the collected batch, min/max seq derive from it and
    # bronze is written from it. Only an oversized batch pays Spark jobs
    # for min/max and the bronze append; payloads parse only once the
    # batch is known to be driver-sized.
    rows = _probe_batch(batch_envelopes, cap, probe_seq_first)
    if rows is None:
        stat = batch_envelopes.agg(F.min("seq"), F.max("seq")).collect()[0]
        batch_min, batch_max = int(stat[0]), int(stat[1])
        batch_envelopes.write.mode("append").parquet(bronze_dir)
    elif not rows:
        return False
    else:
        parsed = parse_envelope_rows(rows)
        batch_min, batch_max = parsed[0][0], parsed[-1][0]
        _append_bronze(bronze_dir, rows)
    watermark = int(sink.get_meta("watermark") or 0)
    txn = _batch_transaction(sink, batch_id, batch_max, watermark)
    # Both incremental forms require sink state == fold(log ∖ batch); a
    # re-delivered batch, or one landing after a later-seq batch (min seq ≤
    # watermark), violates that.
    overlaps = batch_min <= watermark
    if rows is not None and not overlaps:
        _apply_on_driver(parsed, sink, txn)
    else:
        _apply_distributed(bronze_dir, batch_envelopes, overlaps, sink, txn)
    return True


@contextmanager
def _batch_transaction(sink, batch_id, batch_max, watermark: int):
    """One sink transaction: the batch's writes plus its bookkeeping
    (applied batch_id, advanced watermark), rolled back together."""
    sink.begin()
    try:
        yield
        if batch_id is not None:
            sink.set_meta("applied_batch", str(batch_id))
        if batch_max is not None:
            sink.set_meta("watermark", str(max(watermark, batch_max)))
        sink.commit()
    except Exception:
        sink.rollback()
        raise


def _apply_on_driver(parsed: list[tuple[int, str, dict]], sink, txn) -> None:
    """Driver path: every read and replay runs before the transaction,
    with zero Spark jobs; the accumulated log is never built."""
    from open_ftth_relational_projector_spark.streaming import replay

    ids = affected_ids_from_rows(parsed)
    edge_ctx = build_edge_context(parsed, ids, sink)
    span = (
        replay.replay_span_batch(
            parsed, ids["span"], edge_ctx.all_eq, edge_ctx.has_child, sink
        )
        if edge_ctx is not None
        else None
    )
    deltas = {
        **replay.replay_lww_tables(parsed, ids, sink),
        **replay.replay_rel_batch(parsed, ids, sink),
        **(span.deltas if span is not None else {}),
    }
    with txn:
        # spec registries are dimension streams — fold them EVERY batch (a
        # spec-only batch must still land in the aux registry for later
        # batches' placements to resolve against)
        for name, tbl in fold_spec_registry(parsed).items():
            sink.merge(name, tbl)
        if edge_ctx is not None:
            sink.append("_aux_affix_edge", edge_ctx.new_edges)
            sink.append("_aux_root_segment", edge_ctx.new_registry)
            sink.append("_aux_detach", edge_ctx.new_detaches)
            sink.merge("_aux_span_state", span.state_upserts)
            sink.delete_keys("_aux_span_state", "id", span.state_deletes)
        _write_deltas(sink, deltas)


def _apply_distributed(
    bronze_dir: str, batch_envelopes: DataFrame, overlaps: bool, sink, txn
) -> None:
    """Distributed path: the only place the accumulated log is read from
    bronze, built and persisted. A batch overlapping the watermark rewrites
    every sink table from it (the same frames dehydrate loads). An
    oversized in-order batch recomputes its touched keys, which come from a
    distributed distinct aggregation over the raw batch (only the id LISTS
    reach the driver), and reseeds the aux tables."""
    # the explicit schema skips a footer-inference job; the seq dedup
    # absorbs a batch appended twice around a crash
    full_envelopes = (
        batch_envelopes.sparkSession.read.schema(ENVELOPE_SCHEMA)
        .parquet(bronze_dir)
        .dropDuplicates(["seq"])
    )
    full_log = EventLog.from_envelopes(full_envelopes).persisted()
    try:
        if overlaps:
            _load(sink, sink_frames(full_log), txn)
            return
        ids = affected_ids_distributed(EventLog.from_envelopes(batch_envelopes))
        deltas = compute_deltas(full_log, ids)
        with txn:
            # the aux sets — including the spec/walk registries an
            # oversized batch never folded driver-side — reseed wholesale
            # from the accumulated log this path already scans
            for name, df in aux_seed_frames(full_log).items():
                sink.overwrite(name, df)
            _write_deltas(sink, deltas)
    finally:
        full_log.unpersist()


class ProjectionStream:
    """Structured-Streaming catch-up loop (T1: 2 s trigger = Worker.cs:47)."""

    def __init__(
        self,
        spark: SparkSession,
        events_dir: str,
        sink,
        bronze_dir: str,
        checkpoint_dir: str,
        fmt: str = "json",
        max_files_per_trigger: int | None = 64,
    ):
        self.spark = spark
        self.events_dir = events_dir
        self.sink = sink
        self.bronze_dir = bronze_dir
        self.checkpoint_dir = checkpoint_dir
        self.fmt = fmt
        # Bounds the catch-up batch after downtime: the file source emits at
        # most this many landed batch-files per micro-batch (each file is
        # one poll interval of events), so the first post-restart batch is
        # a bounded slice of the backlog, not all of it — the streaming
        # analog of the reference's two-phase Worker design (Worker.cs:32-48,
        # dehydrate bulk, then bounded catch-up). availableNow drains honor
        # it too. Oversized batches that still slip through (a single giant
        # file) reroute inside apply_batch to the distributed no-collect
        # path.
        self.max_files_per_trigger = max_files_per_trigger
        self.query = None
        # backlog lands in the first micro-batch after a (re)start (the
        # file source delivers accumulated files there; a single giant
        # file can exceed maxFilesPerTrigger's row bound) — that batch
        # sizes itself seq-first so the oversized case never pulls raw
        # payloads to the driver; steady-state batches keep the
        # single-job probe
        self._first_since_start = True

    def _process(self, batch_df: DataFrame, batch_id: int) -> None:
        # apply_batch probes the raw batch (an empty one is a no-op),
        # appends it to bronze and then commits it to the sink
        apply_batch(
            self.bronze_dir,
            batch_df,
            self.sink,
            batch_id=batch_id,
            probe_seq_first=self._first_since_start,
        )
        self._first_since_start = False

    def start(self, available_now: bool = False, trigger_seconds: float = 2.0):
        self._first_since_start = True  # a restart is a backlog window again
        reader = self.spark.readStream.schema(ENVELOPE_SCHEMA)
        if self.max_files_per_trigger is not None:
            reader = reader.option(
                "maxFilesPerTrigger", str(self.max_files_per_trigger)
            )
        if self.fmt == "json":
            stream = reader.json(self.events_dir)
        else:
            stream = reader.parquet(self.events_dir)
        writer = stream.writeStream.foreachBatch(self._process).option(
            "checkpointLocation", self.checkpoint_dir
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
        self.query = writer.start()
        return self.query

    def healthy(self) -> bool:
        """T6: the reference touches /tmp/healthy after dehydration
        (Worker.cs:37); here health = an active, progressing query."""
        return self.query is not None and self.query.isActive

    def await_drained(self, timeout: int = 300) -> None:
        assert self.query is not None
        self.query.awaitTermination(timeout)


def write_envelope_batch(
    envelopes: DataFrame, events_dir: str, batch_no: int
) -> str:
    """Test/demo helper: land one micro-batch as a JSON file the file-source
    stream will pick up (the 'new events arrived in the store' moment)."""
    os.makedirs(events_dir, exist_ok=True)
    path = os.path.join(events_dir, f"batch_{batch_no:05d}.json")
    rows = envelopes.toJSON().collect()
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(rows))
    return path

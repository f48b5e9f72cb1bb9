"""One benchmark run of one workload, in its own process (see run.py).

Workloads drive the package only through its public entry points:

* ``dehydrate`` — ``streaming.runner.dehydrate`` over a stored parquet
  envelope log, repeated cold.
* ``catchup``  — ``streaming.runner.ProjectionStream`` draining landed JSON
  files one micro-batch per file (``availableNow``, closed loop) after the
  history was dehydrated into bronze and the sink.
* ``catalog``  — ``catalog.SPARK_QUERIES`` constructed and written to the
  ``noop`` sink, one query at a time.

Every timed op is checked outside its timed region: the projector sinks
against ``events.oracle.FoldOracle`` over the same log, catalog outputs
against their DuckDB ``ORACLE_SQL``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import statistics
import sys
import time
import traceback
from datetime import datetime
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from open_ftth_relational_projector_spark.cache import release_tracked_persists
from open_ftth_relational_projector_spark.catalog import ORACLE_SQL, SPARK_QUERIES
from open_ftth_relational_projector_spark.events.generator import (
    generate,
    to_envelope_rows,
)
from open_ftth_relational_projector_spark.events.oracle import FoldOracle
from open_ftth_relational_projector_spark.events.schemas import ENVELOPE_SCHEMA
from open_ftth_relational_projector_spark.session import get_spark
from open_ftth_relational_projector_spark.sinks import DuckDBSink
from open_ftth_relational_projector_spark.sinks.ddl import SCHEMA
from open_ftth_relational_projector_spark.streaming.runner import (
    ProjectionStream,
    dehydrate,
)

from perfbench import trace as tr
from perfbench.metrics import (
    END_TO_END,
    HEADLINE,
    HOTSPOT,
    layer_metrics,
    quantile,
    with_units,
)

BENCH_DIR = Path(__file__).resolve().parent
CATALOG_DATA = BENCH_DIR / "data" / "sf0.01"
CATALOG_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

PREP_REPEATS = 3  # set-up is repeated and its median reported
DEHYDRATE_SCALE = 600  # ~45k events, ~14 MB of payload JSON
DEHYDRATE_FILES = 8  # parquet files in the event store
DEHYDRATE_OP_S = 15.0  # one cold dehydrate on the 4-core reference host
CATCHUP_SCALE_PER_S = 20  # generator scale per second of timed drain
CATCHUP_HISTORY = 0.45  # share of the log dehydrated before the drain
# The tail ends where the span-equipment phase does: every timed batch then
# carries span events (replay, edge context, slack deltas), and batch times
# do not split into two populations that a median straddles.
CATCHUP_TAIL_END = "WorkTaskCreated"
CATCHUP_FILE_EVENTS = 246  # one busy 2 s poll of the reference worker
CATCHUP_WARM_BATCHES = 3  # drained but not timed
CATALOG_PASS_S = 15.0  # one pass over the 22 queries on the reference host


class Run:
    """State shared by a workload's set-up, timed ops and checks."""

    def __init__(self, args, spark, work: Path, tracer):
        self.args = args
        self.spark = spark
        self.work = work
        self.tracer = tracer
        self.setup = {"start_s": 0.0, "warmup_s": 0.0, "prep_s": []}
        self.ops: list[float] = []  # timed op latencies (s)
        self.op_items: list[int] = []  # work items each op completed
        self.items = 0  # work items completed in the timed region
        self.timed_wall = 0.0
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.inputs: dict = {}
        self.detail: dict = {}
        self.op_spans: list = []
        self.job_ranges: list[tuple[str, int, int]] = []
        self.gc_s = 0.0
        self.record: dict = {}

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)

    def span(self, name: str, **attrs):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, **attrs)

    def sink(self):
        sink = DuckDBSink()
        return sink, (tr.TimedSink(sink, self.tracer) if self.tracer else sink)

    def timed(self, label: str, fn):
        """Run ``fn`` as one timed op; returns (seconds, result). A traced
        run also notes the op's job-id range and JVM GC time."""
        if self.tracer is None:
            t = time.perf_counter()
            result = fn()
            return time.perf_counter() - t, result
        gc0 = tr.jvm_gc_seconds(self.spark)
        j0 = self.tracer.next_job_id()
        t = time.perf_counter()
        result = fn()
        dt = time.perf_counter() - t
        self.job_ranges.append((label, j0, self.tracer.next_job_id()))
        self.gc_s += tr.jvm_gc_seconds(self.spark) - gc0
        return dt, result


# -- inputs and checks ------------------------------------------------------
def _envelope_table(rows) -> pa.Table:
    return pa.table(
        {
            "seq": pa.array([r[0] for r in rows], pa.int64()),
            "event_type": pa.array([r[1] for r in rows], pa.string()),
            "payload": pa.array([r[2] for r in rows], pa.string()),
        }
    )


def write_store(rows, path: Path, files: int) -> None:
    """The event store: envelope rows as ``files`` parquet files."""
    path.mkdir(parents=True, exist_ok=True)
    for old in path.iterdir():
        old.unlink()
    step = -(-len(rows) // files)
    for i in range(files):
        pq.write_table(
            _envelope_table(rows[i * step:(i + 1) * step]),
            path / f"part-{i:05d}.parquet",
        )


def oracle_tables(events) -> dict[str, list[tuple]]:
    oracle = FoldOracle()
    oracle.run(events)
    return oracle.tables()


def sink_mismatches(sink, expected) -> list[str]:
    """The 8 public tables vs the fold oracle, order-insensitive, with
    ``conduit_slack.id`` left out (as the golden projection test does)."""
    from tests.test_projections_golden import TABLE_COLS

    bad = []
    for table, cols in TABLE_COLS.items():
        collist = ", ".join(f'"{c}"' for c in cols)
        got = sink.con.execute(f'SELECT {collist} FROM {SCHEMA}."{table}"').fetchall()
        if sorted(got) != sorted(expected[table]):
            bad.append(f"{table}: {len(got)} rows vs oracle {len(expected[table])}")
    return bad


def _check_oracle_module():
    """``scripts/check_oracle.py`` holds the bit-exact float ``norm`` and the
    row canonicalisation the oracle sweep uses; load it by path."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "check_oracle", Path("scripts") / "check_oracle.py"
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


# -- workloads --------------------------------------------------------------
def run_dehydrate(run: Run) -> None:
    """The first op is the rebuild a freshly started projector does, JIT
    and codegen included; no warm-up precedes it."""
    spark, args = run.spark, run.args
    store = run.work / "store"
    for _ in range(PREP_REPEATS):
        t = time.perf_counter()
        events = generate(seed=args.seed, scale=DEHYDRATE_SCALE)
        rows = to_envelope_rows(events)
        write_store(rows, store, DEHYDRATE_FILES)
        run.setup["prep_s"].append(time.perf_counter() - t)
    run.inputs = {
        "scale": DEHYDRATE_SCALE,
        "events": len(rows),
        "payload_bytes": sum(len(r[2].encode()) for r in rows),
        "store_files": DEHYDRATE_FILES,
    }
    expected = oracle_tables(events)
    max_seq = max(r[0] for r in rows)
    reps = max(1, round(args.seconds / DEHYDRATE_OP_S))
    for _ in range(reps):
        sink, target = run.sink()
        run.attempted += 1
        try:
            with run.span("dehydrate") as sp:
                dt, watermark = run.timed(
                    "dehydrate", lambda: dehydrate(spark.read.parquet(str(store)), target)
                )
            if sp is not None:
                run.op_spans.append(sp)
            run.ops.append(dt)
            run.op_items.append(len(rows))
            run.timed_wall += dt
            run.items += len(rows)
            bad = sink_mismatches(sink, expected)
            if watermark != max_seq:
                bad.append(f"watermark {watermark} != {max_seq}")
            if bad:
                run.fail("dehydrate: " + "; ".join(bad))
        except Exception:  # noqa: BLE001 - a raising op is a failed op
            run.fail("dehydrate raised:\n" + traceback.format_exc())
        finally:
            sink.close()


def _land_tail(rows, land: Path) -> list[int]:
    """One JSON file per poll interval; returns the events in each file."""
    land.mkdir(parents=True, exist_ok=True)
    for old in land.iterdir():
        old.unlink()
    sizes = []
    for i in range(0, len(rows), CATCHUP_FILE_EVENTS):
        chunk = rows[i:i + CATCHUP_FILE_EVENTS]
        lines = (
            json.dumps({"seq": s, "event_type": e, "payload": p})
            for s, e, p in chunk
        )
        (land / f"batch_{len(sizes):05d}.json").write_text("\n".join(lines))
        sizes.append(len(chunk))
    return sizes


def _as_dict(progress) -> dict:
    return json.loads(progress.json) if hasattr(progress, "json") else dict(progress)


def _progress_time(p: dict) -> float:
    ts = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return (ts - datetime(1970, 1, 1)).total_seconds()


def run_catchup(run: Run) -> None:
    spark, args = run.spark, run.args
    scale = max(20, round(args.seconds * CATCHUP_SCALE_PER_S))
    hist_dir, land = run.work / "history", run.work / "landing"
    bronze, ckpt = run.work / "bronze", run.work / "checkpoint"
    for _ in range(PREP_REPEATS):
        t = time.perf_counter()
        events = generate(seed=args.seed, scale=scale)
        rows = to_envelope_rows(events)
        cut = int(len(rows) * CATCHUP_HISTORY)
        end = next(
            (i for i, r in enumerate(rows) if r[1] == CATCHUP_TAIL_END), len(rows)
        )
        write_store(rows[:cut], hist_dir, 1)
        sizes = _land_tail(rows[cut:end], land)
        run.setup["prep_s"].append(time.perf_counter() - t)
    run.inputs = {
        "scale": scale,
        "events": len(rows),
        "history_events": cut,
        "tail_events": end - cut,
        "tail_files": len(sizes),
        "warmup_batches": CATCHUP_WARM_BATCHES,
        "timed_payload_bytes": sum(
            len(r[2].encode()) for r in rows[cut + sum(sizes[:CATCHUP_WARM_BATCHES]):end]
        ),
    }
    # the history dehydrate is the warm-up: it runs the bulk path cold
    t = time.perf_counter()
    sink, target = run.sink()
    history = spark.read.parquet(str(hist_dir))
    dehydrate(history, sink)
    history.write.mode("overwrite").parquet(str(bronze))
    run.setup["warmup_s"] = time.perf_counter() - t
    expected = oracle_tables(events[:end])

    stream = ProjectionStream(
        spark, str(land), target, str(bronze), str(ckpt), max_files_per_trigger=1
    )
    timed = sizes[CATCHUP_WARM_BATCHES:]
    run.attempted = len(timed)
    try:
        with run.span("catchup.drain") as sp:
            if sp is not None:
                run.tracer.set_root(sp.span_id)
                gc0 = tr.jvm_gc_seconds(spark)
            query = stream.start(available_now=True)
            query.awaitTermination()
        if sp is not None:
            run.tracer.set_root(None)
            run.gc_s = tr.jvm_gc_seconds(spark) - gc0
            run.op_spans.append(sp)
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        progress = sorted(
            (p for p in map(_as_dict, query.recentProgress) if p["numInputRows"] > 0),
            key=lambda p: p["batchId"],
        )
        if len(progress) != len(sizes):
            raise RuntimeError(f"{len(progress)} batches for {len(sizes)} files")
        batches = progress[CATCHUP_WARM_BATCHES:]
        run.ops = [p["durationMs"]["triggerExecution"] / 1e3 for p in batches]
        run.op_items = timed  # one landed file per batch, in landing order
        first = _progress_time(batches[0])
        last = _progress_time(batches[-1]) + run.ops[-1]
        run.timed_wall = last - first
        run.items = sum(timed)
        run.detail["batches"] = [
            {"batch_id": p["batchId"], **p["durationMs"]} for p in batches
        ]
        run.detail["window"] = (first, last)
        bad = sink_mismatches(sink, expected)
        watermark = int(sink.get_meta("watermark") or 0)
        if watermark != rows[end - 1][0]:
            bad.append(f"watermark {watermark} != {rows[end - 1][0]}")
        if bad:
            run.failed = run.attempted
            run.failures.append("catchup: " + "; ".join(bad))
    except Exception:  # noqa: BLE001 - a raising drain fails every batch
        run.failed = run.attempted
        run.failures.append("catchup raised:\n" + traceback.format_exc())
    finally:
        sink.close()


def run_catalog(run: Run) -> None:
    spark, args = run.spark, run.args
    data = str(CATALOG_DATA)
    names = HEADLINE + HOTSPOT
    check = _check_oracle_module()
    # warm-up: the session's first parquet scan, aggregation and noop write
    t = time.perf_counter()
    spark.read.parquet(f"{data}/lineitem.parquet").groupBy("l_returnflag").count() \
        .write.format("noop").mode("overwrite").save()
    run.setup["warmup_s"] = time.perf_counter() - t
    con = None
    for _ in range(PREP_REPEATS):
        t = time.perf_counter()
        if con is not None:
            con.close()
        con = duckdb.connect()
        for table in CATALOG_TABLES:
            con.sql(f"CREATE VIEW {table} AS SELECT * FROM '{data}/{table}.parquet'")
        run.setup["prep_s"].append(time.perf_counter() - t)
    run.inputs = {
        "data": "perfbench/data/sf0.01",
        "rows": {
            t: pq.read_metadata(CATALOG_DATA / f"{t}.parquet").num_rows
            for t in CATALOG_TABLES
        },
        "queries": names,
    }
    expected: dict[str, tuple] = {}
    passes = max(1, round(args.seconds / CATALOG_PASS_S))
    per_query: dict[str, list[tuple[float, float]]] = {n: [] for n in names}
    released = 0
    for _ in range(passes):
        run.ops.append(0.0)  # the op is one pass over the whole query set
        run.op_items.append(0)
        for name in names:
            released += release_tracked_persists(spark)
            run.attempted += 1
            try:
                with run.span(f"catalog.{name}") as sp:
                    with run.span("catalog.construct"):
                        tc, df = run.timed(
                            f"{name}.construct", lambda: SPARK_QUERIES[name](spark, data)
                        )
                    with run.span("catalog.action"):
                        ta, _ = run.timed(
                            f"{name}.action",
                            lambda: df.write.format("noop").mode("overwrite").save()
                        )
                if sp is not None:
                    run.op_spans.append(sp)
                per_query[name].append((tc, ta))
                run.ops[-1] += tc + ta
                run.op_items[-1] += 1
                got_cols = sorted(df.columns)
                got = check.rows_of_spark(df)
                if name in ORACLE_SQL:
                    if name not in expected:
                        expected[name] = check.rows_of_duck(con.sql(ORACLE_SQL[name]))
                    want, want_cols = expected[name]
                    if got_cols != want_cols or got != want:
                        run.fail(f"{name}: differs from its DuckDB oracle")
                elif not got:
                    run.fail(f"{name}: no rows (rows-only check)")
            except Exception:  # noqa: BLE001 - a raising query is a failed op
                run.fail(f"{name} raised:\n" + traceback.format_exc())
    released += release_tracked_persists(spark)
    con.close()
    run.timed_wall = sum(run.ops)
    run.items = sum(len(v) for v in per_query.values())
    times = {
        n: statistics.median(c + a for c, a in v) for n, v in per_query.items() if v
    }
    run.detail["queries"] = {
        n: {
            "construct_s": statistics.median(c for c, _ in v),
            "action_s": statistics.median(a for _, a in v),
        }
        for n, v in per_query.items()
        if v
    }
    run.detail["headline_s"] = sum(times.get(n, 0.0) for n in HEADLINE)
    run.detail["hotspot_s"] = sum(times.get(n, 0.0) for n in HOTSPOT)
    run.detail["passes"] = passes
    run.detail["persists_released"] = released


WORKLOADS = {
    "dehydrate": run_dehydrate,
    "catchup": run_catchup,
    "catalog": run_catalog,
}


# -- host record and resources ----------------------------------------------
def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _git_head() -> str | None:
    head = Path(".git") / "HEAD"
    if not head.is_file():
        return None  # a source checkout without git metadata
    ref = head.read_text().strip()
    if ref.startswith("ref: "):
        target = Path(".git") / ref[5:]
        return target.read_text().strip() if target.is_file() else ref[5:]
    return ref


def host_record(spark, args) -> dict:
    import pyspark

    jvm = spark.sparkContext._jvm
    with open("/proc/meminfo", encoding="ascii") as fh:
        mem_kb = int(next(line for line in fh if line.startswith("MemTotal:")).split()[1])
    t = time.perf_counter()
    sum(i * i for i in range(10**6))  # single-core speed, to compare hosts
    return {
        "cpu_probe_s": time.perf_counter() - t,
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb / 1024,
        "loadavg_start": args.loadavg_start,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "git_head": _git_head(),
        "spark_master": spark.sparkContext.master,
        "driver_memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "jvm_heap_max_mb": jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
    }


# -- main -------------------------------------------------------------------
def end_to_end(run: Run) -> dict[str, float]:
    """The user-visible numbers of one run, plain floats."""
    setup = run.setup
    return {
        "setup_s": setup["start_s"] + setup["warmup_s"] + statistics.median(setup["prep_s"]),
        "op_p50_s": statistics.median(run.ops),
        "op_p90_s": quantile(run.ops, 0.9),
        # per-op throughput, median: one stalled op moves it no more than
        # it moves op_p50_s (the whole-window rate is in the record)
        "items_per_s": statistics.median(i / t for i, t in zip(run.op_items, run.ops)),
    }


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--work", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--loadavg-start", type=float, default=None)
    args = p.parse_args(argv)
    work = Path(args.work)

    t = time.perf_counter()
    conf = {"spark.ui.showConsoleProgress": "false"}
    if args.trace:
        # keep every job and stage in the status store until the run ends
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    start_s = time.perf_counter() - t
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time() * 1000)}"
    tracer = tr.Tracer(spark, run_id) if args.trace else None
    listener = tr.progress_listener(spark) if args.trace else None
    run = Run(args, spark, work, tracer)
    run.setup["start_s"] = start_s
    run.record = host_record(spark, args)
    record = {"host": run.record, "run_id": run_id}
    try:
        if tracer:
            tracer.install()
        try:
            WORKLOADS[args.workload](run)
        finally:
            if tracer:
                tracer.restore()
        jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        jvm_rss = _vm_hwm_mb(jvm_pid)
        py_rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        e2e = end_to_end(run)
        if args.trace:
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            progress = [dict(p, _t=_progress_time(p)) for p in listener.events]
            rss = {
                "heap_max": run.record["jvm_heap_max_mb"],
                "jvm_rss": jvm_rss,
                "py_rss": py_rss,
            }
            snapshot = tr.StatusReader(spark).snapshot()
            metrics = layer_metrics(run, snapshot, progress, e2e, rss)
            tracer.dump(str(work / "spans.json"))
        else:
            metrics = with_units(e2e, END_TO_END)
        record.update(
            inputs=run.inputs,
            setup=run.setup,
            detail=run.detail,
            timed={"wall_s": run.timed_wall, "items": run.items},
            end_to_end=e2e,
            failures=run.failures,
        )
    finally:
        run.record["loadavg_end"] = os.getloadavg()[0]
        spark.stop()
    result = {
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }
    record["result"] = result
    Path(args.out).write_text(json.dumps(record, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

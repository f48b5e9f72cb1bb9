"""Tracing for the traced benchmark run: spans, layer wrappers, Spark status.

Everything here lives in the benchmark. The package is instrumented from
outside: ``Tracer.install()`` replaces module attributes with timing
wrappers and ``Tracer.restore()`` puts the originals back. Spans stay in
memory until ``Tracer.dump()`` writes them out at the end of the run.
Spark's own metrics come from its status store (jobs, stages, task time)
and from streaming progress, both read through public JVM objects.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    start: float  # time.perf_counter()
    end: float
    parent: int | None
    run_id: str
    wall_start: float  # time.time(), to line spans up with Spark timestamps
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder plus the patches that feed it."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root: int | None = None  # parent for spans on non-main threads
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, **attrs):
        return _SpanCtx(self, name, attrs)

    def set_root(self, span_id: int | None) -> None:
        self._root = span_id

    def of(self, name: str, within: Span | None = None) -> list[Span]:
        out = [s for s in self.spans if s.name == name]
        if within is not None:
            out = [s for s in out if within.start <= s.start and s.end <= within.end]
        return out

    def self_time(self, span: Span) -> float:
        """Span duration minus the part covered by its direct children."""
        kids = sorted(
            (s.start, s.end) for s in self.spans if s.parent == span.span_id
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return span.dur - covered

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump([asdict(s) for s in self.spans], fh)

    # -- patching ------------------------------------------------------------
    def patch(
        self, owner, attr: str, span_name: str, on_result=None, count_jobs=False
    ) -> None:
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            before = self.next_job_id() if count_jobs else 0
            with self.span(span_name) as sp:
                result = original(*args, **kwargs)
                if count_jobs:
                    sp.attrs["jobs"] = self.next_job_id() - before
                if on_result is not None:
                    on_result(sp, args, kwargs, result)
                return result

        self._patches.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        """Wrap the projector's layer entry points.

        ``runner`` imported ``compute_deltas``, ``build_edge_context`` and
        ``affected_ids_from_rows`` by name, so those are patched on
        ``runner``; ``apply_batch`` imports ``parse_envelope_rows`` and the
        replay functions at call time, so those are patched on their own
        modules, as is ``run_concurrent`` for ``dehydrate``.
        """
        from open_ftth_relational_projector_spark.events import reader
        from open_ftth_relational_projector_spark.plans import concurrency
        from open_ftth_relational_projector_spark.streaming import (
            incremental,
            replay,
            runner,
        )

        def affected(sp, args, kwargs, ids):
            sp.attrs["keys"] = sum(len(v) for v in ids.values())

        def batch_attrs(sp, args, kwargs, result):
            sp.attrs["batch_id"] = kwargs.get("batch_id")

        self.patch(reader.EventLog, "persisted", "events.persist")
        self.patch(concurrency, "run_concurrent", "concurrency.fanout")
        self.patch(runner, "apply_batch", "runner.apply_batch", batch_attrs)
        self.patch(runner, "build_edge_context", "incremental.edge_context")
        self.patch(runner, "affected_ids_from_rows", "incremental.affected", affected)
        self.patch(incremental, "parse_envelope_rows", "incremental.parse")
        self.patch(replay, "replay_lww_tables", "replay.driver")
        self.patch(replay, "replay_rel_batch", "replay.driver")
        self.patch(
            runner, "compute_deltas", "incremental.compute_deltas", count_jobs=True
        )

    def restore(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    # -- Spark status --------------------------------------------------------
    def next_job_id(self) -> int:
        return int(self.spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs())


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs

    def __enter__(self) -> Span:
        t = self.tracer
        stack = t._stack()
        parent = stack[-1] if stack else t._root
        with t._lock:
            sid = next(t._ids)
        self.span = Span(
            sid, self.name, time.perf_counter(), 0.0, parent, t.run_id,
            time.time(), dict(self.attrs),
        )
        stack.append(sid)
        return self.span

    def __exit__(self, *exc) -> None:
        self.span.end = time.perf_counter()
        self.tracer._stack().pop()
        with self.tracer._lock:
            self.tracer.spans.append(self.span)


class TimedSink:
    """Timing proxy around a sink: every write/read method becomes a span.

    Methods the sink calls on itself (``replace_group`` → ``delete_keys``)
    run on the wrapped object, so nothing is counted twice.
    """

    _SPANS = {
        "overwrite": "sink.overwrite",
        "append": "sink.append",
        "merge": "sink.merge",
        "delete_keys": "sink.delete",
        "replace_group": "sink.replace_group",
        "fetch_df": "sink.read",
        "get_meta": "sink.read",
        "set_meta": "sink.meta",
        "begin": "sink.commit",
        "commit": "sink.commit",
        "rollback": "sink.commit",
    }

    def __init__(self, sink, tracer: Tracer):
        self._sink = sink
        self._tracer = tracer

    def __getattr__(self, name: str):
        attr = getattr(self._sink, name)
        span_name = self._SPANS.get(name)
        if span_name is None:
            return attr

        def timed(*args, **kwargs):
            with self._tracer.span(span_name) as sp:
                result = attr(*args, **kwargs)
                if name == "delete_keys":
                    sp.attrs["rows"] = len(args[2])
                elif isinstance(result, int) and not isinstance(result, bool):
                    sp.attrs["rows"] = result
                return result

        return timed


class StatusReader:
    """Reads the driver's status store: jobs and stages by job-id range."""

    def __init__(self, spark):
        self.spark = spark
        jvm = spark.sparkContext._jvm
        self.store = spark.sparkContext._jsc.sc().statusStore()
        scala_module = (
            jvm.java.lang.Class.forName("com.fasterxml.jackson.module.scala.DefaultScalaModule$")
            .getField("MODULE$")
            .get(None)
        )
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self.mapper.registerModule(scala_module)

    def snapshot(self) -> tuple[dict[int, dict], dict[int, dict]]:
        jobs = json.loads(self.mapper.writeValueAsString(self.store.jobsList(None)))
        stages = json.loads(
            self.mapper.writeValueAsString(
                self.store.stageList(
                    None, False, False,
                    getattr(self.store, "stageList$default$4")(), None,
                )
            )
        )
        by_stage: dict[int, dict] = {}
        for st in stages:  # keep the latest attempt of each stage
            prev = by_stage.get(st["stageId"])
            if prev is None or st["attemptId"] > prev["attemptId"]:
                by_stage[st["stageId"]] = st
        return {j["jobId"]: j for j in jobs}, by_stage

    @staticmethod
    def totals(jobs: dict, stages: dict, job_ids) -> dict[str, float]:
        """Engine totals over the given jobs; skipped stages did no work."""
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s",
             "shuffle_write_bytes", "spill_bytes"), 0.0,
        )
        seen: set[int] = set()
        for jid in job_ids:
            job = jobs.get(jid)
            if job is None:
                continue
            out["jobs"] += 1
            for sid in job["stageIds"]:
                st = stages.get(sid)
                if sid in seen or st is None or st["status"] == "SKIPPED":
                    continue
                seen.add(sid)
                out["stages"] += 1
                out["tasks"] += st["numCompleteTasks"]
                out["task_run_s"] += st["executorRunTime"] / 1e3
                out["task_cpu_s"] += st["executorCpuTime"] / 1e9
                out["shuffle_write_bytes"] += st["shuffleWriteBytes"]
                out["spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
        return out


def jvm_gc_seconds(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in beans.getGarbageCollectorMXBeans()) / 1e3


def progress_listener(spark):
    """A StreamingQueryListener that keeps every progress event as a dict."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Keep(StreamingQueryListener):
        def __init__(self):
            self.events: list[dict] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            with self._lock:
                self.events.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Keep()
    spark.streams.addListener(listener)
    return listener

"""Metric names, units and the per-layer numbers of a traced run.

``END_TO_END`` and ``PER_LAYER`` are the names ``BENCHMARK.json`` declares;
the self-test checks that the two agree. Every ``PER_LAYER`` metric is
emitted on every workload: a layer a workload does not exercise reads 0,
which is what shows that a gain bought in one workload did not move
another. The catalog workload, which is run by hand and not declared in
``BENCHMARK.json``, adds ``CATALOG_LAYER``.
"""

from __future__ import annotations

import statistics

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "items_per_s": "1/s",
}

HEADLINE = [
    "q1_pricing_summary", "q3_order_revenue", "q5_region_nation_revenue",
    "order_item_seq", "dedup_first_occurrence", "top3_orders_per_customer",
    "running_value_per_user", "asof_purchase_prior_signup",
    "proj_work_task_sim", "proj_installation_sim", "text_stats",
    "exact_dedup_groups", "ngram_jaccard_pairs", "minhash_near_dups",
    "simhash_fingerprints", "knn_bruteforce", "knn_lsh", "multimodal_features",
]
HOTSPOT = [
    "stream_lsh_sim", "stream_session_sim",
    "semantic_dedup_verdicts", "curation_decisions",
]
STATEFUL = ["stream_lsh_sim", "stream_session_sim"]

PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.prep_s": "s",
    "jvm.heap_max_mb": "MB",
    "jvm.rss_peak_mb": "MB",
    "python.rss_peak_mb": "MB",
    "jvm.gc_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.cpu_util": "ratio",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.jobs_per_batch": "count",
    "events.rows": "count",
    "events.payload_bytes": "bytes",
    "events.persist_s": "s",
    "concurrency.fanout_s": "s",
    "dehydrate.prep_s": "s",
    "sink.overwrite_s": "s",
    "sink.rows_loaded": "count",
    "sink.merge_s": "s",
    "sink.delete_s": "s",
    "sink.replace_group_s": "s",
    "sink.append_s": "s",
    "sink.read_s": "s",
    "sink.commit_s": "s",
    "sink.rows_written_per_event": "ratio",
    "stream.batches": "count",
    "stream.trigger_overhead_p50_s": "s",
    "stream.bronze_p50_s": "s",
    "runner.apply_batch_p50_s": "s",
    "incremental.parse_s": "s",
    "incremental.edge_context_s": "s",
    "replay.driver_s": "s",
    "incremental.affected_keys_per_event": "ratio",
    "incremental.compute_deltas_s": "s",
    "incremental.spark_batches_ratio": "ratio",
    **{f"traced.{k}": u for k, u in END_TO_END.items()},
}

CATALOG_LAYER = {
    "cache.persists_released": "count",
    **{
        f"catalog.{q}.{k}": u
        for q in HEADLINE + HOTSPOT
        for k, u in (("construct_s", "s"), ("action_s", "s"), ("jobs", "count"))
    },
    **{
        f"stateful.{q}.{k}": u
        for q in STATEFUL
        for k, u in (("add_batch_s", "s"), ("state_rows", "count"), ("state_bytes", "bytes"))
    },
}


def quantile(values: list[float], q: float) -> float:
    """Inclusive linear-interpolation quantile (exact for one value)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def with_units(values: dict[str, float], units: dict[str, str]) -> dict:
    return {k: {"value": values[k], "unit": units[k]} for k in units}


def _within(span, scopes) -> bool:
    return any(s.start <= span.start and span.end <= s.end for s in scopes)


def layer_metrics(run, snapshot, progress: list[dict], e2e: dict, rss: dict) -> dict:
    """Per-layer numbers of one traced run, normalised per workload unit:
    one dehydrate, one timed catch-up drain, or one catalog pass."""
    tracer = run.tracer
    jobs, stages = snapshot
    workload = run.args.workload
    units_of = {**PER_LAYER, **CATALOG_LAYER} if workload == "catalog" else PER_LAYER
    m = dict.fromkeys(units_of, 0.0)
    m["session.start_s"] = run.setup["start_s"]
    m["session.warmup_s"] = run.setup["warmup_s"]
    m["session.prep_s"] = statistics.median(run.setup["prep_s"])
    m["jvm.heap_max_mb"] = rss["heap_max"]
    m["jvm.rss_peak_mb"] = rss["jvm_rss"]
    m["python.rss_peak_mb"] = rss["py_rss"]
    m.update({f"traced.{k}": v for k, v in e2e.items()})

    spans = tracer.spans
    if workload == "dehydrate":
        units = max(1, len(run.op_spans))
        scopes = run.op_spans
        job_ids = [j for _, a, b in run.job_ranges for j in range(a, b)]
    elif workload == "catchup":
        units = 1
        timed_ids = {b["batch_id"] for b in run.detail.get("batches", [])}
        scopes = [
            s for s in tracer.of("runner.apply_batch")
            if s.attrs.get("batch_id") in timed_ids
        ]
        start, end = run.detail.get("window", (0.0, 0.0))
        job_ids = [
            j for j, job in jobs.items()
            if start * 1e3 <= job["submissionTime"] <= end * 1e3
        ]
    else:
        units = max(1, run.detail.get("passes", 1))
        scopes = run.op_spans
        job_ids = [j for _, a, b in run.job_ranges for j in range(a, b)]

    # imported here: selftest.py loads this module on its own, outside
    # the perfbench package
    from perfbench.trace import StatusReader

    engine = StatusReader.totals(jobs, stages, job_ids)
    for k, v in engine.items():
        m[f"spark.{k}"] = v / units
    wall = run.timed_wall
    if wall > 0:
        m["spark.cpu_util"] = engine["task_cpu_s"] / (wall * run.record["nproc"])
    m["jvm.gc_s"] = run.gc_s / units

    def scoped(name: str) -> float:
        return sum(s.dur for s in spans if s.name == name and _within(s, scopes)) / units

    def rows(names: tuple[str, ...]) -> float:
        return sum(
            s.attrs.get("rows", 0) for s in spans
            if s.name in names and _within(s, scopes)
        ) / units

    m["events.persist_s"] = scoped("events.persist")
    m["concurrency.fanout_s"] = scoped("concurrency.fanout")
    for key, name in (
        ("sink.overwrite_s", "sink.overwrite"),
        ("sink.merge_s", "sink.merge"),
        ("sink.delete_s", "sink.delete"),
        ("sink.replace_group_s", "sink.replace_group"),
        ("sink.append_s", "sink.append"),
        ("sink.read_s", "sink.read"),
        ("sink.commit_s", "sink.commit"),
        ("incremental.parse_s", "incremental.parse"),
        ("incremental.edge_context_s", "incremental.edge_context"),
        ("replay.driver_s", "replay.driver"),
        ("incremental.compute_deltas_s", "incremental.compute_deltas"),
    ):
        m[key] = scoped(name)

    if workload == "dehydrate":
        m["events.rows"] = run.inputs["events"]
        m["events.payload_bytes"] = run.inputs["payload_bytes"]
        m["dehydrate.prep_s"] = statistics.mean(tracer.self_time(s) for s in run.op_spans)
        m["sink.rows_loaded"] = rows(("sink.overwrite",))
    elif workload == "catchup" and scopes:
        events = run.items
        batches = run.detail["batches"]
        m["events.rows"] = events
        m["events.payload_bytes"] = run.inputs["timed_payload_bytes"]
        m["stream.batches"] = len(batches)
        m["spark.jobs_per_batch"] = engine["jobs"] / len(batches)
        m["stream.trigger_overhead_p50_s"] = statistics.median(
            (b["triggerExecution"] - b["addBatch"]) / 1e3 for b in batches
        )
        apply_s = {s.attrs["batch_id"]: s.dur for s in scopes}
        m["runner.apply_batch_p50_s"] = statistics.median(apply_s.values())
        m["stream.bronze_p50_s"] = statistics.median(
            b["addBatch"] / 1e3 - apply_s[b["batch_id"]]
            for b in batches if b["batch_id"] in apply_s
        )
        m["sink.rows_written_per_event"] = rows(
            ("sink.merge", "sink.append", "sink.replace_group", "sink.delete")
        ) / events
        m["incremental.affected_keys_per_event"] = sum(
            s.attrs.get("keys", 0) for s in tracer.of("incremental.affected")
            if _within(s, scopes)
        ) / events
        with_jobs = sum(
            1 for scope in scopes
            if any(s.attrs.get("jobs", 0) > 0
                   for s in tracer.of("incremental.compute_deltas", scope))
        )
        m["incremental.spark_batches_ratio"] = with_jobs / len(scopes)
    elif workload == "catalog":
        m["cache.persists_released"] = run.detail["persists_released"] / units
        for q, t in run.detail["queries"].items():
            m[f"catalog.{q}.construct_s"] = t["construct_s"]
            m[f"catalog.{q}.action_s"] = t["action_s"]
            ids = [
                j for label, a, b in run.job_ranges
                if label.startswith(q + ".") for j in range(a, b)
            ]
            m[f"catalog.{q}.jobs"] = sum(1 for j in ids if j in jobs) / units
        for q in STATEFUL:
            windows = [(s.wall_start, s.wall_start + s.dur) for s in tracer.of(f"catalog.{q}")]
            mine = [
                p for p in progress
                if any(a <= p["_t"] <= b for a, b in windows)
            ]
            if not mine:
                continue
            m[f"stateful.{q}.add_batch_s"] = sum(
                p["durationMs"].get("addBatch", 0) for p in mine
            ) / 1e3 / units
            last = max(mine, key=lambda p: p["_t"])
            m[f"stateful.{q}.state_rows"] = sum(
                op["numRowsTotal"] for op in last["stateOperators"]
            )
            m[f"stateful.{q}.state_bytes"] = sum(
                op["memoryUsedBytes"] for op in last["stateOperators"]
            )
    return with_units(m, units_of)

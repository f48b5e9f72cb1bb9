"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
{"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from open_ftth_relational_projector_spark.session import get_spark  # noqa: E402
from open_ftth_relational_projector_spark.catalog import SPARK_QUERIES  # noqa: E402
from open_ftth_relational_projector_spark.cache import (  # noqa: E402
    release_tracked_persists,
)

# A warm floor older than this many days no longer min-carries on a
# SPARK_GRAFT_WARM_BEST3 refresh (r12 verdict #8): floors stamped in a
# faster epoch of the host would otherwise keep the retry trigger firing
# forever. The floor is REPLACED by the refresh pass's own best (still
# min'd with that run's cold), not dropped.
_FLOOR_MAX_AGE_DAYS = 10

_LOAD_AVG_START: float | None = None  # stamped at main() entry for the sidecar

BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_order_revenue",
    "q5_region_nation_revenue",
    "order_item_seq",
    "dedup_first_occurrence",
    "top3_orders_per_customer",
    "running_value_per_user",
    "asof_purchase_prior_signup",
    "proj_work_task_sim",
    "proj_installation_sim",
    "text_stats",
    "exact_dedup_groups",
    "ngram_jaccard_pairs",
    "minhash_near_dups",
    "simhash_fingerprints",
    "knn_bruteforce",
    "knn_lsh",
    "multimodal_features",
]

# Tracked but NOT in the headline total: the frozen 18+2 headline set stays
# fixed for cross-round comparability; these get their own timings so T7
# (event-time windows) performance is visible round-over-round too.
EXTRA_QUERIES = [
    "tumbling_event_windows",
    "sliding_event_windows",
    "session_event_windows",
    # round-3 composed pipelines (tracked, non-headline)
    "simhash_near_dups",
    "corpus_pipeline_stats",
    "dedup_keep_list",
    # round-3 late additions: clustering / selection / graph family
    "kmeans_cluster_stats",
    "semantic_dedup_verdicts",
    "dsir_doc_weights",
    "bigram_lm_doc_scores",
    "pagerank_purchase_graph",
    "curation_decisions",
    # prefix filtering's pruning win is legible against the headline
    # ngram_jaccard_pairs; ADC is the PQ serving path
    "jaccard_pairs_prefix_filtered",
    "pq_knn_adc",
    # r3 continuation-session families (tracked, non-headline)
    "bfs_purchase_distances",
    "weighted_purchase_paths",
    "kmv_distinct_rollup",
    "kmv_segment_overlap",
    "cms_join_size_estimate",
    "skyline_parts",
    "sorted_neighborhood_er",
    "merged_order_activity_periods",
    "mad_outlier_stats",
    "linear_interpolated_values",
    "ewma_user_values",
    "cusum_changepoints",
    "conversion_survival_curve",
    "attribution_last_touch",
    "asof_forward_error_recovery",
    "exact_median_twopass",
    "item_item_similarity",
    "knn_label_noise",
    "kcenter_coreset",
    "corpus_zipf_heaps",
    "fd_violation_profile",
    "benford_price_audit",
    "unpivot_lineitem_measures",
    "acctbal_distribution_ranks",
    "rfm_customer_segments",
    "psi_value_drift",
    "attribution_linear_multitouch",
    "kcore_purchase_graph",
    "peak_concurrent_sessions",
    "dow_seasonality_index",
    # r4: hierarchical-rewrite regression tracking (the third rewrite,
    # rfm_customer_segments, is already tracked above)
    "token_budget_chunks",
    # r5: keyed-state streaming sims (real availableNow micro-batch drains;
    # cost is dominated by stream machinery constants, tracked for
    # regression visibility) and the scale-safe negative-sampling rewrite
    "stream_dedup_sim",
    "stream_lsh_sim",
    "stream_hll_sim",
    "stream_hdr_sim",
    "stream_topk_sim",
    "stream_join_sim",
    "stream_session_sim",
    # r5 continuation: sketch + substring-dedup additions, IVFADC serving
    "hll_distinct_rollup",
    "hdr_quantile_rollup",
    "ivfpq_knn_adc",
    "epoch_shuffle_manifest",
    "dup_substring_spans",
    "zorder_locality_audit",
    "negative_samples_per_customer",
    # r5 continuation (driver-round session): dimensionality reduction +
    # rank-1 latent factors
    "jl_projection_audit",
    "latent_part_affinity",
    "latent_rank2_affinity",
    "ols_price_model",
    "ols_residual_by_nation",
    "nb_lang_confusion",
    "stream_ols_sim",
    "bootstrap_revenue_ci",
    "jl_knn_recall",
    "ab_tests_fdr_nations",
    # r6: mixture planning, corpus versioning, robust stats, one-pass
    # correlation, windowless equi-depth bins
    "domain_mixture_weights",
    "corpus_snapshot_diff",
    "winsorized_price_stats",
    "correlation_matrix_lineitem",
    "equidepth_price_bins",
    "ols_crossval_kfold",
    "sliding_token_chunks",
    "per_source_quality_cap",
    "stream_snapshot_sim",
    "ols_conformal_intervals",
    # round-7 additions: the remaining hierarchical-quantile rewrites and
    # the ANN twin-agreement verdict entries
    "winsorized_value_stats",
    "value_quantiles_by_type",
    "minhash_twin_agreement",
    "simhash_twin_agreement",
    "emb_lsh_twin_agreement",
    "knn_lsh_twin_agreement",
    "knn_ivf_twin_agreement",
    # round-8 classifier/rule-induction family (cold tracked; warm floors
    # measured on the next idle SPARK_GRAFT_WARM_BEST3=1 run)
    "logreg_lang_classifier",
    "logreg_score_histogram",
    "logreg_crossval_kfold",
    "logreg_auc_exact",
    "stump_quality_rule",
    "tree2_quality_rules",
    "woe_feature_audit",
    "logreg_per_source",
    # round-9: boosted-stump rule list (cold tracked; warm floors measured
    # on the next idle SPARK_GRAFT_WARM_BEST3=1 run)
    "adaboost_quality_rounds",
    "adaboost_margin_report",
    "logreg_isotonic_calibration",
    "adaboost_per_source_rounds",
    "adaboost_per_source_margins",
    # round-10: bucketed Naive Bayes (cold tracked; warm floors measured
    # on the next idle SPARK_GRAFT_WARM_BEST3=1 run)
    "naive_bayes_quality",
    "naive_bayes_bucket_likelihoods",
]


def bench_domain_projection(spark, scale: int = 60) -> tuple[str, float]:
    """End-to-end domain event fold: generate → JSON envelopes → all 8 tables."""
    from open_ftth_relational_projector_spark.events.generator import (
        generate,
        to_envelope_rows,
    )
    from open_ftth_relational_projector_spark.events.reader import EventLog
    from open_ftth_relational_projector_spark.events.schemas import ENVELOPE_SCHEMA
    from open_ftth_relational_projector_spark.plans.concurrency import (
        materialize_counts,
    )
    from open_ftth_relational_projector_spark.projections import project_all

    t0 = time.perf_counter()
    raw = spark.createDataFrame(
        to_envelope_rows(generate(seed=42, scale=scale)), ENVELOPE_SCHEMA
    ).coalesce(8)
    with _domain_conf(spark, 8):
        tables = project_all(EventLog.from_envelopes(raw).persisted())
        materialize_counts(tables)
    return "domain_projection_8tables", time.perf_counter() - t0


class _domain_conf:
    """Temporarily size the session for the domain benches: their inputs are
    thousands of events, where 32-way shuffles are pure task overhead and
    AQE's per-stage re-optimization adds latency with nothing to re-plan;
    the sf0.1 relational queries keep the session defaults."""

    def __init__(self, spark, n: int):
        self.spark, self.n = spark, str(n)

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.prev_aqe = self.spark.conf.get("spark.sql.adaptive.enabled")
        self.spark.conf.set("spark.sql.shuffle.partitions", self.n)
        self.spark.conf.set("spark.sql.adaptive.enabled", "false")

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)
        self.spark.conf.set("spark.sql.adaptive.enabled", self.prev_aqe)


def bench_streaming_catchup(spark, scale: int = 20) -> tuple[str, float]:
    """Dehydrate 60% of a domain log, then apply the rest as 4 incremental
    micro-batches into the relational sink (the reference's catch-up loop)."""
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

    env = spark.createDataFrame(
        to_envelope_rows(generate(seed=42, scale=scale)), ENVELOPE_SCHEMA
    ).coalesce(4).cache()
    max_seq = env.agg({"seq": "max"}).collect()[0][0]
    bounds = [int(max_seq * f) for f in (0.6, 0.7, 0.8, 0.9)] + [max_seq]

    with _domain_conf(spark, 8), tempfile.TemporaryDirectory() as bronze:
        sink = DuckDBSink()
        dehydrate(env.filter(f"seq <= {bounds[0]}"), sink)
        env.filter(f"seq <= {bounds[0]}").write.mode("overwrite").parquet(bronze)
        t0 = time.perf_counter()  # bootstrap cost ≙ domain_projection metric
        for i in range(len(bounds) - 1):
            lo, hi = bounds[i], bounds[i + 1]
            apply_batch(
                bronze,
                env.filter(f"seq > {lo} AND seq <= {hi}"),
                sink,
                batch_id=i,
            )
        elapsed = time.perf_counter() - t0
    # r13: drop the envelope cache once drained — a leaked env cache made
    # every re-run of this bench (retry, floors) read a warm local
    # relation via CacheManager plan-dedupe ("Block rdd_* already exists")
    env.unpersist(False)
    return "streaming_catchup_4batches", elapsed


def _plan_signature(df) -> str:
    """Stable fingerprint of a query's OPTIMIZED plan, used to invalidate
    carried-forward warm_best3 numbers when the query is rewritten (r7
    advisor: a pre-rewrite warm floor silently posed as the regression
    baseline until someone re-ran SPARK_GRAFT_WARM_BEST3=1). Session-
    varying tokens (expression ids ``#123``, plan ids, object addresses)
    are normalized away so the signature changes exactly when the plan
    SHAPE/expressions change. Over-invalidation on cosmetic plan-text
    drift is fine — a nulled warm number just gets re-measured."""
    # r12: compute the optimized half by running the optimizer DIRECTLY on
    # the analyzed plan, bypassing CacheManager substitution. The previous
    # leaf-level canonicalization (kept below as defense) closed the
    # single-leaf case but not MULTI-NODE cache-covered subtrees: another
    # query's persist of scattered(documents) covers repartition+scan, so
    # in-protocol the InMemoryRelation replaced TWO lines with one and
    # simhash_near_dups' sig still flapped fresh-session vs in-protocol
    # (verified both ways this round). With no cache substitution the sig
    # is order-invariant by construction.
    jqe = df._jdf.queryExecution()  # noqa: SLF001
    try:
        txt = (
            df.sparkSession._jsparkSession.sessionState()  # noqa: SLF001
            .optimizer()
            .execute(jqe.analyzed())
            .toString()
        )
    except Exception:  # pragma: no cover — py4j surface drift
        txt = jqe.optimizedPlan().toString()
    # A persist()-cached subtree prints under its InMemoryRelation node
    # whatever EXECUTION STATE / CACHE SUBSTITUTION it happens to hold
    # when the sig is computed: unexecuted = isFinalPlan=false + the
    # initial subtree; executed = isFinalPlan=true + a duplicated
    # "== Final Plan ==" / "== Initial Plan ==" pair wrapped in
    # {Result,Shuffle,TableCache,Broadcast}QueryStage nodes — and
    # CacheManager dedupes cached frames session-wide, so the embedded
    # tree can even swap between cache-over-cache and cache-over-scan
    # forms depending on what ran earlier in the session (measured r10:
    # THREE distinct sigs for byte-identical curation_decisions code —
    # fresh-session, in-protocol, post-warm-rerun). None of that is plan
    # shape. Canonicalize by PRUNING every subtree below an
    # InMemoryRelation line (its output schema stays in the sig): cached
    # frames then fingerprint like localCheckpoint'd ones already do
    # (LogicalRDD leaves carry no embedded plan). The cost is symmetric
    # with the checkpoint convention: a rewrite that only changes how a
    # cached/checkpointed intermediate is COMPUTED no longer invalidates
    # floors — min-carry keeps them honest for speedups; document slower
    # upstream rewrites in BENCH_NOTES when making them.
    pruned: list[str] = []
    skip_indent: int | None = None
    for line in txt.splitlines():
        stripped = re.sub(r"^[\s:+\-*]+", "", line)
        if not stripped:
            continue
        indent = len(line) - len(stripped)
        if skip_indent is not None:
            if indent > skip_indent:
                continue
            skip_indent = None
        if "InMemoryRelation" in stripped:
            skip_indent = indent
            # r12 (closing the r11 residual note): a scan COVERED BY ANOTHER
            # QUERY'S persist fingerprints as an InMemoryRelation line
            # in-protocol but as a parquet Relation line in a fresh session
            # (observed: dsir_doc_weights' documents scan) — the sig was
            # cache-POSITION-dependent, so a bench reorder would have
            # invalidated its floor. Canonicalize BOTH leaf forms to one
            # token; the analyzed half below (computed before CacheManager
            # substitution) still disambiguates what is actually computed.
            stripped = re.sub(
                r"^InMemoryRelation \[([^\]]*)\].*", r"Relation [\1] <scan>",
                stripped,
            )
        else:
            stripped = re.sub(
                r"^Relation \[([^\]]*)\] parquet$", r"Relation [\1] <scan>",
                stripped,
            )
        pruned.append(stripped)
    txt = "\n".join(pruned)
    # The pruning above makes the OPTIMIZED-plan half of the signature
    # blind to rewrites of how a cached intermediate is COMPUTED (r10
    # advisor): a slower upstream rewrite would carry the stale faster
    # floor as its regression baseline, guarded only by a BENCH_NOTES
    # convention. Close the hole by mixing in the ANALYZED logical plan
    # — computed BEFORE CacheManager substitution, so it carries every
    # cached intermediate's full unexecuted subtree (exactly the text
    # the pruning drops) while holding none of the execution state
    # (QueryStage / isFinalPlan / cache-over-cache forms) that made the
    # raw optimized text flap. localCheckpoint'd intermediates remain
    # LogicalRDD leaves in BOTH halves — the documented checkpoint
    # convention is unchanged.
    ana = df._jdf.queryExecution().analyzed().toString()  # noqa: SLF001
    txt = txt + "\n== analyzed ==\n" + ana
    # ONE normalization pass over the concatenated halves (r11 review:
    # the exprId/lambda regexes were previously applied to each half
    # separately — duplicated patterns that could drift apart):
    # expression ids ``#123``; higher-order-function lambda variables,
    # whose SESSION-GLOBAL counter (lambda x_20#) #-stripping misses —
    # registering new catalog entries shifted the counter and flapped
    # curation_decisions' signature between identical-code runs (r9);
    # and the session/plan-varying tokens below.
    txt = re.sub(r"#\d+[L]?", "#", txt)
    txt = re.sub(r"(lambda [A-Za-z]+)_\d+", r"\1_", txt)
    txt = re.sub(r"isFinalPlan=\w+", "isFinalPlan=", txt)
    txt = re.sub(r"\*\(\d+\)", "*", txt)
    txt = re.sub(r"plan_id=\d+", "plan_id=", txt)
    txt = re.sub(r"@[0-9a-f]{6,}", "@", txt)
    return hashlib.md5(txt.encode()).hexdigest()[:12]


def main() -> None:
    global _LOAD_AVG_START
    try:
        _LOAD_AVG_START = round(os.getloadavg()[0], 2)
    except OSError:
        _LOAD_AVG_START = None
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    # console progress bars write stage-fragment lines that can share a
    # physical line with the final JSON when streams are merged — keep the
    # bench's stdout strictly one-JSON-line parseable
    spark = get_spark(
        app_name="bench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    # Silence WindowExec's "No Partition Defined" warning for THIS bench
    # process only: the 8 emitting sites are the bounded score-lattice /
    # sketch-spine windows (≤8-256 rows by construction), each enumerated
    # and exempted in scripts/audit_global_windows.py — in a bench tail
    # the repeated warning reads as a regression signal it isn't. The
    # audit, not the logger, remains the gate for real global windows.
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass  # logging cosmetics must never fail the bench
    # JVM/codegen warm-up so the first timed query isn't charged session
    # startup; table data itself stays cold. The tiny untimed domain passes
    # JIT the fold/sink code paths the same way spark.range warms the
    # scan/agg path — the timed runs then measure the engine, not first-use
    # compilation.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    # spin up the reusable Python worker pool so the first pandas-UDF query
    # isn't charged interpreter startup
    spark.range(1_000).mapInPandas(lambda it: it, "id long").count()
    bench_domain_projection(spark, scale=2)
    bench_streaming_catchup(spark, scale=2)
    release_tracked_persists(spark)  # warm-up caches must not leak (r13)

    # r13: non-default scale factors keep their own sidecar (floors are
    # per-SF numbers; an sf1 evidence run must not overwrite — or feed the
    # retry rule of — the driver's sf0.1 floor set). The driver contract
    # path (sf0.1) is byte-identical to before.
    sidecar_name = (
        "BENCH_EXTRA.json" if abs(sf - 0.1) < 1e-12
        else f"BENCH_EXTRA_sf{sf:g}.json"
    )
    sidecar = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), sidecar_name
    )
    try:
        with open(sidecar) as f:
            prior_sidecar = json.load(f)
    except (OSError, ValueError):
        prior_sidecar = {}

    # Load-robust headline retry (round-11 verdict #3): two driver lines in
    # a row read 1.7-2.4x the true floor purely from host load. Any headline
    # query whose in-sequence cold measures >1.5x its stamped warm floor
    # (same plan signature) is re-run ONCE in-process and the min kept as
    # the official number — bounded at <=1 extra execution per headline
    # entry, fires only under load, and the first-attempt number is
    # preserved in the printed line's "retried" map. Floors come from the
    # committed sidecar's headline_queries section (stamped on idle
    # SPARK_GRAFT_WARM_BEST3=1 runs, min-carried like the extras).
    # r13 (r12 verdict #1): the retry is now HONEST-COLD — every timed
    # run (first attempt, retry, floor passes) is followed by a
    # release_tracked_persists() outside the timed region, so a rerun can
    # never read persisted intermediates the previous attempt left behind
    # (catalog persists are tracked session-wide since r13; the composed
    # benches' project_all/dehydrate caches and the catch-up env cache
    # are released/unpersisted the same way). min(first, retry) is
    # therefore two same-methodology cold measurements; the first attempt
    # is additionally preserved in "retried" and the official line now
    # carries first_attempt_total for a methodology-stable series.
    headline_floor: dict[str, tuple[float, str | None]] = {}
    for qname, rec in prior_sidecar.get("headline_queries", {}).items():
        if isinstance(rec, dict) and rec.get("warm_best3") is not None:
            headline_floor[qname] = (rec["warm_best3"], rec.get("plan_sig"))

    timings: dict[str, float] = {}
    retried: dict[str, float] = {}
    headline_sig: dict[str, str | None] = {}

    def _retry_min(name: str, first: float, sig, rerun) -> float:
        floor = headline_floor.get(name)
        if floor is None or floor[1] != sig or first <= 1.5 * floor[0]:
            return first
        retried[name] = first
        return min(first, rerun())

    for name in BENCH_QUERIES:
        fn = SPARK_QUERIES[name]

        def _run(fn=fn):
            t0 = time.perf_counter()
            # noop sink since r5: count() let Catalyst prune unused output
            # columns, so map-only queries (simhash_fingerprints: the whole
            # fingerprint expression; running_value_per_user: the window)
            # were partially skipped. The noop writer forces every output
            # column to evaluate with no sink cost — honest wall clock,
            # one-time step change documented with a dual measurement in
            # BENCH_NOTES (r1-r4 totals remain comparable to each other
            # under the old protocol).
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            # outside the timed region: query-scoped catalog caches die
            # here so the NEXT measurement (retry or next query) is cold
            release_tracked_persists(spark)
            return dt

        first = _run()
        headline_sig[name] = _plan_signature(fn(spark, sf_dir))
        release_tracked_persists(spark)  # sig construction may persist too
        timings[name] = round(
            _retry_min(name, first, headline_sig[name], _run), 3
        )

    # the two composed benches carry no single plan; their floors key on
    # plan_sig None (a code rewrite cannot auto-invalidate them — worst
    # case is one spurious or missed retry, bounded and documented)
    def _run_composed(fn_b):
        sec = fn_b()
        release_tracked_persists(spark)  # honest-cold rerun (r13)
        return sec

    pname = "domain_projection_8tables"
    psec = _run_composed(lambda: bench_domain_projection(spark)[1])
    headline_sig[pname] = None
    timings[pname] = round(
        _retry_min(
            pname, psec, None,
            lambda: _run_composed(lambda: bench_domain_projection(spark)[1]),
        ),
        3,
    )
    sname = "streaming_catchup_4batches"
    ssec = _run_composed(lambda: bench_streaming_catchup(spark)[1])
    headline_sig[sname] = None
    timings[sname] = round(
        _retry_min(
            sname, ssec, None,
            lambda: _run_composed(lambda: bench_streaming_catchup(spark)[1]),
        ),
        3,
    )

    total = round(sum(timings.values()), 3)

    extra: dict[str, float] = {}
    plan_sig: dict[str, str] = {}
    for name in EXTRA_QUERIES:
        fn = SPARK_QUERIES[name]
        t0 = time.perf_counter()
        # noop sink, not count(): count() lets Catalyst prune every column
        # and even eliminate a trailing unique-key outer join entirely
        # (dup_substring_spans timed as a bare table count) — the noop
        # writer forces full evaluation of every output column with no
        # sink cost. The headline set switched too (same session).
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        extra[name] = round(time.perf_counter() - t0, 3)
        plan_sig[name] = _plan_signature(df)
        release_tracked_persists(spark)  # query-scoped caches (r13)

    # Sidecar schema (round-6 verdict #4): each extra query carries a
    # cold+warm PAIR so a single contended in-sequence number can't read
    # as the query's cost (cold runs swing 2-4x with host load; see
    # BENCH_NOTES). "cold" refreshes every run (the driver's in-sequence
    # number); "warm_best3" is the min of 3 back-to-back re-runs, measured
    # only when SPARK_GRAFT_WARM_BEST3=1 (an idle-host local run — too
    # expensive for every driver round) and carried forward from the
    # committed sidecar otherwise.
    # each warm number carries the date it was MEASURED plus the plan
    # signature it was measured UNDER: a carried-forward floor from before
    # a query rewrite is dropped automatically (plan_sig mismatch ⇒ the
    # measured plan no longer exists), not just visibly stale
    prior_warm: dict[str, tuple[float, str | None]] = {}
    invalidated: list[str] = []
    for qname, rec in prior_sidecar.get("extra_queries", {}).items():
        if isinstance(rec, dict) and rec.get("warm_best3") is not None:
            if rec.get("plan_sig") != plan_sig.get(qname):
                invalidated.append(qname)
                continue
            prior_warm[qname] = (rec["warm_best3"], rec.get("warm_recorded"))
    # headline floors (r12): same min-carry scheme, keyed on the headline
    # plan sigs computed above; they feed the in-sequence retry rule
    prior_hwarm: dict[str, tuple[float, str | None]] = {}
    for qname, rec in prior_sidecar.get("headline_queries", {}).items():
        if isinstance(rec, dict) and rec.get("warm_best3") is not None:
            if rec.get("plan_sig") != headline_sig.get(qname):
                invalidated.append(f"headline:{qname}")
                continue
            prior_hwarm[qname] = (rec["warm_best3"], rec.get("warm_recorded"))
    warm: dict[str, tuple[float, str | None]] = dict(prior_warm)
    hwarm: dict[str, tuple[float, str | None]] = dict(prior_hwarm)
    if os.environ.get("SPARK_GRAFT_WARM_BEST3") == "1":
        stamp = time.strftime("%Y-%m-%d")

        def _floor_age_days(recorded: str | None) -> float:
            if not recorded:
                return float("inf")
            try:
                then = time.mktime(time.strptime(recorded, "%Y-%m-%d"))
            except ValueError:
                return float("inf")
            return (time.time() - then) / 86400.0

        def _stamp_floor(dest, prior_map, name, best, cold):
            # the run's own in-sequence cold participates too: a query
            # whose internal persists interact with end-of-session cache
            # pressure (curation_decisions, r9) can measure a best-of-3
            # ABOVE its cold — a "floor" above the same run's cold is a
            # contradiction
            best = round(min(best, cold if cold is not None else best), 3)
            # a floor is the best KNOWN wall under the current plan: keep
            # the carried value when it beats this session's best-of-3 (a
            # refresh on a not-quite-idle host must not RAISE floors — an
            # r9 run with 5-min load ~4 inflated 32 of them before this
            # min; plan changes still invalidate via plan_sig above).
            # r13 (r12 verdict #8): a floor older than _FLOOR_MAX_AGE_DAYS
            # no longer min-carries — it is superseded by this refresh
            # pass's own measurement, so the retry trigger cannot keep
            # comparing against a floor from a faster epoch of the host.
            prior = prior_map.get(name)
            if (
                prior is not None
                and prior[0] <= best
                and _floor_age_days(prior[1]) <= _FLOOR_MAX_AGE_DAYS
            ):
                dest[name] = prior
            else:
                dest[name] = (best, stamp)

        def _noop_runner(fn):
            def run() -> float:
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
                # r13: floors use the same honest-cold methodology as the
                # in-sequence runs — catalog caches die between re-runs
                release_tracked_persists(spark)
                return dt

            return run

        def _best3(runner) -> float:
            return min(runner() for _ in range(3))

        for name in EXTRA_QUERIES:
            _stamp_floor(
                warm, prior_warm, name,
                _best3(_noop_runner(SPARK_QUERIES[name])), extra.get(name),
            )
        for name in BENCH_QUERIES:
            _stamp_floor(
                hwarm, prior_hwarm, name,
                _best3(_noop_runner(SPARK_QUERIES[name])), timings.get(name),
            )
        for name, fn_b in (
            ("domain_projection_8tables", lambda: bench_domain_projection(spark)[1]),
            ("streaming_catchup_4batches", lambda: bench_streaming_catchup(spark)[1]),
        ):
            _stamp_floor(
                hwarm, prior_hwarm, name,
                _best3(lambda fb=fn_b: _run_composed(fb)), timings.get(name),
            )

    # Round 3's final line carried 45 inline extra_queries and outgrew the
    # driver's tail capture (BENCH_r03.json parsed: null). The extras go to
    # a sidecar file; the final stdout line stays compact (~1 KB) so the
    # driver can always parse it.
    try:
        load_avg_end = round(os.getloadavg()[0], 2)
    except OSError:
        load_avg_end = None
    with open(sidecar, "w") as f:
        json.dump(
            {
                "extra_queries": {
                    name: {
                        "cold": c,
                        "warm_best3": warm.get(name, (None, None))[0],
                        "warm_recorded": warm.get(name, (None, None))[1],
                        "plan_sig": plan_sig.get(name),
                    }
                    for name, c in extra.items()
                },
                # headline floors (r12): cold = the FIRST in-sequence
                # attempt (pre-retry, contention-sensitive); the printed
                # line's queries map holds min(first, one retry) — the
                # official number the driver records
                "headline_queries": {
                    name: {
                        "cold": retried.get(name, timings.get(name)),
                        "warm_best3": hwarm.get(name, (None, None))[0],
                        "warm_recorded": hwarm.get(name, (None, None))[1],
                        "plan_sig": headline_sig.get(name),
                    }
                    for name in timings
                },
                "warm_invalidated_by_plan_change": sorted(invalidated),
                "sf": sf,
                "load_avg_start": _LOAD_AVG_START,
                "load_avg_end": load_avg_end,
                "note": (
                    "cold = single in-sequence run (contention-sensitive, "
                    "2-4x swing with host load); warm_best3 = min of 3 "
                    "back-to-back re-runs on an idle host "
                    "(SPARK_GRAFT_WARM_BEST3=1), carried forward between "
                    "driver rounds ONLY while the query's optimized-plan "
                    "signature is unchanged (a rewrite nulls its warm "
                    "floor) — compare regressions against warm_best3, "
                    "not cold"
                ),
            },
            f,
            indent=1,
        )

    # Self-adjudicating headline (round-8 verdict #2): the r8 driver run
    # read as a 2.4x regression (56.2 s) until the sidecar's
    # load_avg_start: 26.37 exonerated it as host contention. Carry the
    # load context in the parsed line itself so every future BENCH_rN.json
    # explains its own wall clock without the sidecar.
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "load_avg_start": _LOAD_AVG_START,
                "load_avg_end": load_avg_end,
                # first-attempt numbers for the entries the load-robust
                # retry re-ran (queries map holds the min) — the old
                # methodology's value is never discarded, just annotated
                "retried": {k: round(v, 3) for k, v in retried.items()},
                # r13 (r12 verdict #1): the pure first-attempt series, a
                # methodology-stable round-over-round comparison basis
                # (equals `value` whenever no retry fired)
                "first_attempt_total": round(
                    sum(retried.get(k, v) for k, v in timings.items()), 3
                ),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

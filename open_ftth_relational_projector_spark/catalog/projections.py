"""The projection engine over synthesized domain events (proj_*_sim).

Split out of the single-file catalog (round-4 verdict #6); registration
order preserved — see catalog/__init__.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, Window as W  # noqa: F401

from open_ftth_relational_projector_spark.sources.tables import load_table, scattered  # noqa: F401
from open_ftth_relational_projector_spark.events.reader import EventLog  # noqa: F401
from open_ftth_relational_projector_spark.operators import asof_join, latest_by_key  # noqa: F401
from open_ftth_relational_projector_spark.functions import dedup as D  # noqa: F401
from open_ftth_relational_projector_spark.functions import similarity as S  # noqa: F401
from open_ftth_relational_projector_spark.functions import text as TXT  # noqa: F401
from open_ftth_relational_projector_spark.functions.multimodal import (  # noqa: F401
    attach_binary,
    extract_features,
)
from open_ftth_relational_projector_spark.projections.core import (  # noqa: F401
    project_installation,
    project_work_task,
)

from ._registry import _q, _r4  # noqa: F401


# ===========================================================================
# 3. the projection engine over synthesized domain events
# ===========================================================================


def _sim_work_task_log(spark: SparkSession, sf_dir: str) -> EventLog:
    ev = load_table(spark, sf_dir, "events")
    created = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("seq"),
        F.col("user_id").cast("string").alias("workTaskId"),
        F.struct(
            F.concat(F.lit("N-"), F.col("user_id").cast("string")).alias("number"),
            F.when(F.col("value") >= 10, F.lit("open")).alias("status"),
        ).alias("workTask"),
    )
    changed = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("seq"),
        F.col("user_id").cast("string").alias("workTaskId"),
        F.concat(F.lit("spent-"), F.floor("value").cast("int").cast("string")).alias(
            "status"
        ),
    )
    return EventLog.from_typed(
        spark, {"WorkTaskCreated": created, "WorkTaskStatusChanged": changed}
    )


@_q(
    "proj_work_task_sim",
    """
    WITH created AS (
      SELECT CAST(user_id AS VARCHAR) AS id, event_id AS seq,
             'N-' || CAST(user_id AS VARCHAR) AS number,
             CASE WHEN value >= 10 THEN 'open' END AS status
      FROM events WHERE event_type = 'signup' AND value >= 10),
    last_created AS (
      SELECT id, ARG_MAX(number, seq) AS number, ARG_MAX(status, seq) AS status,
             MAX(seq) AS cseq
      FROM created GROUP BY id),
    changed AS (
      SELECT CAST(user_id AS VARCHAR) AS id, event_id AS seq,
             'spent-' || CAST(CAST(FLOOR(value) AS INT) AS VARCHAR) AS status
      FROM events WHERE event_type = 'purchase'),
    late AS (
      SELECT c.id, ARG_MAX(c.status, c.seq) AS status
      FROM changed c JOIN last_created lc ON c.id = lc.id AND c.seq > lc.cseq
      GROUP BY c.id)
    SELECT lc.id, lc.number, COALESCE(late.status, lc.status) AS status
    FROM last_created lc LEFT JOIN late ON lc.id = late.id
    """,
)
def proj_work_task_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL work_task projection over synthesized domain events."""
    return project_work_task(_sim_work_task_log(spark, sf_dir))


def _sim_installation_log(spark: SparkSession, sf_dir: str) -> EventLog:
    ev = load_table(spark, sf_dir, "events")
    uid = F.col("user_id").cast("string")
    fv = F.floor("value").cast("int").cast("string")
    created = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("seq"),
        uid.alias("id"),
        F.concat(F.lit("I-"), uid).alias("installationId"),
        F.when(F.col("value") >= 50, F.concat(F.lit("U-"), fv)).alias("unitAddressId"),
        F.lit("NEW").alias("status"),
        F.when(F.col("value") < 25, F.lit("low")).alias("locationRemark"),
    )
    status = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("seq"),
        uid.alias("id"),
        F.concat(F.lit("S-"), fv).alias("status"),
    )
    addr = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("seq"),
        uid.alias("id"),
        F.when(F.col("value") >= 50, F.concat(F.lit("U2-"), fv)).alias("unitAddressId"),
    )
    remark = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("seq"),
        uid.alias("id"),
        F.when(F.col("value") < 50, F.concat(F.lit("R-"), fv)).alias("locationRemark"),
    )
    return EventLog.from_typed(
        spark,
        {
            "InstallationCreated": created,
            "InstallationStatusChanged": status,
            "InstallationUnitAddressChanged": addr,
            "InstallationLocationRemarkChanged": remark,
        },
    )


@_q(
    "proj_installation_sim",
    """
    WITH created AS (
      SELECT CAST(user_id AS VARCHAR) AS id, event_id AS seq,
             'I-' || CAST(user_id AS VARCHAR) AS installation_id,
             CASE WHEN value >= 50 THEN 'U-' || CAST(CAST(FLOOR(value) AS INT) AS VARCHAR) END AS unit_address_id,
             'NEW' AS status,
             CASE WHEN value < 25 THEN 'low' END AS location_remark
      FROM events WHERE event_type = 'signup'),
    last_created AS (
      SELECT id, MAX(seq) AS cseq,
             ARG_MAX(installation_id, seq) AS installation_id,
             ARG_MAX(STRUCT_PACK(v := unit_address_id), seq)['v'] AS unit_address_id,
             ARG_MAX(status, seq) AS status,
             ARG_MAX(STRUCT_PACK(v := location_remark), seq)['v'] AS location_remark
      FROM created GROUP BY id),
    upd_status AS (
      SELECT CAST(user_id AS VARCHAR) AS id, event_id AS seq,
             'S-' || CAST(CAST(FLOOR(value) AS INT) AS VARCHAR) AS status
      FROM events WHERE event_type = 'click'),
    upd_addr AS (
      SELECT CAST(user_id AS VARCHAR) AS id, event_id AS seq,
             CASE WHEN value >= 50 THEN 'U2-' || CAST(CAST(FLOOR(value) AS INT) AS VARCHAR) END AS unit_address_id
      FROM events WHERE event_type = 'view'),
    upd_remark AS (
      SELECT CAST(user_id AS VARCHAR) AS id, event_id AS seq,
             CASE WHEN value < 50 THEN 'R-' || CAST(CAST(FLOOR(value) AS INT) AS VARCHAR) END AS location_remark
      FROM events WHERE event_type = 'error'),
    late_status AS (
      SELECT u.id, ARG_MAX(u.status, u.seq) AS status
      FROM upd_status u JOIN last_created lc ON u.id = lc.id AND u.seq > lc.cseq
      GROUP BY u.id),
    late_addr AS (
      SELECT u.id, ARG_MAX(STRUCT_PACK(v := u.unit_address_id), u.seq) AS unit_address_id
      FROM upd_addr u JOIN last_created lc ON u.id = lc.id AND u.seq > lc.cseq
      GROUP BY u.id),
    late_remark AS (
      SELECT u.id, ARG_MAX(STRUCT_PACK(v := u.location_remark), u.seq) AS location_remark
      FROM upd_remark u JOIN last_created lc ON u.id = lc.id AND u.seq > lc.cseq
      GROUP BY u.id)
    SELECT lc.id, lc.installation_id,
           CASE WHEN la.id IS NOT NULL THEN la.unit_address_id['v'] ELSE lc.unit_address_id END AS unit_address_id,
           COALESCE(ls.status, lc.status) AS status,
           CASE WHEN lr.id IS NOT NULL THEN lr.location_remark['v'] ELSE lc.location_remark END AS location_remark
    FROM last_created lc
    LEFT JOIN late_status ls ON lc.id = ls.id
    LEFT JOIN late_addr la ON lc.id = la.id
    LEFT JOIN late_remark lr ON lc.id = lr.id
    """,
)
def proj_installation_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL installation projection (null-writing updates included)."""
    return project_installation(_sim_installation_log(spark, sf_dir))


@_q(
    "stream_incremental_sim",
    """
    WITH created AS (
      SELECT CAST(user_id AS VARCHAR) AS id, event_id AS seq,
             'N-' || CAST(user_id AS VARCHAR) AS number,
             CASE WHEN value >= 10 THEN 'open' END AS status
      FROM events WHERE event_type = 'signup' AND value >= 10),
    last_created AS (
      SELECT id, ARG_MAX(number, seq) AS number, ARG_MAX(status, seq) AS status,
             MAX(seq) AS cseq
      FROM created GROUP BY id),
    changed AS (
      SELECT CAST(user_id AS VARCHAR) AS id, event_id AS seq,
             'spent-' || CAST(CAST(FLOOR(value) AS INT) AS VARCHAR) AS status
      FROM events WHERE event_type = 'purchase'),
    late AS (
      SELECT c.id, ARG_MAX(c.status, c.seq) AS status
      FROM changed c JOIN last_created lc ON c.id = lc.id AND c.seq > lc.cseq
      GROUP BY c.id)
    SELECT lc.id, lc.number, COALESCE(late.status, lc.status) AS status
    FROM last_created lc LEFT JOIN late ON lc.id = late.id
    """,
)
def stream_incremental_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The work_task projection driven through the STREAMING path: events →
    JSON envelopes → dehydrate(prefix) → incremental apply_batch(tail) →
    relational sink; returns the sink table. Must hash-match the same oracle
    as proj_work_task_sim — the batch/streaming duality (SURVEY §2.7 T2/T5)
    under the driver's correctness gate.
    """
    import tempfile

    from open_ftth_relational_projector_spark.events.reader import (
        EventLog as _EL,
    )
    from open_ftth_relational_projector_spark.projections.core import (
        project_work_task as _pwt,
    )
    from open_ftth_relational_projector_spark.sinks import DuckDBSink
    from open_ftth_relational_projector_spark.streaming.runner import apply_batch

    ev = load_table(spark, sf_dir, "events")
    uid = F.col("user_id").cast("string")
    created = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("seq"),
        F.lit("WorkTaskCreated").alias("event_type"),
        F.to_json(
            F.struct(
                uid.alias("workTaskId"),
                F.struct(
                    F.concat(F.lit("N-"), uid).alias("number"),
                    F.when(F.col("value") >= 10, F.lit("open")).alias("status"),
                ).alias("workTask"),
            )
        ).alias("payload"),
    )
    changed = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("seq"),
        F.lit("WorkTaskStatusChanged").alias("event_type"),
        F.to_json(
            F.struct(
                uid.alias("workTaskId"),
                F.concat(
                    F.lit("spent-"), F.floor("value").cast("int").cast("string")
                ).alias("status"),
            )
        ).alias("payload"),
    )
    env = created.unionByName(changed)
    max_seq = env.agg(F.max("seq")).collect()[0][0]
    cut = max_seq // 2

    sink = DuckDBSink()
    sink.ensure_schema()
    prefix = env.filter(F.col("seq") <= cut)
    sink.overwrite("work_task", _pwt(_EL.from_envelopes(prefix)))
    sink.set_meta("watermark", str(cut))
    with tempfile.TemporaryDirectory(prefix="ofrp_bronze_") as bronze:
        prefix.write.mode("overwrite").parquet(bronze)
        apply_batch(bronze, env.filter(F.col("seq") > cut), sink, batch_id=0)

    out = sink.read_table("work_task")
    return spark.createDataFrame(out, "id string, number string, status string")


@_q(
    "proj_node_container_sim",
    """
    WITH ev AS (
      SELECT event_id AS seq, CAST(user_id AS VARCHAR) AS u, event_type, value,
             CAST(FLOOR(value) AS INT) AS fv
      FROM events),
    specs AS (
      SELECT seq, 'SP-' || CAST(fv % 20 AS VARCHAR) AS spec_id,
             'N-' || CAST(fv AS VARCHAR) AS name,
             'C-' || CAST(fv % 5 AS VARCHAR) AS category
      FROM ev WHERE event_type = 'view'),
    placed AS (
      SELECT seq, u AS id, 'RN-' || u AS route_node_id,
             'SP-' || CAST(fv % 20 AS VARCHAR) AS spec_id
      FROM ev WHERE event_type = 'signup'),
    placed_spec AS (
      SELECT p.id, p.seq, p.route_node_id, s.name AS spec_name,
             s.category AS spec_category
      FROM placed p ASOF LEFT JOIN specs s
        ON p.spec_id = s.spec_id AND p.seq > s.seq),
    last_created AS (
      SELECT id, MAX(seq) AS cseq,
             ARG_MAX(route_node_id, seq) AS route_node_id,
             ARG_MAX(STRUCT_PACK(v := spec_name), seq)['v'] AS spec_name,
             ARG_MAX(STRUCT_PACK(v := spec_category), seq)['v'] AS spec_category
      FROM placed_spec GROUP BY id),
    changed AS (
      SELECT seq, u AS id, 'SP-' || CAST(fv % 20 AS VARCHAR) AS spec_id
      FROM ev WHERE event_type = 'click' AND value >= 100),
    changed_spec AS (
      SELECT c.id, c.seq, s.name AS spec_name, s.category AS spec_category
      FROM changed c ASOF LEFT JOIN specs s
        ON c.spec_id = s.spec_id AND c.seq > s.seq),
    late AS (
      SELECT c.id,
             ARG_MAX(STRUCT_PACK(v := c.spec_name), c.seq) AS sn,
             ARG_MAX(STRUCT_PACK(v := c.spec_category), c.seq) AS sc
      FROM changed_spec c JOIN last_created lc
        ON c.id = lc.id AND c.seq > lc.cseq
      GROUP BY c.id),
    removed AS (
      SELECT u AS id, MAX(seq) AS rseq
      FROM ev WHERE event_type = 'error' AND value < 20 GROUP BY u)
    SELECT lc.id, lc.route_node_id,
           CASE WHEN late.id IS NOT NULL THEN late.sn['v'] ELSE lc.spec_name END AS spec_name,
           CASE WHEN late.id IS NOT NULL THEN late.sc['v'] ELSE lc.spec_category END AS spec_category
    FROM last_created lc
    LEFT JOIN late ON lc.id = late.id
    LEFT JOIN removed r ON lc.id = r.id
    WHERE r.id IS NULL OR r.rseq < lc.cseq
    """,
)
def proj_node_container_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL node_container projection (as-of spec joins J2, epoch fold,
    removal) over domain events synthesized from the driver events table."""
    from open_ftth_relational_projector_spark.projections.core import (
        project_node_container,
    )

    ev = load_table(spark, sf_dir, "events")
    u = F.col("user_id").cast("string")
    fv = F.floor("value").cast("int")
    seq = F.col("event_id").alias("seq")
    specs = ev.filter(F.col("event_type") == "view").select(
        seq,
        F.struct(
            F.concat(F.lit("SP-"), (fv % 20).cast("string")).alias("id"),
            F.concat(F.lit("N-"), fv.cast("string")).alias("name"),
            F.concat(F.lit("C-"), (fv % 5).cast("string")).alias("category"),
        ).alias("specification"),
    )
    placed = ev.filter(F.col("event_type") == "signup").select(
        seq,
        F.struct(
            u.alias("id"),
            F.concat(F.lit("RN-"), u).alias("routeNodeId"),
            F.concat(F.lit("SP-"), (fv % 20).cast("string")).alias(
                "specificationId"
            ),
        ).alias("container"),
    )
    changed = ev.filter(
        (F.col("event_type") == "click") & (F.col("value") >= 100)
    ).select(
        seq,
        u.alias("nodeContainerId"),
        F.concat(F.lit("SP-"), (fv % 20).cast("string")).alias(
            "newSpecificationId"
        ),
    )
    removed = ev.filter(
        (F.col("event_type") == "error") & (F.col("value") < 20)
    ).select(seq, u.alias("nodeContainerId"))
    log = EventLog.from_typed(
        spark,
        {
            "NodeContainerSpecificationAdded": specs,
            "NodeContainerPlacedInRouteNetwork": placed,
            "NodeContainerSpecificationChanged": changed,
            "NodeContainerRemovedFromRouteNetwork": removed,
        },
    )
    return project_node_container(log)


@_q(
    "proj_rel_interest_sim",
    """
    WITH ev AS (
      SELECT event_id AS seq, CAST(user_id AS VARCHAR) AS u, event_type, value,
             CAST(FLOOR(value) AS INT) AS fv
      FROM events),
    walks AS (
      SELECT seq, u AS interest_id,
             ['E-' || CAST((fv * 1) % 25 AS VARCHAR),
              'E-' || CAST((fv * 2) % 25 AS VARCHAR),
              'E-' || CAST((fv * 3) % 25 AS VARCHAR),
              'E-' || CAST((fv * 4) % 25 AS VARCHAR),
              'E-' || CAST((fv * 5) % 25 AS VARCHAR)] AS walk
      FROM ev WHERE event_type = 'signup'
      UNION ALL
      SELECT seq, u,
             ['E-' || CAST((fv * 2) % 25 AS VARCHAR),
              'E-' || CAST((fv * 3) % 25 AS VARCHAR),
              'E-' || CAST((fv * 5) % 25 AS VARCHAR),
              'E-' || CAST((fv * 7) % 25 AS VARCHAR)]
      FROM ev WHERE event_type = 'view' AND value >= 30),
    lastw AS (
      SELECT interest_id, MAX(seq) AS seq, ARG_MAX(walk, seq) AS walk
      FROM walks GROUP BY interest_id),
    unreg AS (
      SELECT u AS interest_id, MAX(seq) AS rseq
      FROM ev WHERE event_type = 'error' AND value < 10 GROUP BY u),
    live AS (
      SELECT l.interest_id,
             list_filter(l.walk, (x, i) -> list_position(l.walk, x) = i) AS walk
      FROM lastw l LEFT JOIN unreg r ON l.interest_id = r.interest_id
      WHERE r.interest_id IS NULL OR r.rseq < l.seq)
    SELECT interest_id, walk[g.i] AS route_network_element_id,
           CAST(g.i AS INT) AS seq_no
    FROM live, UNNEST(generate_series(1, len(walk))) AS g(i)
    """,
)
def proj_rel_interest_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL rel_interest_to_route_element projection (A3 order-preserving
    dedup + W1/X1 posexplode seq_no + unregister) on synthesized walks."""
    from open_ftth_relational_projector_spark.projections.core import (
        project_rel_interest_to_route_element,
    )

    ev = load_table(spark, sf_dir, "events")
    u = F.col("user_id").cast("string")
    fv = F.floor("value").cast("int")
    seq = F.col("event_id").alias("seq")

    def elem(mult: int):
        return F.concat(F.lit("E-"), ((fv * mult) % 25).cast("string"))

    reg = ev.filter(F.col("event_type") == "signup").select(
        seq,
        F.struct(
            u.alias("id"),
            F.array(elem(1), elem(2), elem(3), elem(4), elem(5)).alias(
                "routeNetworkElementRefs"
            ),
        ).alias("interest"),
    )
    mod = ev.filter(
        (F.col("event_type") == "view") & (F.col("value") >= 30)
    ).select(
        seq,
        u.alias("interestId"),
        F.array(elem(2), elem(3), elem(5), elem(7)).alias(
            "routeNetworkElementIds"
        ),
    )
    unreg = ev.filter(
        (F.col("event_type") == "error") & (F.col("value") < 10)
    ).select(seq, u.alias("interestId"))
    log = EventLog.from_typed(
        spark,
        {
            "WalkOfInterestRegistered": reg,
            "WalkOfInterestRouteNetworkElementsModified": mod,
            "InterestUnregistered": unreg,
        },
    )
    return project_rel_interest_to_route_element(log)


@_q(
    "proj_service_termination_sim",
    """
    WITH ev AS (
      SELECT event_id AS seq, CAST(user_id AS VARCHAR) AS u, event_type, value,
             CAST(FLOOR(value) AS INT) AS fv
      FROM events),
    tspec AS (
      SELECT seq, 'TS-' || CAST(fv % 10 AS VARCHAR) AS spec_id,
             (fv % 2 = 0) AS is_cust
      FROM ev WHERE event_type = 'view'),
    ncrel AS (
      SELECT seq, 'NC-' || u AS cid, 'RN-' || CAST(fv % 40 AS VARCHAR) AS rn
      FROM ev WHERE event_type = 'signup'
      UNION ALL
      SELECT seq, 'NC-' || u, NULL
      FROM ev WHERE event_type = 'error' AND value >= 400),
    placed AS (
      SELECT seq, u || '-' || CAST(seq % 2 AS VARCHAR) AS id,
             'T-' || CAST(fv AS VARCHAR) AS name,
             'TS-' || CAST(fv % 10 AS VARCHAR) AS spec_id, 'NC-' || u AS cid,
             CASE WHEN fv >= 200 THEN 'AA-' || CAST(fv AS VARCHAR) END AS access_address_id,
             CASE WHEN fv % 3 = 0 THEN 'UA-' || CAST(fv AS VARCHAR) END AS unit_address_id
      FROM ev WHERE event_type = 'purchase'),
    placed_q AS (
      SELECT p.id, p.seq, p.name, p.access_address_id, p.unit_address_id,
             r.rn AS route_node_id
      FROM placed p
      ASOF LEFT JOIN tspec s ON p.spec_id = s.spec_id AND p.seq > s.seq
      ASOF LEFT JOIN ncrel r ON p.cid = r.cid AND p.seq > r.seq
      WHERE s.is_cust AND r.rn IS NOT NULL),
    last_created AS (
      SELECT id, MAX(seq) AS cseq,
             ARG_MAX(route_node_id, seq) AS route_node_id,
             ARG_MAX(name, seq) AS name,
             ARG_MAX(STRUCT_PACK(v := access_address_id), seq)['v'] AS access_address_id,
             ARG_MAX(STRUCT_PACK(v := unit_address_id), seq)['v'] AS unit_address_id
      FROM placed_q GROUP BY id),
    renamed AS (
      SELECT seq, u || '-0' AS id, 'TN-' || CAST(fv AS VARCHAR) AS name
      FROM ev WHERE event_type = 'click' AND value < 50),
    late_name AS (
      SELECT c.id, ARG_MAX(c.name, c.seq) AS name
      FROM renamed c JOIN last_created lc ON c.id = lc.id AND c.seq > lc.cseq
      GROUP BY c.id),
    readdr AS (
      SELECT seq, u || '-1' AS id,
             CASE WHEN fv % 2 = 0 THEN 'AB-' || CAST(fv AS VARCHAR) END AS access_address_id,
             CAST(NULL AS VARCHAR) AS unit_address_id
      FROM ev WHERE event_type = 'click' AND value >= 50 AND value < 100),
    late_addr AS (
      SELECT c.id,
             ARG_MAX(STRUCT_PACK(v := c.access_address_id), c.seq) AS aa,
             ARG_MAX(STRUCT_PACK(v := c.unit_address_id), c.seq) AS ua
      FROM readdr c JOIN last_created lc ON c.id = lc.id AND c.seq > lc.cseq
      GROUP BY c.id),
    removed AS (
      SELECT u || '-0' AS id, MAX(seq) AS rseq
      FROM ev WHERE event_type = 'error' AND value < 15 GROUP BY u)
    SELECT lc.id, lc.route_node_id,
           COALESCE(ln.name, lc.name) AS name,
           CASE WHEN la.id IS NOT NULL THEN la.aa['v'] ELSE lc.access_address_id END AS access_address_id,
           CASE WHEN la.id IS NOT NULL THEN la.ua['v'] ELSE lc.unit_address_id END AS unit_address_id
    FROM last_created lc
    LEFT JOIN late_name ln ON lc.id = ln.id
    LEFT JOIN late_addr la ON lc.id = la.id
    LEFT JOIN removed r ON lc.id = r.id
    WHERE r.id IS NULL OR r.rseq < lc.cseq
    """,
)
def proj_service_termination_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL service_termination projection: J3 spec semi-join filter,
    J4 container→route-node as-of relation (with removal tombstones),
    P5 give-up guards, P7 nullable addresses, epoch fold + removal."""
    from open_ftth_relational_projector_spark.projections.core import (
        project_service_termination,
    )

    ev = load_table(spark, sf_dir, "events")
    u = F.col("user_id").cast("string")
    fv = F.floor("value").cast("int")
    seq = F.col("event_id").alias("seq")
    tspec = ev.filter(F.col("event_type") == "view").select(
        seq,
        F.struct(
            F.concat(F.lit("TS-"), (fv % 10).cast("string")).alias("id"),
            (fv % 2 == 0).alias("isCustomerTermination"),
        ).alias("specification"),
    )
    nc_placed = ev.filter(F.col("event_type") == "signup").select(
        seq,
        F.struct(
            F.concat(F.lit("NC-"), u).alias("id"),
            F.concat(F.lit("RN-"), (fv % 40).cast("string")).alias("routeNodeId"),
            F.lit("SP-x").alias("specificationId"),
        ).alias("container"),
    )
    nc_removed = ev.filter(
        (F.col("event_type") == "error") & (F.col("value") >= 400)
    ).select(seq, F.concat(F.lit("NC-"), u).alias("nodeContainerId"))
    te_placed = ev.filter(F.col("event_type") == "purchase").select(
        seq,
        F.struct(
            F.concat(u, F.lit("-"), (F.col("event_id") % 2).cast("string")).alias(
                "id"
            ),
            F.concat(F.lit("T-"), fv.cast("string")).alias("name"),
            F.concat(F.lit("TS-"), (fv % 10).cast("string")).alias(
                "specificationId"
            ),
            F.concat(F.lit("NC-"), u).alias("nodeContainerId"),
            F.struct(
                F.when(
                    fv >= 200, F.concat(F.lit("AA-"), fv.cast("string"))
                ).alias("accessAddressId"),
                F.when(
                    fv % 3 == 0, F.concat(F.lit("UA-"), fv.cast("string"))
                ).alias("unitAddressId"),
            ).alias("addressInfo"),
        ).alias("equipment"),
    )
    renamed = ev.filter(
        (F.col("event_type") == "click") & (F.col("value") < 50)
    ).select(
        seq,
        F.concat(u, F.lit("-0")).alias("terminalEquipmentId"),
        F.struct(
            F.concat(F.lit("TN-"), fv.cast("string")).alias("name")
        ).alias("namingInfo"),
    )
    readdr = ev.filter(
        (F.col("event_type") == "click")
        & (F.col("value") >= 50)
        & (F.col("value") < 100)
    ).select(
        seq,
        F.concat(u, F.lit("-1")).alias("terminalEquipmentId"),
        F.struct(
            F.when(fv % 2 == 0, F.concat(F.lit("AB-"), fv.cast("string"))).alias(
                "accessAddressId"
            ),
            F.lit(None).cast("string").alias("unitAddressId"),
        ).alias("addressInfo"),
    )
    te_removed = ev.filter(
        (F.col("event_type") == "error") & (F.col("value") < 15)
    ).select(seq, F.concat(u, F.lit("-0")).alias("terminalEquipmentId"))
    log = EventLog.from_typed(
        spark,
        {
            "TerminalEquipmentSpecificationAdded": tspec,
            "NodeContainerPlacedInRouteNetwork": nc_placed,
            "NodeContainerRemovedFromRouteNetwork": nc_removed,
            "TerminalEquipmentPlacedInNodeContainer": te_placed,
            "TerminalEquipmentNamingInfoChanged": renamed,
            "TerminalEquipmentAddressInfoChanged": readdr,
            "TerminalEquipmentRemoved": te_removed,
        },
    )
    return project_service_termination(log)


@_q(
    "proj_span_equipment_sim",
    """
    WITH ev AS (
      SELECT event_id AS seq, CAST(user_id AS VARCHAR) AS u, event_type, value,
             CAST(FLOOR(value) AS INT) AS fv
      FROM events),
    span_spec AS (
      SELECT seq, 'SS-' || CAST(fv % 8 AS VARCHAR) AS spec_id,
             CASE WHEN fv % 3 = 0 THEN 'N-Ø12-' || CAST(fv AS VARCHAR)
                  ELSE 'N-' || CAST(fv AS VARCHAR) END AS spec_name,
             'ST-' || CAST(fv % 6 AS VARCHAR) AS struct_spec_id
      FROM ev WHERE event_type = 'view'),
    struct_spec AS (
      SELECT seq, 'ST-' || CAST(fv % 6 AS VARCHAR) AS struct_spec_id,
             fv AS outer_diameter
      FROM ev WHERE event_type = 'error' AND value < 100),
    placed AS (
      SELECT seq, u AS id, 'E-' || u AS name,
             'SS-' || CAST(fv % 8 AS VARCHAR) AS spec_id,
             'W-' || u AS interest_id, (fv % 2 = 1) AS is_cable,
             CASE WHEN fv >= 250 THEN 'AA-' || CAST(fv AS VARCHAR) END AS access_address_id,
             CASE WHEN fv % 5 = 0 THEN 'UA-' || CAST(fv AS VARCHAR) END AS unit_address_id
      FROM ev WHERE event_type = 'signup'),
    placed_spec AS (
      SELECT p.*, s.spec_name, s.struct_spec_id
      FROM placed p ASOF LEFT JOIN span_spec s
        ON p.spec_id = s.spec_id AND p.seq > s.seq),
    placed_full AS (
      SELECT p.*, st.outer_diameter
      FROM placed_spec p ASOF LEFT JOIN struct_spec st
        ON p.struct_spec_id = st.struct_spec_id AND p.seq > st.seq),
    last_created AS (
      SELECT id, MAX(seq) AS cseq,
             ARG_MAX(name, seq) AS name,
             ARG_MAX(interest_id, seq) AS interest_id,
             ARG_MAX(is_cable, seq) AS is_cable,
             ARG_MAX(STRUCT_PACK(v := spec_name), seq)['v'] AS spec_name,
             ARG_MAX(STRUCT_PACK(v := outer_diameter), seq)['v'] AS outer_diameter,
             ARG_MAX(STRUCT_PACK(v := access_address_id), seq)['v'] AS access_address_id,
             ARG_MAX(STRUCT_PACK(v := unit_address_id), seq)['v'] AS unit_address_id
      FROM placed_full GROUP BY id),
    spec_changed AS (
      SELECT seq, u AS id, 'SS-' || CAST(fv % 8 AS VARCHAR) AS spec_id
      FROM ev WHERE event_type = 'purchase' AND value >= 300),
    changed_full AS (
      SELECT c.id, c.seq, s.spec_name, st.outer_diameter
      FROM spec_changed c
      ASOF LEFT JOIN span_spec s ON c.spec_id = s.spec_id AND c.seq > s.seq
      ASOF LEFT JOIN struct_spec st
        ON s.struct_spec_id = st.struct_spec_id AND c.seq > st.seq),
    late_spec AS (
      SELECT c.id,
             ARG_MAX(STRUCT_PACK(v := c.spec_name), c.seq) AS sn,
             ARG_MAX(STRUCT_PACK(v := c.outer_diameter), c.seq) AS od
      FROM changed_full c JOIN last_created lc
        ON c.id = lc.id AND c.seq > lc.cseq
      GROUP BY c.id),
    readdr AS (
      SELECT seq, u AS id,
             CASE WHEN fv % 2 = 0 THEN 'AB-' || CAST(fv AS VARCHAR) END AS access_address_id,
             CASE WHEN fv % 7 = 0 THEN 'UB-' || CAST(fv AS VARCHAR) END AS unit_address_id
      FROM ev WHERE event_type = 'click' AND value >= 120),
    late_addr AS (
      SELECT c.id,
             ARG_MAX(STRUCT_PACK(v := c.access_address_id), c.seq) AS aa,
             ARG_MAX(STRUCT_PACK(v := c.unit_address_id), c.seq) AS ua
      FROM readdr c JOIN last_created lc ON c.id = lc.id AND c.seq > lc.cseq
      GROUP BY c.id),
    removed AS (
      SELECT u AS id, MAX(seq) AS rseq
      FROM ev WHERE event_type = 'error' AND value >= 450 GROUP BY u)
    SELECT lc.id, lc.interest_id,
           CASE WHEN ls.id IS NOT NULL THEN ls.od['v'] ELSE lc.outer_diameter END AS outer_diameter,
           lc.is_cable, lc.name,
           CASE WHEN ls.id IS NOT NULL THEN ls.sn['v'] ELSE lc.spec_name END AS spec_name,
           CASE WHEN la.id IS NOT NULL THEN la.aa['v'] ELSE lc.access_address_id END AS access_address_id,
           CASE WHEN la.id IS NOT NULL THEN la.ua['v'] ELSE lc.unit_address_id END AS unit_address_id
    FROM last_created lc
    LEFT JOIN late_spec ls ON lc.id = ls.id
    LEFT JOIN late_addr la ON lc.id = la.id
    LEFT JOIN removed r ON lc.id = r.id
    WHERE r.id IS NULL OR r.rseq < lc.cseq
    """,
)
def proj_span_equipment_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL span_equipment projection: J1 chained as-of spec joins
    (equipment spec → root-structure spec → outer diameter), P1 wide-payload
    projection, P7 nullable addresses, A2 field-wise epoch fold, removal."""
    from open_ftth_relational_projector_spark.projections.core import (
        project_span_equipment,
    )
    from open_ftth_relational_projector_spark.operators.arrays import EMPTY_GUID

    ev = load_table(spark, sf_dir, "events")
    u = F.col("user_id").cast("string")
    fv = F.floor("value").cast("int")
    seq = F.col("event_id").alias("seq")
    span_spec = ev.filter(F.col("event_type") == "view").select(
        seq,
        F.struct(
            F.concat(F.lit("SS-"), (fv % 8).cast("string")).alias("id"),
            F.when(
                fv % 3 == 0, F.concat(F.lit("N-Ø12-"), fv.cast("string"))
            )
            .otherwise(F.concat(F.lit("N-"), fv.cast("string")))
            .alias("name"),
            (fv % 2 == 0).alias("isCable"),
            F.struct(
                F.concat(F.lit("ST-"), (fv % 6).cast("string")).alias(
                    "spanStructureSpecificationId"
                )
            ).alias("rootTemplate"),
        ).alias("specification"),
    )
    struct_spec = ev.filter(
        (F.col("event_type") == "error") & (F.col("value") < 100)
    ).select(
        seq,
        F.struct(
            F.concat(F.lit("ST-"), (fv % 6).cast("string")).alias("id"),
            fv.alias("outerDiameter"),
        ).alias("specification"),
    )
    seg = F.struct(
        F.concat(F.lit("SEG-"), u).alias("id"),
        F.lit(0).alias("fromNodeOfInterestIndex"),
        F.lit(2).alias("toNodeOfInterestIndex"),
        F.when(fv % 4 == 0, F.concat(F.lit("T-"), fv.cast("string")))
        .otherwise(F.lit(EMPTY_GUID))
        .alias("fromTerminalId"),
        F.when(fv % 4 == 1, F.concat(F.lit("T-"), fv.cast("string")))
        .otherwise(F.lit(EMPTY_GUID))
        .alias("toTerminalId"),
    )
    hop_t = (
        "array<struct<fromNodeId:string,toNodeId:string,"
        "parentAffixes:array<struct<spanSegmentId:string>>>>"
    )
    placed = ev.filter(F.col("event_type") == "signup").select(
        seq,
        F.struct(
            u.alias("id"),
            F.concat(F.lit("E-"), u).alias("name"),
            F.concat(F.lit("SS-"), (fv % 8).cast("string")).alias(
                "specificationId"
            ),
            F.concat(F.lit("W-"), u).alias("walkOfInterestId"),
            F.array(
                F.concat(F.lit("ND-"), (fv % 50).cast("string")),
                F.concat(F.lit("ND-"), ((fv + 1) % 50).cast("string")),
                F.concat(F.lit("ND-"), ((fv + 2) % 50).cast("string")),
            ).alias("nodesOfInterestIds"),
            (fv % 2 == 1).alias("isCable"),
            F.array(F.struct(F.array(seg).alias("spanSegments"))).alias(
                "spanStructures"
            ),
            F.lit(None).cast(hop_t).alias("utilityNetworkHops"),
            F.struct(
                F.when(
                    fv >= 250, F.concat(F.lit("AA-"), fv.cast("string"))
                ).alias("accessAddressId"),
                F.when(
                    fv % 5 == 0, F.concat(F.lit("UA-"), fv.cast("string"))
                ).alias("unitAddressId"),
            ).alias("addressInfo"),
        ).alias("equipment"),
    )
    spec_changed = ev.filter(
        (F.col("event_type") == "purchase") & (F.col("value") >= 300)
    ).select(
        seq,
        u.alias("spanEquipmentId"),
        F.concat(F.lit("SS-"), (fv % 8).cast("string")).alias(
            "newSpecificationId"
        ),
    )
    readdr = ev.filter(
        (F.col("event_type") == "click") & (F.col("value") >= 120)
    ).select(
        seq,
        u.alias("spanEquipmentId"),
        F.struct(
            F.when(fv % 2 == 0, F.concat(F.lit("AB-"), fv.cast("string"))).alias(
                "accessAddressId"
            ),
            F.when(fv % 7 == 0, F.concat(F.lit("UB-"), fv.cast("string"))).alias(
                "unitAddressId"
            ),
        ).alias("addressInfo"),
    )
    removed = ev.filter(
        (F.col("event_type") == "error") & (F.col("value") >= 450)
    ).select(seq, u.alias("spanEquipmentId"))
    log = EventLog.from_typed(
        spark,
        {
            "SpanEquipmentSpecificationAdded": span_spec,
            "SpanStructureSpecificationAdded": struct_spec,
            "SpanEquipmentPlacedInRouteNetwork": placed,
            "SpanEquipmentSpecificationChanged": spec_changed,
            "SpanEquipmentAddressInfoChanged": readdr,
            "SpanEquipmentRemoved": removed,
        },
    )
    return project_span_equipment(log)


@_q(
    "proj_conduit_slack_sim",
    """
    WITH ev AS (
      SELECT event_id AS seq, CAST(user_id AS VARCHAR) AS u, event_type, value,
             CAST(FLOOR(value) AS INT) AS fv
      FROM events),
    span_spec AS (
      SELECT seq, 'SS-' || CAST(fv % 8 AS VARCHAR) AS spec_id,
             CASE WHEN fv % 3 = 0 THEN 'N-Ø12-' || CAST(fv AS VARCHAR)
                  ELSE 'N-' || CAST(fv AS VARCHAR) END AS spec_name
      FROM ev WHERE event_type = 'view'),
    placed AS (
      SELECT seq, u AS id, 'SS-' || CAST(fv % 8 AS VARCHAR) AS spec_id,
             'ND-' || CAST(fv % 50 AS VARCHAR) AS from_node,
             'ND-' || CAST((fv + 2) % 50 AS VARCHAR) AS to_node,
             (fv % 4 = 0) AS from_conn, (fv % 4 = 1) AS to_conn
      FROM ev WHERE event_type = 'signup'),
    placed_spec AS (
      SELECT p.*,
             COALESCE(CONTAINS(LOWER(s.spec_name), 'ø12'), FALSE) AS is_cc
      FROM placed p ASOF LEFT JOIN span_spec s
        ON p.spec_id = s.spec_id AND p.seq > s.seq),
    last_created AS (
      SELECT id, MAX(seq) AS cseq,
             ARG_MAX(from_node, seq) AS from_node,
             ARG_MAX(to_node, seq) AS to_node,
             ARG_MAX(from_conn, seq) AS from_conn,
             ARG_MAX(to_conn, seq) AS to_conn,
             ARG_MAX(is_cc, seq) AS is_cc
      FROM placed_spec GROUP BY id),
    moved AS (
      SELECT seq, u AS id,
             'NM-' || CAST(fv % 50 AS VARCHAR) AS from_node,
             'NM-' || CAST((fv + 3) % 50 AS VARCHAR) AS to_node
      FROM ev WHERE event_type = 'click' AND value < 80),
    late_moved AS (
      SELECT m.id, ARG_MAX(m.from_node, m.seq) AS from_node,
             ARG_MAX(m.to_node, m.seq) AS to_node
      FROM moved m JOIN last_created lc ON m.id = lc.id AND m.seq > lc.cseq
      GROUP BY m.id),
    removed AS (
      SELECT u AS id, MAX(seq) AS rseq
      FROM ev WHERE event_type = 'error' AND value >= 450 GROUP BY u),
    live AS (
      SELECT lc.id, lc.from_conn, lc.to_conn,
             COALESCE(lm.from_node, lc.from_node) AS from_node,
             COALESCE(lm.to_node, lc.to_node) AS to_node
      FROM last_created lc
      LEFT JOIN late_moved lm ON lc.id = lm.id
      LEFT JOIN removed r ON lc.id = r.id
      WHERE (r.id IS NULL OR r.rseq < lc.cseq) AND lc.is_cc),
    ends AS (
      SELECT from_node AS route_node_id FROM live WHERE NOT from_conn
      UNION ALL
      SELECT to_node FROM live WHERE NOT to_conn),
    counts AS (
      SELECT route_node_id, CAST(COUNT(*) AS INT) AS number_of_ends
      FROM ends GROUP BY route_node_id)
    SELECT substr(md5(route_node_id),1,8) || '-' || substr(md5(route_node_id),9,4)
           || '-' || substr(md5(route_node_id),13,4) || '-' || substr(md5(route_node_id),17,4)
           || '-' || substr(md5(route_node_id),21,12) AS id,
           route_node_id, number_of_ends
    FROM counts
    """,
)
def proj_conduit_slack_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL conduit_slack projection: P2 ø12 customer-conduit heuristic
    (frozen at placement), P4 nested from/to connection scan, P8 first/last
    node of interest (moved events re-point the ends), A1 count-per-node
    with delete-at-zero, X6 deterministic md5-uuid replacement."""
    from open_ftth_relational_projector_spark.projections.core import (
        project_conduit_slack,
    )
    from open_ftth_relational_projector_spark.operators.arrays import EMPTY_GUID

    ev = load_table(spark, sf_dir, "events")
    u = F.col("user_id").cast("string")
    fv = F.floor("value").cast("int")
    seq = F.col("event_id").alias("seq")
    span_spec = ev.filter(F.col("event_type") == "view").select(
        seq,
        F.struct(
            F.concat(F.lit("SS-"), (fv % 8).cast("string")).alias("id"),
            F.when(
                fv % 3 == 0, F.concat(F.lit("N-Ø12-"), fv.cast("string"))
            )
            .otherwise(F.concat(F.lit("N-"), fv.cast("string")))
            .alias("name"),
            (fv % 2 == 0).alias("isCable"),
            F.struct(
                F.lit("ST-0").alias("spanStructureSpecificationId")
            ).alias("rootTemplate"),
        ).alias("specification"),
    )
    seg = F.struct(
        F.concat(F.lit("SEG-"), u).alias("id"),
        F.lit(0).alias("fromNodeOfInterestIndex"),
        F.lit(2).alias("toNodeOfInterestIndex"),
        F.when(fv % 4 == 0, F.concat(F.lit("T-"), fv.cast("string")))
        .otherwise(F.lit(EMPTY_GUID))
        .alias("fromTerminalId"),
        F.when(fv % 4 == 1, F.concat(F.lit("T-"), fv.cast("string")))
        .otherwise(F.lit(EMPTY_GUID))
        .alias("toTerminalId"),
    )
    hop_t = (
        "array<struct<fromNodeId:string,toNodeId:string,"
        "parentAffixes:array<struct<spanSegmentId:string>>>>"
    )
    placed = ev.filter(F.col("event_type") == "signup").select(
        seq,
        F.struct(
            u.alias("id"),
            F.concat(F.lit("E-"), u).alias("name"),
            F.concat(F.lit("SS-"), (fv % 8).cast("string")).alias(
                "specificationId"
            ),
            F.concat(F.lit("W-"), u).alias("walkOfInterestId"),
            F.array(
                F.concat(F.lit("ND-"), (fv % 50).cast("string")),
                F.concat(F.lit("ND-"), ((fv + 1) % 50).cast("string")),
                F.concat(F.lit("ND-"), ((fv + 2) % 50).cast("string")),
            ).alias("nodesOfInterestIds"),
            (fv % 2 == 1).alias("isCable"),
            F.array(F.struct(F.array(seg).alias("spanSegments"))).alias(
                "spanStructures"
            ),
            F.lit(None).cast(hop_t).alias("utilityNetworkHops"),
            F.struct(
                F.lit(None).cast("string").alias("accessAddressId"),
                F.lit(None).cast("string").alias("unitAddressId"),
            ).alias("addressInfo"),
        ).alias("equipment"),
    )
    moved = ev.filter(
        (F.col("event_type") == "click") & (F.col("value") < 80)
    ).select(
        seq,
        u.alias("spanEquipmentId"),
        F.array(
            F.concat(F.lit("NM-"), (fv % 50).cast("string")),
            F.concat(F.lit("NM-"), ((fv + 3) % 50).cast("string")),
        ).alias("nodesOfInterestIds"),
    )
    removed = ev.filter(
        (F.col("event_type") == "error") & (F.col("value") >= 450)
    ).select(seq, u.alias("spanEquipmentId"))
    log = EventLog.from_typed(
        spark,
        {
            "SpanEquipmentSpecificationAdded": span_spec,
            "SpanEquipmentPlacedInRouteNetwork": placed,
            "SpanEquipmentMoved": moved,
            "SpanEquipmentRemoved": removed,
        },
    )
    return project_conduit_slack(log)


@_q(
    "walk_hop_subtract_sim",
    """
    WITH ev AS (
      SELECT event_id AS seq, CAST(user_id AS VARCHAR) AS u, value,
             CAST(FLOOR(value) AS INT) AS fv,
             CAST(FLOOR(value / 7) AS INT) AS fv7
      FROM events WHERE event_type = 'signup'),
    latest AS (
      SELECT u, ARG_MAX(fv, seq) AS fv, ARG_MAX(fv7, seq) AS fv7
      FROM ev GROUP BY u),
    hops AS (
      SELECT u, fv % 5 AS i,
             (fv % 5) + 1 + (fv7 % (5 - (fv % 5))) AS j
      FROM latest),
    elems AS (
      SELECT h.u, g.k,
             'W-' || h.u || '-' || CAST(g.k AS VARCHAR) AS element
      FROM hops h, UNNEST(generate_series(0, 5)) AS g(k)
      WHERE g.k < h.i OR g.k >= h.j)
    SELECT u AS walk_id, element AS route_network_element_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY u ORDER BY k) AS INT) AS seq_no
    FROM elems
    """,
)
def walk_hop_subtract_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 walk ⊖ hop-interval subtraction (the one custom operator) under
    the driver oracle gate: one hop per walk, hop = [walk[i], walk[j]) with
    i < j, so the position arithmetic is SQL-expressible. Stack-discipline
    multi-hop cases are pinned by tests/test_walk_hops.py."""
    from open_ftth_relational_projector_spark.operators.explode_seq import (
        explode_with_seq,
    )
    from open_ftth_relational_projector_spark.operators.walk_hops import (
        subtract_hops,
    )

    ev = load_table(spark, sf_dir, "events")
    sig = ev.filter(F.col("event_type") == "signup").select(
        F.col("user_id").cast("string").alias("walk_id"),
        F.col("event_id").alias("seq"),
        F.floor("value").cast("int").alias("fv"),
        F.floor(F.col("value") / 7).cast("int").alias("fv7"),
    )
    latest = latest_by_key(sig, "walk_id")
    i = F.col("fv") % 5
    j = i + 1 + (F.col("fv7") % (5 - i))
    mk = lambda k: F.concat(  # noqa: E731
        F.lit("W-"), F.col("walk_id"), F.lit("-"), k.cast("string")
    )
    hopped = latest.select(
        "walk_id",
        F.array(*[mk(F.lit(k)) for k in range(6)]).alias("walk"),
        F.array(
            F.struct(
                mk(i).alias("from_node_id"), mk(j).alias("to_node_id")
            )
        ).alias("hops"),
    )
    reduced = hopped.select(
        "walk_id", subtract_hops(F.col("walk"), F.col("hops")).alias("elements")
    )
    return explode_with_seq(
        reduced, "walk_id", "elements", "route_network_element_id"
    )


@_q(
    "walk_hop_multi_sim",
    """
    WITH RECURSIVE ev AS (
      SELECT event_id AS seq, CAST(user_id AS VARCHAR) AS u, value,
             CAST(FLOOR(value) AS INT) AS fv,
             CAST(FLOOR(value / 7) AS INT) AS fv7,
             CAST(FLOOR(value / 11) AS INT) AS fv11
      FROM events WHERE event_type = 'signup'),
    latest AS (
      SELECT u, ARG_MAX(fv, seq) AS fv, ARG_MAX(fv7, seq) AS fv7,
             ARG_MAX(fv11, seq) AS fv11
      FROM ev GROUP BY u),
    pos AS (
      SELECT u, fv, fv % 3 AS a,
             (fv % 3) + 1 + (fv7 % 2) AS b
      FROM latest),
    pos2 AS (
      SELECT p.u, p.fv, l.fv11, p.a, p.b, p.b + (p.fv % 2) AS c
      FROM pos p JOIN latest l ON p.u = l.u),
    input AS (
      SELECT u AS walk_id,
             list_transform(generate_series(0, 7),
                            k -> 'W-' || u || '-' || CAST(k AS VARCHAR)) AS walk,
             [{'f': CASE WHEN fv % 5 = 0 THEN 'MISS'
                         ELSE 'W-' || u || '-' || CAST(a AS VARCHAR) END,
               't': 'W-' || u || '-' || CAST(b AS VARCHAR)},
              {'f': 'W-' || u || '-' || CAST(c AS VARCHAR),
               't': CASE WHEN fv % 7 = 0 THEN 'GONE'
                         ELSE 'W-' || u || '-' || CAST(c + 1 + (fv11 % 2) AS VARCHAR) END}
             ] AS hops
      FROM pos2),
    scan AS (
      SELECT walk_id, walk, hops, 0 AS pos, 0 AS hop_idx,
             CAST(NULL AS VARCHAR) AS skip_to, CAST([] AS VARCHAR[]) AS kept
      FROM input
      UNION ALL
      SELECT walk_id, walk, hops, pos + 1,
             hop_idx + CASE WHEN NOT in_skip AND starts THEN 1 ELSE 0 END,
             CASE WHEN in_skip THEN skip_to
                  WHEN starts THEN hops[hop_idx + 1]['t']
                  ELSE NULL END,
             CASE WHEN in_skip OR starts THEN kept ELSE list_append(kept, x) END
      FROM (
        SELECT *, walk[pos + 1] AS x,
               (skip_to IS NOT NULL AND walk[pos + 1] != skip_to) AS in_skip,
               (NOT (skip_to IS NOT NULL AND walk[pos + 1] != skip_to)
                AND hop_idx < len(hops)
                AND hops[hop_idx + 1]['f'] = walk[pos + 1]) AS starts
        FROM scan WHERE pos < len(walk)) s),
    final AS (
      SELECT walk_id, kept FROM scan WHERE pos = len(walk))
    SELECT walk_id, kept[g.i] AS route_network_element_id,
           CAST(g.i AS INT) AS seq_no
    FROM final, UNNEST(generate_series(1, len(kept))) AS g(i)
    """,
)
def walk_hop_multi_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 multi-hop STACK semantics under the driver gate: two ordered hops
    per walk, including blocked-stack (hop1.from absent ⇒ hop2 never
    consumed), tail-drop (hop2.to absent ⇒ rest of walk skipped), and
    to-element-starts-next-hop (c == b). The DuckDB oracle is a recursive
    CTE transcription of the same stack machine — an independent
    implementation, not shared code."""
    from open_ftth_relational_projector_spark.operators.explode_seq import (
        explode_with_seq,
    )
    from open_ftth_relational_projector_spark.operators.walk_hops import (
        subtract_hops,
    )

    ev = load_table(spark, sf_dir, "events")
    sig = ev.filter(F.col("event_type") == "signup").select(
        F.col("user_id").cast("string").alias("walk_id"),
        F.col("event_id").alias("seq"),
        F.floor("value").cast("int").alias("fv"),
        F.floor(F.col("value") / 7).cast("int").alias("fv7"),
        F.floor(F.col("value") / 11).cast("int").alias("fv11"),
    )
    latest = latest_by_key(sig, "walk_id")
    fv, fv7, fv11 = F.col("fv"), F.col("fv7"), F.col("fv11")
    a = fv % 3
    b = a + 1 + (fv7 % 2)
    c = b + (fv % 2)
    d = c + 1 + (fv11 % 2)
    mk = lambda k: F.concat(  # noqa: E731
        F.lit("W-"), F.col("walk_id"), F.lit("-"), k.cast("string")
    )
    hop1 = F.struct(
        F.when(fv % 5 == 0, F.lit("MISS")).otherwise(mk(a)).alias("from_node_id"),
        mk(b).alias("to_node_id"),
    )
    hop2 = F.struct(
        mk(c).alias("from_node_id"),
        F.when(fv % 7 == 0, F.lit("GONE")).otherwise(mk(d)).alias("to_node_id"),
    )
    hopped = latest.select(
        "walk_id",
        F.array(*[mk(F.lit(k)) for k in range(8)]).alias("walk"),
        F.array(hop1, hop2).alias("hops"),
    )
    reduced = hopped.select(
        "walk_id", subtract_hops(F.col("walk"), F.col("hops")).alias("elements")
    )
    return explode_with_seq(
        reduced, "walk_id", "elements", "route_network_element_id"
    )


@_q(
    "proj_rel_fiber_cable_sim",
    """
    WITH ev AS (
      SELECT event_id AS eid, CAST(user_id AS VARCHAR) AS u, event_type, value,
             CAST(FLOOR(value) AS INT) AS fv,
             CAST(FLOOR(value / 7) AS INT) AS fv7
      FROM events),
    spec AS (
      SELECT 2 * eid AS seq, 'SS-' || CAST(fv % 8 AS VARCHAR) AS spec_id,
             (fv % 2 = 0) AS is_cable
      FROM ev WHERE event_type = 'view'),
    placed AS (
      SELECT 2 * eid + 1 AS seq, u, 'SS-' || CAST(fv % 8 AS VARCHAR) AS spec_id
      FROM ev WHERE event_type = 'signup'),
    placed_spec AS (
      SELECT p.seq, p.u, COALESCE(s.is_cable, FALSE) AS spec_is_cable
      FROM placed p ASOF LEFT JOIN spec s
        ON p.spec_id = s.spec_id AND p.seq > s.seq),
    first_place AS (SELECT u, MIN(seq) AS pseq FROM placed GROUP BY u),
    aff AS (
      SELECT 2 * a.eid AS seq, a.u,
             CASE WHEN a.fv % 5 = 0 THEN NULL ELSE a.fv % 4 END AS hop_i,
             (a.fv % 4) + 1 + (a.fv7 % (5 - (a.fv % 4))) AS hop_j
      FROM ev a JOIN first_place fp ON a.u = fp.u AND 2 * a.eid > fp.pseq
      WHERE a.event_type = 'purchase' AND a.fv % 3 = 0),
    det AS (
      SELECT 2 * e.eid AS seq, e.u,
             CAST(NULL AS INT) AS hop_i, CAST(NULL AS INT) AS hop_j
      FROM ev e JOIN first_place fp ON e.u = fp.u AND 2 * e.eid > fp.pseq
      WHERE e.event_type = 'error' AND e.fv % 5 = 1),
    trig AS (
      SELECT u, seq, hop_i, hop_j FROM aff
      UNION ALL SELECT u, seq, hop_i, hop_j FROM det
      UNION ALL SELECT u, seq, CAST(NULL AS INT), CAST(NULL AS INT)
      FROM placed_spec WHERE spec_is_cable),
    win AS (
      SELECT u, seq AS tseq, hop_i, hop_j FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY u ORDER BY seq DESC) AS rn
        FROM trig) WHERE rn = 1),
    walks AS (
      SELECT 2 * eid AS wseq, u, 6 AS wlen FROM ev WHERE event_type = 'signup'
      UNION ALL
      SELECT 2 * eid, u, 7 FROM ev WHERE event_type = 'click' AND value < 80),
    wver AS (
      SELECT u, hop_i, hop_j, wlen FROM (
        SELECT win.u, win.hop_i, win.hop_j, w.wlen,
               ROW_NUMBER() OVER (PARTITION BY win.u ORDER BY w.wseq DESC) AS rn
        FROM win JOIN walks w ON w.u = win.u AND w.wseq < win.tseq)
      WHERE rn = 1),
    kept AS (
      SELECT u, k FROM (
        SELECT u, hop_i, hop_j, UNNEST(range(0, wlen)) AS k FROM wver)
      WHERE hop_i IS NULL OR k < hop_i OR k >= hop_j)
    SELECT u AS fiber_cable_id,
           'W-' || u || '-' || CAST(k AS VARCHAR) AS route_network_element_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY u ORDER BY k) AS INT) AS seq_no
    FROM kept
    """,
)
def proj_rel_fiber_cable_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL rel_fiber_cable_to_route_element projection
    (projections/core.py:project_rel_fiber_cable_to_route_element =
    ProjektorState.cs:178-221) end to end under the driver gate — the last
    of the 8 tables to get its own driver row. Exercises, composed: the
    spec-says-cable trigger (spec flag, NOT the payload flag — the sim
    sets them opposite), unconditional affix/detach triggers (even for
    non-cables), latest-trigger-wins (J5), walk resolved as-of the trigger
    (registered ∪ modified versions), X2 hop subtraction (hop [i, j) with
    a MISS variant that never fires, detach = empty hop list = identity),
    and W1 posexplode seq_no. The oracle re-derives the same fold with
    ASOF/window SQL; walk contents are position-determined so subtraction
    is expressible as a range predicate.
    """
    from open_ftth_relational_projector_spark.operators.arrays import EMPTY_GUID
    from open_ftth_relational_projector_spark.projections.core import (
        project_rel_fiber_cable_to_route_element,
    )

    ev = load_table(spark, sf_dir, "events")
    u = F.col("user_id").cast("string")
    fv = F.floor("value").cast("int")
    fv7 = F.floor(F.col("value") / 7).cast("int")
    seq2 = (F.col("event_id") * 2).alias("seq")
    mkw = lambda k: F.concat(  # noqa: E731
        F.lit("W-"), u, F.lit("-"), k.cast("string")
    )
    hop_t = (
        "array<struct<fromNodeId:string,toNodeId:string,"
        "parentAffixes:array<struct<spanSegmentId:string>>>>"
    )

    span_spec = ev.filter(F.col("event_type") == "view").select(
        seq2,
        F.struct(
            F.concat(F.lit("SS-"), (fv % 8).cast("string")).alias("id"),
            F.concat(F.lit("N-"), fv.cast("string")).alias("name"),
            (fv % 2 == 0).alias("isCable"),
            F.struct(
                F.concat(F.lit("ST-"), (fv % 6).cast("string")).alias(
                    "spanStructureSpecificationId"
                )
            ).alias("rootTemplate"),
        ).alias("specification"),
    )
    struct_spec = ev.filter(
        (F.col("event_type") == "view") & (F.col("value") < 100)
    ).select(
        seq2,
        F.struct(
            F.concat(F.lit("ST-"), (fv % 6).cast("string")).alias("id"),
            fv.alias("outerDiameter"),
        ).alias("specification"),
    )
    walk_reg = ev.filter(F.col("event_type") == "signup").select(
        seq2,
        F.struct(
            F.concat(F.lit("W-"), u).alias("id"),
            F.array(*[mkw(F.lit(k)) for k in range(6)]).alias(
                "routeNetworkElementRefs"
            ),
        ).alias("interest"),
    )
    seg = F.struct(
        F.concat(F.lit("SEG-"), u).alias("id"),
        F.lit(0).alias("fromNodeOfInterestIndex"),
        F.lit(1).alias("toNodeOfInterestIndex"),
        F.lit(EMPTY_GUID).alias("fromTerminalId"),
        F.lit(EMPTY_GUID).alias("toTerminalId"),
    )
    placed = ev.filter(F.col("event_type") == "signup").select(
        (F.col("event_id") * 2 + 1).alias("seq"),
        F.struct(
            u.alias("id"),
            F.concat(F.lit("E-"), u).alias("name"),
            F.concat(F.lit("SS-"), (fv % 8).cast("string")).alias(
                "specificationId"
            ),
            F.concat(F.lit("W-"), u).alias("walkOfInterestId"),
            F.array(mkw(F.lit(0)), mkw(F.lit(5))).alias("nodesOfInterestIds"),
            # payload flag deliberately OPPOSITE of the spec flag: the
            # projection must trust the spec (ProjektorState.cs:169)
            (fv % 2 == 1).alias("isCable"),
            F.array(F.struct(F.array(seg).alias("spanSegments"))).alias(
                "spanStructures"
            ),
            F.lit(None).cast(hop_t).alias("utilityNetworkHops"),
            F.struct(
                F.lit(None).cast("string").alias("accessAddressId"),
                F.lit(None).cast("string").alias("unitAddressId"),
            ).alias("addressInfo"),
        ).alias("equipment"),
    )
    walk_mod = ev.filter(
        (F.col("event_type") == "click") & (F.col("value") < 80)
    ).select(
        seq2,
        F.concat(F.lit("W-"), u).alias("interestId"),
        F.array(*[mkw(F.lit(k)) for k in range(7)]).alias(
            "routeNetworkElementIds"
        ),
    )
    i_ = fv % 4
    j_ = i_ + 1 + (fv7 % (5 - i_))
    hop = F.struct(
        F.when(fv % 5 == 0, F.lit("MISS")).otherwise(mkw(i_)).alias(
            "fromNodeId"
        ),
        mkw(j_).alias("toNodeId"),
        F.lit(None)
        .cast("array<struct<spanSegmentId:string>>")
        .alias("parentAffixes"),
    )
    affix = ev.filter(
        (F.col("event_type") == "purchase") & (fv % 3 == 0)
    ).select(seq2, u.alias("spanEquipmentId"), F.array(hop).alias("newUtilityHopList"))
    detach = ev.filter(
        (F.col("event_type") == "error") & (fv % 5 == 1)
    ).select(
        seq2,
        u.alias("spanEquipmentId"),
        F.array().cast(hop_t).alias("newUtilityHopList"),
    )
    log = EventLog.from_typed(
        spark,
        {
            "SpanEquipmentSpecificationAdded": span_spec,
            "SpanStructureSpecificationAdded": struct_spec,
            "WalkOfInterestRegistered": walk_reg,
            "WalkOfInterestRouteNetworkElementsModified": walk_mod,
            "SpanEquipmentPlacedInRouteNetwork": placed,
            "SpanEquipmentAffixedToParent": affix,
            "SpanEquipmentDetachedFromParent": detach,
        },
    )
    return project_rel_fiber_cable_to_route_element(log)


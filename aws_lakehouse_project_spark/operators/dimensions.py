"""Dimension-maintenance operators: SCD Type-2 versioning from a change
feed, and a referential-integrity audit across the star schema.

The reference maintains its only dimension-ish table by full merge
(``fct_daily_store_metrics.sql:1-5``); warehouse practice around that
pattern needs two more tools: building a *versioned* dimension from raw
change events (SCD2 — the shape behind every `dim_customer_history`),
and auditing foreign-key orphans before publishing (the join-level
extension of the reference's expectation gates, `local_runner.py:62-104`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..plans.apply_changes import scd2_apply_changes
from .registry import demo_query


def scd2_from_events(
    events: DataFrame,
    key: str = "user_id",
    attr: str = "event_type",
    ts_col: str = "ts",
    tiebreak: str = "event_id",
) -> DataFrame:
    """Collapse a change feed into SCD Type-2 rows: one row per
    (key, consecutive run of equal ``attr``), with [valid_from, valid_to)
    effective ranges and an is_current flag.

    Two window passes over the same (key × time) ordering — Spark plans
    ONE shuffle on the key and evaluates both windows in a single
    WindowExec pipeline, so the cost at any scale is the one partition-by
    exchange. The feed is processed where it lands; no driver state.
    """
    order = Window.partitionBy(key).orderBy(ts_col, tiebreak)
    changed = F.col(attr) != F.lag(attr).over(order)
    runs = events.select(
        key,
        ts_col,
        tiebreak,
        attr,
        F.when(F.lag(attr).over(order).isNull() | changed, 1)
        .otherwise(0)
        .alias("is_change"),
    ).filter(F.col("is_change") == 1)
    next_from = F.lead(ts_col).over(order)
    return runs.select(
        F.col(key),
        F.col(attr),
        F.col(ts_col).alias("valid_from"),
        next_from.alias("valid_to"),
        next_from.isNull().alias("is_current"),
    )


@demo_query(
    "q_scd2",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             LAG(event_type) OVER w AS prev_type
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    runs AS (
      SELECT user_id, ts, event_id, event_type
      FROM ordered
      WHERE prev_type IS NULL OR event_type <> prev_type
    )
    SELECT user_id, event_type,
           ts AS valid_from,
           LEAD(ts) OVER w AS valid_to,
           LEAD(ts) OVER w IS NULL AS is_current
    FROM runs
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 build from the events change feed: each user's
    consecutive runs of equal event_type become versioned rows with
    effective ranges (see ``scd2_from_events``)."""
    return scd2_from_events(load_table(spark, sf_dir, "events"))


_FK_EDGES = [
    # (name, child table, child key, parent table, parent key)
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
]


def ri_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per foreign-key edge of the star schema:
    (fk, n_child_rows, n_orphans). Orphans are counted with a LEFT ANTI
    join against the parent's key projection — the parent side is its
    distinct keys only (dimension-sized, broadcast for nation/customer),
    and each child table is scanned once per edge with only the key
    column read (column pruning). The audit is the join-level
    complement of the reference's per-column expectation gates.
    """
    parts = []
    for name, child, ckey, parent, pkey in _FK_EDGES:
        c = load_table(spark, sf_dir, child).select(F.col(ckey).alias("k"))
        p = load_table(spark, sf_dir, parent).select(F.col(pkey).alias("k")).distinct()
        orphans = c.join(p, "k", "left_anti")
        parts.append(
            c.agg(
                F.lit(name).alias("fk"),
                F.count(F.lit(1)).alias("n_child_rows"),
            ).crossJoin(orphans.agg(F.count(F.lit(1)).alias("n_orphans")))
        )
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionByName(p_)
    return out


_RI_ORACLE_PARTS = " UNION ALL ".join(
    f"""
    SELECT '{name}' AS fk,
           CAST(COUNT(*) AS BIGINT) AS n_child_rows,
           CAST(COUNT(*) FILTER (
             WHERE NOT EXISTS (SELECT 1 FROM {parent} p WHERE p.{pkey} = c.{ckey})
           ) AS BIGINT) AS n_orphans
    FROM {child} c
    """
    for name, child, ckey, parent, pkey in _FK_EDGES
)


@demo_query("q_ri_audit", oracle=_RI_ORACLE_PARTS)
def q_ri_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across all six FK edges (see
    ``ri_audit``)."""
    return ri_audit(spark, sf_dir)


@demo_query(
    "q_scd2_lookup",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             LAG(event_type) OVER w AS prev_type
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    runs AS (
      SELECT user_id, ts, event_id, event_type FROM ordered
      WHERE prev_type IS NULL OR event_type <> prev_type
    ),
    dim AS (
      SELECT user_id, event_type AS state,
             ts AS valid_from,
             LEAD(ts) OVER w AS valid_to
      FROM runs
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT d.state,
           e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events e JOIN dim d
      ON e.user_id = d.user_id
     AND e.ts >= d.valid_from
     AND (d.valid_to IS NULL OR e.ts < d.valid_to)
    GROUP BY 1, 2
    """,
)
def q_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) join: every event matched to the SCD2
    dimension version valid AT ITS TIMESTAMP — the feature-store
    primitive that prevents label leakage (training rows must see the
    dimension as it was, not as it is).

    The dimension derives from the same change feed (scd2_from_events),
    so the fact↔version match is a range join on (user_id, ts ∈
    [valid_from, valid_to)). Spark plans the equi-key (user_id) as the
    join key with the range as a post-join filter; both sides arrive
    already partitioned by user_id from their windows/aggregations. At
    scale, bucketing both tables on the key makes this co-located, and a
    version's validity range is bounded by the key's change cadence —
    the per-key version list a join task sees stays dimension-sized.
    """
    ev = load_table(spark, sf_dir, "events")
    dim = scd2_from_events(ev).select(
        "user_id",
        F.col("event_type").alias("state"),
        "valid_from",
        "valid_to",
    )
    matched = ev.join(
        dim,
        (ev.user_id == dim.user_id)
        & (ev.ts >= dim.valid_from)
        & (dim.valid_to.isNull() | (ev.ts < dim.valid_to)),
    )
    from ..functions.money import money

    return matched.groupBy("state", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(money("value")).cast("double").alias("total_value"),
    )


SCD2_FROM_CDF_ORACLE = """
    WITH c AS (
      SELECT c_custkey AS cust_id, c_mktsegment AS segment FROM customer
    ),
    rows AS (
      SELECT cust_id, segment, 0 AS start_v,
             CASE WHEN cust_id % 3 = 0 THEN 1
                  WHEN cust_id % 7 = 0 THEN 2 END AS end_v
      FROM c
      UNION ALL
      SELECT cust_id, segment || '_v2', 1,
             CASE WHEN cust_id % 7 = 0 THEN 2 END AS end_v
      FROM c WHERE cust_id % 3 = 0
    )
    SELECT cust_id, segment,
           CAST(start_v AS BIGINT) AS start_v,
           CAST(end_v AS BIGINT) AS end_v,
           end_v IS NULL AS is_current
    FROM rows
"""


@demo_query("q_scd2_from_cdf", oracle=SCD2_FROM_CDF_ORACLE)
def q_scd2_from_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history maintained from a VERSIONED dimension's
    change feed (``scd2_apply_changes``): the customer dim is committed,
    then every %3 customer's segment changes (UPDATE — the feed emits
    paired pre/postimages) and every %7 customer is dropped (DELETE).
    Each commit's CDF folds into the history with commit ORDINALS as
    the validity timeline (ordinals, not raw version numbers, so
    best-effort maintenance commits like autoCompact never shift the
    contract). The oracle reconstructs the full expected history from
    the scenario; the fold must reproduce it row-for-row — including
    the double-transition %21 customers (segment change at 1, closed
    at 2) and history immutability for closed rows."""
    import os

    from ..functions.scratch import scratch_dir
    from ..plans.versioned import VersionedTable

    work = scratch_dir("spark_graft_scd2cdf", unique=True)
    vt = VersionedTable(os.path.join(work, "dim"), stats_cols=["cust_id"])
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    w0 = vt.write_full(dim.repartition(2))
    w1 = vt.update_where(
        spark, "cust_id % 3 = 0", {"segment": "concat(segment, '_v2')"}
    )
    w2 = vt.delete_where(spark, "cust_id % 7 = 0")

    def materialize(df: DataFrame, gen: int) -> DataFrame:
        path = os.path.join(work, f"hist_{gen}")
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    hist = materialize(
        vt.read(spark, w0).select(
            "cust_id",
            "segment",
            F.lit(0).cast("long").alias("start_v"),
            F.lit(None).cast("long").alias("end_v"),
            F.lit(True).alias("is_current"),
        ),
        0,
    )
    for ordinal, (frm, to) in enumerate(((w0, w1), (w1, w2)), start=1):
        delta = vt.changes(spark, frm, to).select(
            "_change_type", "cust_id", "segment"
        )
        hist = materialize(
            scd2_apply_changes(
                hist, delta, keys=["cust_id"], attrs=["segment"],
                version=ordinal,
            ),
            ordinal,
        )
    return hist.select(
        F.col("cust_id").cast("bigint").alias("cust_id"),
        "segment",
        F.col("start_v").cast("bigint").alias("start_v"),
        F.col("end_v").cast("bigint").alias("end_v"),
        "is_current",
    )


@demo_query("q_scd2_sql", oracle=SCD2_FROM_CDF_ORACLE)
def q_scd2_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-driven twin of ``q_scd2_from_cdf``: the SAME scenario and
    oracle, but every step goes through ``LakehouseSession.sql`` and
    the history is maintained by the declarative ``APPLY CHANGES INTO
    dim FROM CHANGES(src) KEYS (k) SCD TYPE 2`` statement (DLT's verb,
    ``plans/apply_changes.py``) instead of hand-driving the fold. The
    first APPLY opens the snapshot at ordinal 0; the UPDATE (%3
    segments move) and DELETE (%7 customers drop) then fold as
    ordinals 1 and 2 in ONE statement — the applied watermark rides
    the history table's commit meta, so the guards assert init →
    incremental(2 ordinals) → noop across three invocations. The
    history advances via file-granular merge_apply on (cust_id,
    start_v): closed rows are immutable, only churned keys rewrite."""
    import os

    from ..functions.scratch import scratch_dir
    from ..plans.lakehouse_sql import LakehouseSession

    work = scratch_dir("spark_graft_scd2sql", unique=True)
    lh = LakehouseSession(spark)
    lh.create("cust", os.path.join(work, "src"), stats_cols=["cust_id"])
    lh.create("dim_hist", os.path.join(work, "hist"))
    load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust_id"),
        F.col("c_mktsegment").alias("segment"),
    ).createOrReplaceTempView("cust_src")
    lh.sql("CREATE TABLE cust AS SELECT * FROM cust_src")

    stmt = (
        "APPLY CHANGES INTO dim_hist FROM CHANGES(cust) "
        "KEYS (cust_id) SCD TYPE 2"
    )
    r0 = lh.sql(stmt).first()
    if r0["mode"] != "init":
        raise AssertionError(f"first APPLY must init, got {r0}")
    lh.sql(
        "UPDATE cust SET segment = concat(segment, '_v2') "
        "WHERE cust_id % 3 = 0"
    )
    lh.sql("DELETE FROM cust WHERE cust_id % 7 = 0")
    r1 = lh.sql(stmt).first()
    if r1["mode"] != "incremental" or r1["ordinals_applied"] != 2:
        raise AssertionError(f"expected 2 incremental ordinals, got {r1}")
    r2 = lh.sql(stmt).first()
    if r2["mode"] != "noop" or r2["ordinals_applied"] != 0:
        raise AssertionError(f"third APPLY not a no-op: {r2}")
    return lh.sql(
        "SELECT CAST(cust_id AS BIGINT) AS cust_id, segment, "
        "CAST(start_v AS BIGINT) AS start_v, "
        "CAST(end_v AS BIGINT) AS end_v, is_current FROM dim_hist"
    )


SCD2_FROM_SNAPSHOT_ORACLE = """
    WITH c AS (
      SELECT c_custkey AS cust_id, c_mktsegment AS segment FROM customer
    ),
    rows AS (
      SELECT cust_id, segment, 0 AS start_v,
             CASE WHEN cust_id % 7 = 0 OR cust_id % 3 = 0 THEN 1
             END AS end_v
      FROM c
      UNION ALL
      SELECT cust_id, segment || '_v2', 1, NULL
      FROM c WHERE cust_id % 3 = 0 AND cust_id % 7 <> 0
      UNION ALL
      SELECT cust_id, 'WINBACK', 2, NULL FROM c WHERE cust_id % 21 = 0
    )
    SELECT cust_id, segment,
           CAST(start_v AS BIGINT) AS start_v,
           CAST(end_v AS BIGINT) AS end_v,
           end_v IS NULL AS is_current
    FROM rows
"""


@demo_query("q_scd2_from_snapshot", oracle=SCD2_FROM_SNAPSHOT_ORACLE)
def q_scd2_from_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``APPLY CHANGES INTO … FROM SNAPSHOT`` — DLT's second ingestion
    verb and the reference's actual cadence (full 6-hourly re-ingests,
    ``airflow/dags/lakehouse_pipelines.py:105``): the source is
    REPLACED wholesale each cycle and the engine diffs consecutive
    snapshots on KEYS (``plans/apply_changes.py::_snapshot_feed`` —
    built from the commit's netted multiset CDF, so unchanged rows
    never rejoin). Scenario: snapshot 1 = all customers; snapshot 2
    drops every %7 customer (ABSENCE closes their history rows) and
    suffixes every %3 segment (close+open); snapshot 3 brings the %21
    cohort BACK as 'WINBACK' (a re-appearing key opens a NEW row under
    the same key — the resurrection shape CDC feeds rarely exercise).
    One APPLY folds both pending re-ingests as ordinals 1 and 2;
    guards assert init → incremental(2) → noop. Oracle reconstructs
    the full expected history."""
    import os

    from ..functions.scratch import scratch_dir
    from ..plans.lakehouse_sql import LakehouseSession

    work = scratch_dir("spark_graft_scd2snap", unique=True)
    lh = LakehouseSession(spark)
    lh.create("cust", os.path.join(work, "src"), stats_cols=["cust_id"])
    lh.create("dim_hist", os.path.join(work, "hist"))
    load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust_id"),
        F.col("c_mktsegment").alias("segment"),
    ).createOrReplaceTempView("cust_snap_src")
    lh.sql("CREATE TABLE cust AS SELECT * FROM cust_snap_src")

    stmt = (
        "APPLY CHANGES INTO dim_hist FROM SNAPSHOT cust "
        "KEYS (cust_id) SCD TYPE 2"
    )
    r0 = lh.sql(stmt).first()
    if r0["mode"] != "init":
        raise AssertionError(f"first APPLY must init, got {r0}")
    # re-ingest 1: %7 gone, %3 segments suffixed
    lh.sql(
        "CREATE OR REPLACE TABLE cust AS "
        "SELECT cust_id, CASE WHEN cust_id % 3 = 0 "
        "THEN concat(segment, '_v2') ELSE segment END AS segment "
        "FROM cust_snap_src WHERE cust_id % 7 <> 0"
    )
    # re-ingest 2: the %21 cohort returns as WINBACK
    lh.sql(
        "CREATE OR REPLACE TABLE cust AS "
        "SELECT cust_id, CASE WHEN cust_id % 3 = 0 "
        "THEN concat(segment, '_v2') ELSE segment END AS segment "
        "FROM cust_snap_src WHERE cust_id % 7 <> 0 "
        "UNION ALL "
        "SELECT cust_id, 'WINBACK' AS segment "
        "FROM cust_snap_src WHERE cust_id % 21 = 0"
    )
    r1 = lh.sql(stmt).first()
    if r1["mode"] != "incremental" or r1["ordinals_applied"] != 2:
        raise AssertionError(f"expected 2 incremental ordinals, got {r1}")
    r2 = lh.sql(stmt).first()
    if r2["mode"] != "noop" or r2["ordinals_applied"] != 0:
        raise AssertionError(f"third APPLY not a no-op: {r2}")
    return lh.sql(
        "SELECT CAST(cust_id AS BIGINT) AS cust_id, segment, "
        "CAST(start_v AS BIGINT) AS start_v, "
        "CAST(end_v AS BIGINT) AS end_v, is_current FROM dim_hist"
    )


SCD1_SQL_ORACLE = """
    SELECT c_custkey AS cust_id,
           CASE WHEN c_custkey % 3 = 0 THEN c_mktsegment || '_v2'
                ELSE c_mktsegment END AS segment
    FROM customer WHERE c_custkey % 7 <> 0
"""


@demo_query("q_scd1_sql", oracle=SCD1_SQL_ORACLE)
def q_scd1_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``APPLY CHANGES ... SCD TYPE 1`` (``plans/apply_changes.py``):
    the latest-row-only twin of ``q_scd2_sql`` — same scenario (every
    %3 customer's segment moves, every %7 customer drops), but the
    target keeps no history: additive changes upsert, deletes remove.
    Guards assert init → incremental → noop across three invocations
    and that each APPLY leaves the dim EQUAL to the source snapshot
    (the TYPE 1 contract). The dim advances via file-granular
    merge_apply on the key — cost ∝ churn. Oracle = the mutated
    source's final state."""
    import os

    from ..functions.scratch import scratch_dir
    from ..plans.lakehouse_sql import LakehouseSession

    work = scratch_dir("spark_graft_scd1sql", unique=True)
    lh = LakehouseSession(spark)
    lh.create("cust", os.path.join(work, "src"), stats_cols=["cust_id"])
    lh.create("dim_latest", os.path.join(work, "dim"))
    load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust_id"),
        F.col("c_mktsegment").alias("segment"),
    ).createOrReplaceTempView("cust1_src")
    lh.sql("CREATE TABLE cust AS SELECT * FROM cust1_src")

    stmt = (
        "APPLY CHANGES INTO dim_latest FROM CHANGES(cust) "
        "KEYS (cust_id) SCD TYPE 1"
    )
    r0 = lh.sql(stmt).first()
    if r0["mode"] != "init":
        raise AssertionError(f"first APPLY must init, got {r0}")
    lh.sql(
        "UPDATE cust SET segment = concat(segment, '_v2') "
        "WHERE cust_id % 3 = 0"
    )
    lh.sql("DELETE FROM cust WHERE cust_id % 7 = 0")
    r1 = lh.sql(stmt).first()
    if r1["mode"] != "incremental":
        raise AssertionError(f"expected incremental, got {r1}")
    r2 = lh.sql(stmt).first()
    if r2["mode"] != "noop":
        raise AssertionError(f"third APPLY not a no-op: {r2}")
    n_dim = lh.sql("SELECT COUNT(*) AS n FROM dim_latest").first()["n"]
    n_src = lh.sql("SELECT COUNT(*) AS n FROM cust").first()["n"]
    if n_dim != n_src:
        raise AssertionError(f"TYPE 1 dim must mirror source: {n_dim} != {n_src}")
    return lh.sql(
        "SELECT CAST(cust_id AS BIGINT) AS cust_id, segment FROM dim_latest"
    )


SCD1_CDC_ORACLE = """
    SELECT c_custkey AS cust_id,
           CASE WHEN c_custkey % 3 = 0 THEN c_mktsegment || '_v2'
                ELSE c_mktsegment END AS segment
    FROM customer
    WHERE c_custkey % 11 <> 0 AND c_custkey % 7 <> 0
"""


@demo_query("q_scd1_cdc", oracle=SCD1_CDC_ORACLE)
def q_scd1_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic CDC ingestion pattern through ``APPLY CHANGES``
    (DLT's full clause set, ``plans/apply_changes.py``): the source
    carries an operation marker column, and the statement is

        APPLY CHANGES INTO dim FROM CHANGES(src) KEYS (cust_id)
          APPLY AS DELETE WHEN op = 'D'
          COLUMNS * EXCEPT (op) SCD TYPE 1

    — soft-deletes (op flips to 'D') remove the key, and the marker
    column itself never reaches the dimension, even though the delete
    condition reads it (the reclassification runs on the full feed
    BEFORE the column projection). Coverage: the initial snapshot
    already contains op='D' rows (%11 customers) which must be DROPPED
    at init; a later segment UPDATE (%3) that touches an
    already-deleted %33 customer arrives with op='D' and must stay
    deleted (reclassified to a delete of a nonexistent key — a no-op,
    never a resurrection); a soft-delete wave (%7 flips to 'D')
    removes live keys. Guards assert init → incremental → noop and
    that the dim schema excludes the marker. Oracle = the surviving
    customers' final segments."""
    import os

    from ..functions.scratch import scratch_dir
    from ..plans.lakehouse_sql import LakehouseSession

    work = scratch_dir("spark_graft_scd1cdc", unique=True)
    lh = LakehouseSession(spark)
    lh.create("cust_cdc", os.path.join(work, "src"), stats_cols=["cust_id"])
    lh.create("dim_cdc", os.path.join(work, "dim"))
    load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust_id"),
        F.col("c_mktsegment").alias("segment"),
        F.when(F.col("c_custkey") % 11 == 0, F.lit("D"))
        .otherwise(F.lit("I"))
        .alias("op"),
    ).createOrReplaceTempView("cdc_src")
    lh.sql("CREATE TABLE cust_cdc AS SELECT * FROM cdc_src")

    stmt = (
        "APPLY CHANGES INTO dim_cdc FROM CHANGES(cust_cdc) "
        "KEYS (cust_id) APPLY AS DELETE WHEN op = 'D' "
        "COLUMNS * EXCEPT (op) SCD TYPE 1"
    )
    r0 = lh.sql(stmt).first()
    if r0["mode"] != "init":
        raise AssertionError(f"first APPLY must init, got {r0}")
    lh.sql(
        "UPDATE cust_cdc SET segment = concat(segment, '_v2') "
        "WHERE cust_id % 3 = 0"
    )
    lh.sql("UPDATE cust_cdc SET op = 'D' WHERE cust_id % 7 = 0")
    r1 = lh.sql(stmt).first()
    if r1["mode"] != "incremental" or r1["ordinals_applied"] != 2:
        raise AssertionError(f"expected 2 incremental ordinals, got {r1}")
    r2 = lh.sql(stmt).first()
    if r2["mode"] != "noop":
        raise AssertionError(f"third APPLY not a no-op: {r2}")
    cols = lh.sql("SELECT * FROM dim_cdc").columns
    if "op" in cols:
        raise AssertionError(f"COLUMNS * EXCEPT leaked the marker: {cols}")
    return lh.sql(
        "SELECT CAST(cust_id AS BIGINT) AS cust_id, segment FROM dim_cdc"
    )

"""Versioned-table (ACID-lite) demo queries — S7/S8 on the manifest
transaction layer (``plans/versioned.py``).

The reference's production stack declares a transactional table format
("Spark SQL + Delta/Iceberg", BASELINE.json) that is jar-blocked in this
environment; these queries drive the engine's portable replacement
end-to-end with DuckDB oracles: key-granular copy-on-write MERGE,
multi-version time travel with DELETE/OPTIMIZE, and a Structured
Streaming CDC sink committing one table version per micro-batch
(reference ``dbt/models/marts/fct_daily_store_metrics.sql:1-5`` for the
MERGE contract; ``airflow/dags/lakehouse_pipelines.py:105`` for the
6-hourly drop cadence the stream generalizes).

A property worth noting: unlike the partition-overwrite strategy
(``plans/merge.py``), copy-on-write never rewrites a file the merge plan
is reading — new versions are new files — so no ``localCheckpoint``
lineage break is needed anywhere on this path.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.localrows import local_rows
from ..functions.money import money
from ..functions.scratch import scratch_dir
from ..plans.versioned import VacuumedVersionError, VersionedTable
from .registry import demo_query

MERGE_HORIZON = "2001-01-01"  # same pinned horizon as operators/fact.py


def _daily_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .select(
            F.col("o_custkey").alias("cust_id"),
            F.col("o_orderdate").cast("date").alias("dt"),
            money("o_totalprice").alias("price"),
        )
        .groupBy("cust_id", "dt")
        .agg(
            F.sum("price").cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("order_count"),
        )
    )


def _stale_and_upd(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The shared merge scenario of the versioned-table queries: the
    STALE daily fact (orders with orderkey%10==0 missing) and the
    corrective UPDATE set (every seventh customer recomputed from the
    complete orders with doubled revenue). Keep in lock-step with the
    %10/%7 literals in the oracles built on _DAILY_CTE."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("cust_id"),
        F.col("o_orderdate").cast("date").alias("dt"),
        money("o_totalprice").alias("price"),
    )

    def daily(df: DataFrame) -> DataFrame:
        return df.groupBy("cust_id", "dt").agg(
            F.sum("price").cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("order_count"),
        )

    stale = daily(orders.filter(F.col("o_orderkey") % 10 != 0))
    upd = (
        daily(orders)
        .filter(F.col("cust_id") % 7 == 0)
        .withColumn("revenue", F.col("revenue") * 2)
    )
    return stale, upd


def _await_drained(q, timeout: int = 300) -> None:
    """availableNow streams must fully drain before the sink is read; a
    timed-out awaitTermination returns False WITHOUT stopping the query,
    which would otherwise surface as a nondeterministic partial read."""
    if not q.awaitTermination(timeout):
        q.stop()
        raise AssertionError(f"stream did not drain within {timeout}s")


_DAILY_CTE = """
    daily AS (
      SELECT o_custkey AS cust_id, CAST(o_orderdate AS DATE) AS dt,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
             CAST(COUNT(*) AS BIGINT) AS order_count
      FROM orders GROUP BY 1, 2
    )
"""

VERSIONED_MERGE_ORACLE = f"""
    WITH {_DAILY_CTE},
    stale AS (
      SELECT o_custkey AS cust_id, CAST(o_orderdate AS DATE) AS dt,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
             CAST(COUNT(*) AS BIGINT) AS order_count
      FROM orders WHERE o_orderkey % 10 <> 0 GROUP BY 1, 2
    ),
    upd AS (
      SELECT cust_id, dt, revenue * 2 AS revenue, order_count
      FROM daily WHERE cust_id % 7 = 0
    )
    SELECT cust_id, dt, revenue, order_count FROM stale WHERE cust_id % 7 <> 0
    UNION ALL
    SELECT cust_id, dt, revenue, order_count FROM upd
"""


@demo_query("q_versioned_merge", oracle=VERSIONED_MERGE_ORACLE)
def q_versioned_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 on the transaction layer: key-granular copy-on-write MERGE.

    A stale fact (orders with orderkey%10==0 missing) is created as
    version 0; the update set — every seventh customer recomputed from
    the complete orders with corrected (doubled) revenue — upserts as
    version 1. Matched (cust_id, dt) keys are replaced, keys that only
    exist in the complete recompute insert, and every untouched file
    carries into the new manifest by reference (the Delta MERGE cost
    model: cost ∝ touched files, not table size). The oracle is the
    WHEN MATCHED/NOT MATCHED algebra in SQL.
    """
    work = scratch_dir("spark_graft_versioned", unique=True)
    vt = VersionedTable(os.path.join(work, "fact"), stats_cols=["dt"])

    stale, upd = _stale_and_upd(spark, sf_dir)
    vt.write_full(stale.repartition(4))
    vt.merge_upsert(spark, upd, keys=["cust_id", "dt"])
    return vt.read(spark).select(
        "cust_id",
        F.col("dt").cast("date").alias("dt"),
        "revenue",
        F.col("order_count").cast("bigint").alias("order_count"),
    )


TIME_TRAVEL_ORACLE = f"""
    WITH daily AS (
      SELECT o_custkey AS cust_id, CAST(o_orderdate AS DATE) AS dt,
             COUNT(*) AS order_count
      FROM orders GROUP BY 1, 2
    )
    SELECT 'create' AS stage, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(order_count) AS BIGINT) AS total_orders
    FROM daily WHERE dt < DATE '{MERGE_HORIZON}'
    UNION ALL
    SELECT 'append', CAST(COUNT(*) AS BIGINT), CAST(SUM(order_count) AS BIGINT)
    FROM daily
    UNION ALL
    SELECT 'delete', CAST(COUNT(*) AS BIGINT), CAST(SUM(order_count) AS BIGINT)
    FROM daily WHERE cust_id % 5 <> 0
    UNION ALL
    SELECT 'optimize', CAST(COUNT(*) AS BIGINT), CAST(SUM(order_count) AS BIGINT)
    FROM daily WHERE cust_id % 5 <> 0
"""


@demo_query("q_time_travel", oracle=TIME_TRAVEL_ORACLE)
def q_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot isolation across a create → append → DELETE → OPTIMIZE
    history: each stage's snapshot is read back BY VERSION after all
    four commits exist, so the query passes only if earlier versions are
    immutable under later writes (time travel), DELETE is file-granular
    copy-on-write, and OPTIMIZE changes layout but never content (its
    row equals the delete row). Exact integer metrics (row and order
    counts) make the oracle hash-stable."""
    work = scratch_dir("spark_graft_timetravel", unique=True)
    vt = VersionedTable(os.path.join(work, "fact"), stats_cols=["dt"])

    daily = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.col("o_custkey").alias("cust_id"),
            F.col("o_orderdate").cast("date").alias("dt"),
        )
        .groupBy("cust_id", "dt")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )
    v_create = vt.write_full(
        daily.filter(F.col("dt") < F.lit(MERGE_HORIZON)).repartition(4)
    )
    v_append = vt.append(
        daily.filter(F.col("dt") >= F.lit(MERGE_HORIZON)).repartition(4)
    )
    v_delete = vt.delete_where(spark, "cust_id % 5 = 0")
    # pack everything below 10M rows/file into one right-sized file; may
    # be a no-op version (AQE can already have coalesced the delete
    # rewrite), which is exactly what the 'optimize' row then verifies
    v_opt = vt.optimize(spark, target_rows_per_file=10_000_000)

    def snap(stage: str, version: int) -> DataFrame:
        return (
            vt.read(spark, version=version)
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum("order_count").cast("bigint").alias("total_orders"),
            )
            .select(F.lit(stage).alias("stage"), "n_rows", "total_orders")
        )

    return (
        snap("create", v_create)
        .unionByName(snap("append", v_append))
        .unionByName(snap("delete", v_delete))
        .unionByName(snap("optimize", v_opt))
    )


TABLE_CHANGES_ORACLE = f"""
    WITH {_DAILY_CTE},
    stale AS (
      SELECT o_custkey AS cust_id, CAST(o_orderdate AS DATE) AS dt,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
             CAST(COUNT(*) AS BIGINT) AS order_count
      FROM orders WHERE o_orderkey % 10 <> 0 GROUP BY 1, 2
    ),
    upd AS (
      SELECT cust_id, dt, revenue * 2 AS revenue, order_count
      FROM daily WHERE cust_id % 7 = 0
    ),
    v1 AS (
      SELECT cust_id, dt, revenue, order_count FROM stale WHERE cust_id % 7 <> 0
      UNION ALL
      SELECT cust_id, dt, revenue, order_count FROM upd
    ),
    ins AS (SELECT * FROM v1 EXCEPT ALL SELECT * FROM stale),
    del AS (SELECT * FROM stale EXCEPT ALL SELECT * FROM v1),
    ukeys AS (
      SELECT cust_id, dt FROM ins INTERSECT SELECT cust_id, dt FROM del
    )
    SELECT CASE WHEN u.cust_id IS NOT NULL
                THEN 'update_postimage' ELSE 'insert' END AS change_type,
           i.cust_id, i.dt, i.revenue, i.order_count
    FROM ins i LEFT JOIN ukeys u ON i.cust_id = u.cust_id AND i.dt = u.dt
    UNION ALL
    SELECT CASE WHEN u.cust_id IS NOT NULL
                THEN 'update_preimage' ELSE 'delete' END AS change_type,
           d.cust_id, d.dt, d.revenue, d.order_count
    FROM del d LEFT JOIN ukeys u ON d.cust_id = u.cust_id AND d.dt = u.dt
"""


@demo_query("q_table_changes", oracle=TABLE_CHANGES_ORACLE)
def q_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed read between two table versions (Delta CDF's
    ``table_changes``): the q_versioned_merge scenario's v0→v1 diff,
    computed from the manifests' file diff so only churned files are
    read — never two full snapshots (``plans/versioned.py::changes``).
    The oracle is the same net diff as EXCEPT ALL algebra over the two
    logical states: a key present on both sides of the diff is an
    update, tagged as its ``update_preimage``/``update_postimage`` pair
    (Delta CDF's vocabulary, pairable because a MERGE commit records
    its ``merge_keys`` in the manifest); survivor rows copied into
    rewritten files cancel out; brand-new keys appear once as
    ``insert``. A unit test (test_changes_reads_only_churned_
    files) pins the only-churn scan property; this query pins the
    row-level semantics against DuckDB — SQL-first since r12: the read
    goes through Delta's ``TABLE_CHANGES('t', lo, hi)`` table-valued
    function in ``LakehouseSession.sql``, so the CDF composes with the
    whole SELECT surface (the Python ``changes()`` twin stays covered
    by test_versioned)."""
    from ..plans.lakehouse_sql import LakehouseSession

    work = scratch_dir("spark_graft_tablechanges", unique=True)
    lh = LakehouseSession(spark)
    vt = lh.create(
        "fact", os.path.join(work, "fact"), stats_cols=["dt"]
    )
    stale, upd = _stale_and_upd(spark, sf_dir)
    v0 = vt.write_full(stale.repartition(4))
    v1 = vt.merge_upsert(spark, upd, keys=["cust_id", "dt"])
    return lh.sql(
        "SELECT _change_type AS change_type, cust_id, "
        "CAST(dt AS DATE) AS dt, revenue, "
        "CAST(order_count AS BIGINT) AS order_count "
        f"FROM TABLE_CHANGES('fact', {v0 + 1}, {v1})"
    )


TABLE_RESTORE_ORACLE = f"""
    WITH {_DAILY_CTE}
    SELECT cust_id, dt, revenue, order_count FROM daily
"""


@demo_query("q_table_restore", oracle=TABLE_RESTORE_ORACLE)
def q_table_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE TO VERSION AS OF: a bad DELETE (every fifth customer) is
    rolled back by re-publishing version 0's file set as a new commit.
    The restore is asserted METADATA-ONLY (the new manifest references
    version 0's files verbatim — restoring a 100 TB table is one JSON
    write), the bad version stays time-travelable, and the head equals
    the original daily fact (the oracle)."""
    work = scratch_dir("spark_graft_restore", unique=True)
    vt = VersionedTable(os.path.join(work, "fact"), stats_cols=["dt"])
    v0 = vt.write_full(_daily_orders(spark, sf_dir).repartition(4))
    v1 = vt.delete_where(spark, "cust_id % 5 = 0")
    v2 = vt.restore(v0)
    m0, m2 = vt._manifest(v0), vt._manifest(v2)
    if m2["files"] != m0["files"]:
        raise AssertionError("restore must reference v0's files verbatim")
    hist = vt.history()
    if [h["op"] for h in hist] != ["overwrite", "delete", "restore"]:
        raise AssertionError(f"unexpected history: {hist}")
    if not hist[1]["n_rows"] < hist[0]["n_rows"] == hist[2]["n_rows"]:
        raise AssertionError(f"restore must undo the delete: {hist}")
    del v1  # the bad version stays time-travelable (unit-tested)
    return vt.read(spark).select(
        "cust_id",
        F.col("dt").cast("date").alias("dt"),
        "revenue",
        F.col("order_count").cast("bigint").alias("order_count"),
    )


SCAN_SKIPPING_ORACLE = """
    WITH daily AS (
      SELECT o_custkey AS cust_id, CAST(o_orderdate AS DATE) AS dt,
             COUNT(*) AS order_count
      FROM orders GROUP BY 1, 2
    )
    SELECT dt, CAST(COUNT(*) AS BIGINT) AS n_custs,
           CAST(SUM(order_count) AS BIGINT) AS total_orders
    FROM daily
    WHERE dt BETWEEN DATE '1995-01-01' AND DATE '1995-03-31'
    GROUP BY dt
"""


@demo_query("q_scan_skipping", oracle=SCAN_SKIPPING_ORACLE)
def q_scan_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-level data skipping (S4×S7 on the transaction layer):
    the daily fact is committed range-clustered on ``dt`` so each file
    covers a disjoint date band and the manifest records per-file
    [min,max]; a 3-month range ``scan`` then PRUNES non-overlapping
    files from the plan before Spark sees them (``inputFiles`` is
    asserted strictly smaller than the table's file set — the query
    fails if skipping silently stops working). This is the any-column
    half of partition pruning: at 100 TB it is the difference between
    reading one date band and reading the table."""
    work = scratch_dir("spark_graft_skipping", unique=True)
    vt = VersionedTable(os.path.join(work, "fact"), stats_cols=["dt"])
    daily = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.col("o_custkey").alias("cust_id"),
            F.col("o_orderdate").cast("date").alias("dt"),
        )
        .groupBy("cust_id", "dt")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )
    vt.write_full(daily.repartitionByRange(8, "dt").sortWithinPartitions("dt"))
    import datetime as _dt

    lo, hi = _dt.date(1995, 1, 1), _dt.date(1995, 3, 31)
    pruned = vt.scan(spark, "dt", lo=lo, hi=hi)
    n_total = len(vt._manifest()["files"])
    n_scanned = len(pruned.inputFiles())
    if not 0 < n_scanned < n_total:
        raise AssertionError(
            f"data skipping inert: scanned {n_scanned} of {n_total} files"
        )
    return pruned.groupBy("dt").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_custs"),
        F.sum("order_count").cast("bigint").alias("total_orders"),
    )


WAP_CONSTRAINT_ORACLE = f"""
    WITH {_DAILY_CTE}
    SELECT cust_id, dt, revenue, order_count FROM daily
"""


@demo_query("q_wap_constraint", oracle=WAP_CONSTRAINT_ORACLE)
def q_wap_constraint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK constraints + write-audit-publish on the transaction layer
    (Delta ALTER TABLE ADD CONSTRAINT; Iceberg WAP).

    A stale fact gets ``CHECK (revenue >= 0 AND order_count >= 1)``
    (validated against existing data in one aggregate). Three gates are
    then driven in order, and the query FAILS unless each behaves:
    (1) an append with negated revenue must be rejected by the
    constraint — the violation count rides the commit's own write, no
    extra scan (``plans/versioned.py::_write_commit_files``) — with the head
    unmoved; (2) a WAP attempt whose audit suite rejects (truncated
    batch) must delete its staged files and leave the head unmoved —
    bad data is stopped BEFORE visibility, never rolled back after;
    (3) the corrected full fact publishes through WAP with a
    row-count + not-null audit. The oracle is the corrected fact."""
    from ..plans.versioned import ConstraintViolationError

    work = scratch_dir("spark_graft_wap", unique=True)
    vt = VersionedTable(os.path.join(work, "fact"), stats_cols=["dt"])
    full = _daily_orders(spark, sf_dir)
    stale = full.filter(F.col("cust_id") % 3 != 0)
    vt.write_full(stale.repartition(4))
    v_con = vt.add_constraint(
        spark, "metrics_sane", "revenue >= 0 AND order_count >= 1"
    )

    poison = full.filter(F.col("cust_id") % 3 == 0).withColumn(
        "revenue", -F.col("revenue")
    )
    try:
        vt.append(poison)
        raise AssertionError("negative-revenue append was not rejected")
    except ConstraintViolationError:
        pass
    if vt.latest_version() != v_con:
        raise AssertionError("rejected append moved the table head")

    expected_rows = full.count()

    def audit_complete(df: DataFrame) -> None:
        n, nulls = df.agg(
            F.count(F.lit(1)), F.count_if(F.col("revenue").isNull())
        ).first()
        if nulls or n < expected_rows:
            raise ValueError(f"audit: incomplete batch ({n}/{expected_rows})")

    try:
        vt.write_audit_publish(spark, stale, audits=[audit_complete])
        raise AssertionError("truncated WAP batch was not rejected")
    except ValueError as exc:
        if "audit" not in str(exc):
            raise
    if vt.latest_version() != v_con:
        raise AssertionError("failed audit moved the table head")

    vt.write_audit_publish(spark, full.repartition(4), audits=[audit_complete])
    return vt.read(spark).select(
        "cust_id",
        F.col("dt").cast("date").alias("dt"),
        "revenue",
        F.col("order_count").cast("bigint").alias("order_count"),
    )


NOTNULL_CONSTRAINT_ORACLE = """
    SELECT c_custkey AS cust_id, c_mktsegment AS segment
    FROM customer WHERE c_custkey % 7 <> 0
    UNION ALL
    SELECT -1 AS cust_id, 'SENTINEL' AS segment
"""


@demo_query("q_notnull_constraint", oracle=NOTNULL_CONSTRAINT_ORACLE)
def q_notnull_constraint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT NULL column constraints beside CHECK (Delta ships both;
    ``plans/versioned.py::set_not_null`` — r13 verdict task 8): the
    invariant is validated against existing data at DDL time, persisted
    through the SAME constraint channel CHECK uses, and enforced on
    every later commit on its own write. Gates driven in order,
    failing the query if any misbehaves: (1) ``ALTER COLUMN segment SET
    NOT NULL`` on clean data commits metadata-only and DESCRIBE DETAIL
    surfaces it; (2) an INSERT carrying a NULL segment is REFUSED with
    the head unmoved; (3) a WAP append staging a NULL is refused before
    visibility (the constraint rides the staging write, before any
    audit); (4) ``DROP NOT NULL`` re-admits NULLs, and re-SETTING while
    NULL rows exist refuses; (5) after deleting the NULL rows, SET
    succeeds again and a valid sentinel row flows. Oracle = the final
    state (%7 customers deleted, sentinel appended)."""
    from ..plans.lakehouse_sql import LakehouseSession
    from ..plans.versioned import ConstraintViolationError

    work = scratch_dir("spark_graft_notnull", unique=True)
    lh = LakehouseSession(spark)
    lh.create("dimc", os.path.join(work, "dim"), stats_cols=["cust_id"])
    load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust_id"),
        F.col("c_mktsegment").alias("segment"),
    ).createOrReplaceTempView("nn_src")
    lh.sql("CREATE TABLE dimc AS SELECT * FROM nn_src")
    lh.sql("ALTER TABLE dimc ALTER COLUMN segment SET NOT NULL")
    desc = lh.sql("DESCRIBE DETAIL dimc").first()
    if desc["not_null_columns"] != "segment":
        raise AssertionError(f"DESCRIBE DETAIL missing NOT NULL: {desc}")
    vt = lh.table("dimc")
    head = vt.latest_version()
    bad = local_rows(
        spark, [(-9, None)], "cust_id bigint, segment string"
    )
    try:
        vt.append(bad)
        raise AssertionError("NULL insert was not rejected")
    except ConstraintViolationError:
        pass
    try:
        vt.write_audit_publish(spark, bad, audits=[], mode="append")
        raise AssertionError("NULL WAP append was not rejected")
    except ConstraintViolationError:
        pass
    if vt.latest_version() != head:
        raise AssertionError("rejected NULL write moved the head")
    lh.sql("ALTER TABLE dimc ALTER COLUMN segment DROP NOT NULL")
    vt.append(bad)
    try:
        lh.sql("ALTER TABLE dimc ALTER COLUMN segment SET NOT NULL")
        raise AssertionError("SET NOT NULL over existing NULLs not refused")
    except ConstraintViolationError:
        pass
    lh.sql("DELETE FROM dimc WHERE segment IS NULL")
    lh.sql("ALTER TABLE dimc ALTER COLUMN segment SET NOT NULL")
    lh.sql("DELETE FROM dimc WHERE cust_id % 7 = 0")
    vt.append(
        local_rows(
            spark, [(-1, "SENTINEL")], "cust_id bigint, segment string"
        )
    )
    return lh.sql(
        "SELECT CAST(cust_id AS BIGINT) AS cust_id, segment FROM dimc"
    )


TABLE_CLONE_ORACLE = f"""
    WITH {_DAILY_CTE},
    mx AS (SELECT MAX(cust_id) AS m FROM daily),
    upd AS (
      SELECT cust_id, dt, revenue * 2 AS revenue, order_count
      FROM daily, mx WHERE cust_id % 7 = 0 AND cust_id * 8 < m
    )
    SELECT cust_id, dt, revenue, order_count FROM daily, mx
    WHERE NOT (cust_id % 7 = 0 AND cust_id * 8 < m)
    UNION ALL
    SELECT cust_id, dt, revenue, order_count FROM upd
"""


@demo_query("q_table_clone", oracle=TABLE_CLONE_ORACLE)
def q_table_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE TABLE ... SHALLOW CLONE (Delta semantics): a dev/test copy
    of the production fact that costs ONE manifest write — the clone's
    version 0 references the source snapshot's files by absolute path,
    so cloning a 100 TB table moves zero data
    (``plans/versioned.py::clone``). The clone then takes a corrective
    MERGE (every seventh customer's revenue doubled) copy-on-write:
    touched borrowed files are rewritten into the clone's OWN data
    directory, untouched ones stay borrowed by reference, and the
    source table is asserted bit-identical afterwards. The oracle is
    the merge algebra applied to the clone; three structural guards
    make a silent deep-copy or source mutation fail the query, not just
    slow it."""
    work = scratch_dir("spark_graft_clone", unique=True)
    src = VersionedTable(os.path.join(work, "src"), stats_cols=["cust_id"])
    # range-clustered by cust_id so the low-key corrective merge below
    # exercises file-granular CoW across the borrow boundary (a hash
    # layout would smear the touched keys over every file)
    v0 = src.write_full(
        _daily_orders(spark, sf_dir)
        .repartitionByRange(8, "cust_id")
        .sortWithinPartitions("cust_id")
    )
    src_manifest = src._manifest(v0)

    cl = src.clone(os.path.join(work, "dev"))
    owned = [
        f
        for _, _, fs in os.walk(os.path.join(cl.path, "data"))
        for f in fs
        if f.endswith(".parquet")
    ]
    if owned:
        raise AssertionError(f"shallow clone copied {len(owned)} data files")

    # scale-relative low-key cut (lowest eighth of the key space): the
    # touched keys stay confined to the head of the range layout at
    # every sf, so the borrowed-files-survive guard below is meaningful
    # from the sf0.001 fixture suite up through the sf1 soak
    max_cust = _daily_orders(spark, sf_dir).agg(F.max("cust_id")).first()[0]
    upd = (
        _daily_orders(spark, sf_dir)
        .filter((F.col("cust_id") % 7 == 0) & (F.col("cust_id") * 8 < max_cust))
        .withColumn("revenue", F.col("revenue") * 2)
    )
    cl.merge_upsert(spark, upd, keys=["cust_id", "dt"])
    m1 = cl._manifest(1)
    if not any(os.path.isabs(f) for f in m1["files"]):
        raise AssertionError("clone merge rewrote every borrowed file")
    if src._manifest(src.latest_version()) != src_manifest:
        raise AssertionError("clone merge mutated the source table")
    return cl.read(spark).select(
        "cust_id",
        F.col("dt").cast("date").alias("dt"),
        "revenue",
        F.col("order_count").cast("bigint").alias("order_count"),
    )


STREAM_CDF_ORACLE = f"""
    WITH {_DAILY_CTE},
    stale AS (
      SELECT o_custkey AS cust_id, CAST(o_orderdate AS DATE) AS dt,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
             CAST(COUNT(*) AS BIGINT) AS order_count
      FROM orders WHERE o_orderkey % 10 <> 0 GROUP BY 1, 2
    ),
    upd AS (
      SELECT cust_id, dt, revenue * 2 AS revenue, order_count
      FROM daily WHERE cust_id % 7 = 0
    ),
    merged AS (
      SELECT cust_id, dt, revenue, order_count FROM stale WHERE cust_id % 7 <> 0
      UNION ALL
      SELECT cust_id, dt, revenue, order_count FROM upd
    )
    SELECT cust_id, dt, revenue, order_count FROM merged WHERE cust_id % 5 <> 0
"""


@demo_query("q_stream_cdf", oracle=STREAM_CDF_ORACLE)
def q_stream_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC *source* on the transaction layer — the read-side
    twin of ``q_stream_merge``'s CDC sink (Delta's
    ``readStream.option("readChangeFeed")``).

    With ``change_feed=True`` every commit materializes its row-level
    changes under ``_change_data/_commit_version=N/`` at a cost ∝ the
    commit's churn (``plans/versioned.py::materialize_changes``). Three
    commits run — stale load, corrective MERGE, DELETE — then the feed
    is consumed through ``stream_changes`` (a JVM-side parquet file
    stream: no Python in the data plane, exactly-once per file via the
    stream checkpoint) into a parquet sink with an availableNow
    trigger. The streamed rows are replayed consumer-side — last change
    per key wins, with the insert/update postimage beating its paired
    same-commit preimage; keys ending on a delete drop out — and the replay
    must reconstruct the table head exactly: the oracle is the
    merge-then-delete algebra in SQL. A guard asserts all three commit
    versions arrived through the STREAM (a silently-pruned feed can't
    pass), and the replayed result is built from the sink files, so the
    value check rides the full materialize→stream→replay path.
    """
    from pyspark.sql import Window

    work = scratch_dir("spark_graft_streamcdf", unique=True)
    vt = VersionedTable(
        os.path.join(work, "fact"), stats_cols=["dt"], change_feed=True
    )

    stale, upd = _stale_and_upd(spark, sf_dir)
    vt.write_full(stale.repartition(4))
    vt.merge_upsert(spark, upd, keys=["cust_id", "dt"])
    vt.delete_where(spark, "cust_id % 5 = 0")

    sink = os.path.join(work, "sink")
    q = (
        vt.stream_changes(spark)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _await_drained(q)

    feed = spark.read.schema(vt.changes_schema()).parquet(sink)
    seen = {r["_commit_version"] for r in feed.select("_commit_version").distinct().collect()}
    if seen != {0, 1, 2}:
        raise AssertionError(f"stream delivered commits {sorted(seen)}, want [0, 1, 2]")

    post = F.col("_change_type").isin("insert", "update_postimage")
    w = Window.partitionBy("cust_id", "dt").orderBy(
        F.desc("_commit_version"),
        F.when(post, 1).otherwise(0).desc(),
    )
    return (
        feed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .filter(post)
        .select(
            "cust_id",
            F.col("dt").cast("date").alias("dt"),
            "revenue",
            F.col("order_count").cast("bigint").alias("order_count"),
        )
    )


@demo_query("q_table_replicate", oracle=STREAM_CDF_ORACLE)
def q_table_replicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous table replication over the change feed
    (``plans/versioned.py::replicate``): the q_stream_cdf scenario's
    three commits (stale load → corrective MERGE → DELETE) stream out
    of the source's materialized CDF and fold into a REPLICA table via
    ``foreachBatch`` → ``apply_changes`` — per micro-batch the fold
    re-reads whole materialized commits up to the highest delivered
    version (commit-atomic even if the file stream splits a feed),
    nets per key (latest commit wins, the insert/update postimage beats
    its paired preimage, the replica watermark drops already-applied
    versions) and applies one atomic
    copy-on-write commit. Cost ∝ churn end-to-end: feed write, stream
    read, netting shuffle, and CoW apply all scale with changed rows,
    never table size — the property that makes a 100 TB replica
    affordable to keep in sync. The oracle is the merge-then-delete
    algebra evaluated against the REPLICA's head; a guard asserts the
    replica actually went through the stream (its history is
    stream-applied merge commits, not a bulk copy)."""
    from ..plans.versioned import replicate

    work = scratch_dir("spark_graft_replicate", unique=True)
    src = VersionedTable(
        os.path.join(work, "src"), stats_cols=["dt"], change_feed=True
    )

    stale, upd = _stale_and_upd(spark, sf_dir)
    src.write_full(stale.repartition(4))
    src.merge_upsert(spark, upd, keys=["cust_id", "dt"])
    src.delete_where(spark, "cust_id % 5 = 0")

    dst = VersionedTable(os.path.join(work, "replica"))
    q = replicate(
        spark,
        src,
        dst,
        keys=["cust_id", "dt"],
        checkpoint_dir=os.path.join(work, "ckpt"),
    )
    _await_drained(q)

    ops = [h["op"] for h in dst.history()]
    if not ops or set(ops) - {"merge", "overwrite"}:
        raise AssertionError(f"replica history is not stream-applied: {ops}")
    return dst.read(spark).select(
        "cust_id",
        F.col("dt").cast("date").alias("dt"),
        "revenue",
        F.col("order_count").cast("bigint").alias("order_count"),
    )


TABLE_HISTORY_ORACLE = f"""
    WITH {_DAILY_CTE},
    stale AS (
      SELECT o_custkey AS cust_id, CAST(o_orderdate AS DATE) AS dt,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
             CAST(COUNT(*) AS BIGINT) AS order_count
      FROM orders WHERE o_orderkey % 10 <> 0 GROUP BY 1, 2
    ),
    upd AS (
      SELECT cust_id, dt, revenue * 2 AS revenue, order_count
      FROM daily WHERE cust_id % 7 = 0
    ),
    merged AS (
      SELECT cust_id, dt FROM stale WHERE cust_id % 7 <> 0
      UNION ALL
      SELECT cust_id, dt FROM upd
    )
    SELECT CAST(0 AS BIGINT) AS version, 'overwrite' AS op,
           CAST((SELECT COUNT(*) FROM stale) AS BIGINT) AS n_rows
    UNION ALL
    SELECT 1, 'merge', CAST((SELECT COUNT(*) FROM merged) AS BIGINT)
    UNION ALL
    SELECT 2, 'delete',
           CAST((SELECT COUNT(*) FROM merged WHERE cust_id % 5 <> 0) AS BIGINT)
    UNION ALL
    SELECT 3, 'restore', CAST((SELECT COUNT(*) FROM merged) AS BIGINT)
"""


@demo_query("q_table_history", oracle=TABLE_HISTORY_ORACLE)
def q_table_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE HISTORY on the transaction layer: the audit surface an
    operator reads before a RESTORE or VACUUM. The shared scenario runs
    overwrite → MERGE → DELETE → RESTORE and the query returns the
    history's deterministic core — (version, op, n_rows) per commit,
    n_rows derived from the manifests' per-file stats, no data scan —
    with each row's count independently recomputed by the oracle from
    the orders algebra. A history that dropped a version, misattributed
    an op, or mis-summed file stats hash-mismatches."""
    work = scratch_dir("spark_graft_history", unique=True)
    vt = VersionedTable(os.path.join(work, "fact"), stats_cols=["dt"])
    stale, upd = _stale_and_upd(spark, sf_dir)
    v0 = vt.write_full(stale.repartition(4))
    vt.merge_upsert(spark, upd, keys=["cust_id", "dt"])
    vt.delete_where(spark, "cust_id % 5 = 0")
    vt.restore(1, spark=spark)
    hist = vt.history()
    return local_rows(
        spark,
        [(h["version"], h["op"], h["n_rows"]) for h in hist],
        "version bigint, op string, n_rows bigint",
    )


OPTIMIZE_ZORDER_ORACLE = f"""
    WITH daily AS (
      SELECT o_custkey AS cust_id,
             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS dtn,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
             CAST(COUNT(*) AS BIGINT) AS order_count
      FROM orders GROUP BY 1, 2
    )
    SELECT cust_id, dtn, revenue, order_count FROM daily
"""


@demo_query("q_optimize_zorder", oracle=OPTIMIZE_ZORDER_ORACLE)
def q_optimize_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ... ZORDER BY (cust_id, dtn) on the transaction layer:
    a hash-scattered fact (every file spans the full key range — the
    worst case for data skipping) is rewritten by ``optimize`` range-
    partitioned on the bit-interleaved Morton key
    (``sources/writers.py::zorder_value``, pure integer Column
    arithmetic — no UDFs), so every rewritten file covers a narrow
    range in BOTH dimensions and the manifest min/max stats become
    selective. Two guards make this behavioral, not decorative: the
    post-optimize per-file cust_id span must shrink below 60% of the
    scattered layout's, and a ``scan`` over a narrow cust_id range must
    prune to a strict subset of files (it cannot on the scattered
    layout). The oracle pins content identity — OPTIMIZE must never
    change the logical table."""
    from ..sources.writers import zorder_value

    work = scratch_dir("spark_graft_zorder", unique=True)
    vt = VersionedTable(os.path.join(work, "fact"), stats_cols=["cust_id", "dtn"])
    daily = (
        _daily_orders(spark, sf_dir)
        .withColumn("dtn", F.datediff("dt", F.lit("1970-01-01")).cast("bigint"))
        .select("cust_id", "dtn", "revenue", "order_count")
    )
    v0 = vt.write_full(daily.repartition(8, "cust_id", "dtn", "revenue"))

    lo, hi, lo2, hi2, n_rows = (
        vt.read(spark)
        .agg(
            F.min("cust_id"), F.max("cust_id"), F.min("dtn"), F.max("dtn"),
            F.count(F.lit(1)),
        )
        .first()
    )
    z = zorder_value(["cust_id", "dtn"], [float(lo), float(lo2)], [float(hi), float(hi2)])
    v1 = vt.optimize(
        spark,
        target_rows_per_file=int(n_rows) // 8 + 1,
        sort_within=[z],
        rewrite_all=True,  # ZORDER semantics: re-cluster every file
    )

    def avg_span(version: int) -> float:
        m = vt._manifest(version)
        spans = [
            st["cust_id"][1] - st["cust_id"][0]
            for st in m["stats"].values()
            if st.get("cust_id") and st["cust_id"][0] is not None
        ]
        return sum(spans) / len(spans)

    # z quadrants put ~half the files at ~half the cust range; one
    # boundary partition stays wide, so the honest expectation is ~0.55
    # with sampling noise — 0.75 is the regression line, and the scan
    # guard below is the sharper behavioral check
    before, after = avg_span(v0), avg_span(v1)
    if not after < 0.75 * before:
        raise AssertionError(
            f"z-order did not tighten file ranges: {before:.0f} -> {after:.0f}"
        )
    probe_hi = int(lo) + max(1, (int(hi) - int(lo)) // 10)
    pruned = vt.scan(spark, "cust_id", lo=int(lo), hi=probe_hi)
    n_total = len(vt._manifest()["files"])
    if not 0 < len(pruned.inputFiles()) < n_total:
        raise AssertionError(
            f"z-ordered scan not pruned: {len(pruned.inputFiles())}/{n_total}"
        )
    return vt.read(spark)


DELETE_VECTORS_ORACLE = f"""
    WITH daily AS (
      SELECT o_custkey AS cust_id, CAST(o_orderdate AS DATE) AS dt,
             COUNT(*) AS order_count
      FROM orders GROUP BY 1, 2
    )
    SELECT 'create' AS stage, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(order_count) AS BIGINT) AS total_orders
    FROM daily
    UNION ALL
    SELECT 'mor_delete', CAST(COUNT(*) AS BIGINT), CAST(SUM(order_count) AS BIGINT)
    FROM daily WHERE cust_id % 5 <> 0
    UNION ALL
    SELECT 'mor_fold', CAST(COUNT(*) AS BIGINT), CAST(SUM(order_count) AS BIGINT)
    FROM daily WHERE cust_id % 5 <> 0 AND dt >= DATE '{MERGE_HORIZON}'
    UNION ALL
    SELECT 'purge', CAST(COUNT(*) AS BIGINT), CAST(SUM(order_count) AS BIGINT)
    FROM daily WHERE cust_id % 5 <> 0 AND dt >= DATE '{MERGE_HORIZON}'
"""


@demo_query("q_delete_vectors", oracle=DELETE_VECTORS_ORACLE)
def q_delete_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE via deletion vectors (Delta's
    ``delta.enableDeletionVectors`` / Iceberg v2 position deletes,
    re-derived on plain parquet in ``plans/versioned.py::_delete_mor``):
    two deletes record churn-sized (file, row-position) sidecars and the
    reader anti-joins them via parquet ``_metadata.row_index`` — the
    100 TB write-amplification fix, since deleting scattered rows costs
    one tiny sidecar write instead of rewriting every touched full-size
    file. Three behavioral guards keep this honest: (1) across BOTH
    deletes no data parquet is added, removed, or modified (byte/mtime
    identity — the whole point of merge-on-read); (2) the second delete
    folds into the first's positions so every file maps to exactly one
    DV (readers never chase chains); (3) ``optimize(purge_dvs=True)``
    (Delta's ``REORG ... APPLY (PURGE)``) drops the dead rows
    physically and sheds every DV entry without changing the logical
    table. Each stage's snapshot is read BY VERSION after all commits
    exist, so time travel across merge-on-read deletes is what the
    oracle actually checks."""
    work = scratch_dir("spark_graft_dv", unique=True)
    vt = VersionedTable(os.path.join(work, "fact"), stats_cols=["dt"])
    daily = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.col("o_custkey").alias("cust_id"),
            F.col("o_orderdate").cast("date").alias("dt"),
        )
        .groupBy("cust_id", "dt")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )
    v_create = vt.write_full(daily.repartition(4))

    def data_files() -> list[tuple[str, int, int]]:
        out = []
        for dirpath, _dirs, names in os.walk(os.path.join(vt.path, "data")):
            if os.path.basename(dirpath).endswith("-dv"):
                continue  # DV sidecars are the one thing allowed to appear
            for n in names:
                if n.endswith(".parquet"):
                    st = os.stat(os.path.join(dirpath, n))
                    out.append((os.path.relpath(os.path.join(dirpath, n), vt.path),
                                st.st_mtime_ns, st.st_size))
        return sorted(out)

    before = data_files()
    v_mor = vt.delete_where(spark, "cust_id % 5 = 0", mode="merge_on_read")
    v_fold = vt.delete_where(
        spark, f"dt < DATE '{MERGE_HORIZON}'", mode="merge_on_read"
    )
    if data_files() != before:
        raise AssertionError("merge-on-read delete touched a data file")
    m_mor, m_fold = vt._manifest(v_mor), vt._manifest(v_fold)
    dead_mor = sum(m_mor.get("dv_counts", {}).values())
    dead_fold = sum(m_fold.get("dv_counts", {}).values())
    if not 0 < dead_mor < dead_fold:
        raise AssertionError(
            f"DV fold did not accumulate: {dead_mor} -> {dead_fold}"
        )
    if any(
        m_fold["dvs"][f] == m_mor["dvs"][f]
        for f in m_fold["dvs"]
        if f in m_mor.get("dvs", {})
        and m_fold["dv_counts"][f] > m_mor["dv_counts"][f]
    ):
        raise AssertionError("re-deleted file kept its old DV dir (chain)")
    v_purge = vt.optimize(spark, target_rows_per_file=10_000_000, purge_dvs=True)
    if vt._manifest().get("dvs", {}):
        raise AssertionError("purge_dvs left deletion vectors behind")

    def snap(stage: str, version: int) -> DataFrame:
        return (
            vt.read(spark, version=version)
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum("order_count").cast("bigint").alias("total_orders"),
            )
            .select(F.lit(stage).alias("stage"), "n_rows", "total_orders")
        )

    return (
        snap("create", v_create)
        .unionByName(snap("mor_delete", v_mor))
        .unionByName(snap("mor_fold", v_fold))
        .unionByName(snap("purge", v_purge))
    )


UPDATE_WHERE_ORACLE = f"""
    WITH {_DAILY_CTE}
    SELECT cust_id, dt,
           CASE WHEN cust_id % 7 = 0 THEN revenue * 2 ELSE revenue END AS revenue,
           CASE WHEN cust_id % 11 = 3 THEN order_count + 100
                ELSE order_count END AS order_count
    FROM daily
"""


@demo_query("q_update_where", oracle=UPDATE_WHERE_ORACLE)
def q_update_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE ... SET ... WHERE in both execution modes (Delta UPDATE,
    ``plans/versioned.py::update_where``). The merge-on-read pass
    doubles every seventh customer's revenue by writing a deletion
    vector over the preimages and appending churn-sized postimage files
    — the guard asserts every original data file carried by reference,
    which is the 100 TB point: a scattered 14%-of-keys update costs one
    sidecar + one small file, not a full-table rewrite. The
    copy-on-write pass then bumps a disjoint cohort's order_count,
    rewriting only touched files. The oracle is the composed CASE
    algebra; update order doesn't matter because the SET targets are
    disjoint columns."""
    work = scratch_dir("spark_graft_update", unique=True)
    vt = VersionedTable(os.path.join(work, "fact"), stats_cols=["dt"])
    daily = _daily_orders(spark, sf_dir)
    v0 = vt.write_full(daily.repartition(4))
    files0 = set(vt._manifest(v0)["files"])
    vt.update_where(
        spark, "cust_id % 7 = 0", {"revenue": "revenue * 2"},
        mode="merge_on_read",
    )
    m1 = vt._manifest()
    if not files0 <= set(m1["files"]) or not m1.get("dvs"):
        raise AssertionError("merge-on-read update rewrote a data file")
    vt.update_where(
        spark, "cust_id % 11 = 3", {"order_count": "order_count + 100"},
        mode="copy_on_write",
    )
    if not vt.history()[-1]["meta"]["touched_files"] <= len(m1["files"]):
        raise AssertionError("copy-on-write update lost file granularity")
    return vt.read(spark).select(
        "cust_id",
        F.col("dt").cast("date").alias("dt"),
        "revenue",
        F.col("order_count").cast("bigint").alias("order_count"),
    )


_REPLACE_LO, _REPLACE_HI = "1995-01-01", "1996-01-01"

REPLACE_WHERE_ORACLE = f"""
    WITH {_DAILY_CTE}
    SELECT cust_id, dt,
           CASE WHEN dt >= DATE '{_REPLACE_LO}' AND dt < DATE '{_REPLACE_HI}'
                THEN revenue * 2 ELSE revenue END AS revenue,
           order_count
    FROM daily
"""


@demo_query("q_replace_where", oracle=REPLACE_WHERE_ORACLE)
def q_replace_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atomic selective overwrite (Delta ``replaceWhere``,
    ``plans/versioned.py::replace_where``) — the dbt incremental
    partition-overwrite contract (reference
    ``dbt/models/marts/fct_daily_store_metrics.sql:1-5``) as ONE
    commit: one year's window is recomputed (doubled revenue) and
    swapped in, deleting exactly the window and inserting exactly the
    recompute. The table is laid out range-partitioned on dt so the
    window maps to a file subset; the guard asserts out-of-window files
    carried by reference — at 100 TB, re-loading one day touches one
    day's files. A leaking replacement row (outside the predicate)
    aborts before any write, which the Delta contract requires."""
    work = scratch_dir("spark_graft_replace", unique=True)
    vt = VersionedTable(os.path.join(work, "fact"), stats_cols=["dt"])
    daily = _daily_orders(spark, sf_dir)
    v0 = vt.write_full(daily.repartitionByRange(8, "dt"))
    window = (F.col("dt") >= F.lit(_REPLACE_LO).cast("date")) & (
        F.col("dt") < F.lit(_REPLACE_HI).cast("date")
    )
    recompute = daily.filter(window).withColumn(
        "revenue", F.col("revenue") * 2
    )
    vt.replace_where(spark, window, recompute)
    m0, m1 = vt._manifest(v0), vt._manifest()
    carried = set(m0["files"]) & set(m1["files"])
    if not carried or vt.history()[-1]["meta"]["touched_files"] >= len(m0["files"]):
        raise AssertionError(
            "replace_where rewrote files outside the predicate window"
        )
    return vt.read(spark).select(
        "cust_id",
        F.col("dt").cast("date").alias("dt"),
        "revenue",
        F.col("order_count").cast("bigint").alias("order_count"),
    )


LAKEHOUSE_SQL_ORACLE = f"""
    WITH {_DAILY_CTE}
    SELECT cust_id, dt,
           CASE WHEN cust_id % 10 = 0 THEN revenue * 3
                WHEN cust_id % 7 = 0 THEN revenue * 2
                ELSE revenue END AS revenue,
           order_count
    FROM daily
"""


@demo_query("q_lakehouse_sql", oracle=LAKEHOUSE_SQL_ORACLE)
def q_lakehouse_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Delta-SQL dialect end-to-end (``plans/lakehouse_sql.py``):
    CREATE TABLE AS → merge-on-read DELETE → UPDATE → MERGE upsert →
    time-travel SELECT, every statement arriving as SQL TEXT — the
    surface the reference's users actually speak (Athena DDL + dbt
    models). The %10 cohort is deleted via deletion vectors, the %7
    cohort's revenue doubles via UPDATE, then MERGE re-inserts the
    deleted cohort recomputed at 3× (a cust divisible by both 70s gets
    the 3× branch because it was deleted before the update ran — the
    oracle's CASE order encodes exactly that history). A VERSION AS OF
    0 count guard proves time travel reads through the SQL layer."""
    from ..plans.lakehouse_sql import LakehouseSession

    work = scratch_dir("spark_graft_lhsql", unique=True)
    lh = LakehouseSession(spark)
    lh.create(
        "fact", os.path.join(work, "fact"), stats_cols=["dt"]
    )
    daily = _daily_orders(spark, sf_dir)
    daily.createOrReplaceTempView("daily_src")
    daily.filter(F.col("cust_id") % 10 == 0).withColumn(
        "revenue", F.col("revenue") * 3
    ).createOrReplaceTempView("corrections")

    lh.sql("CREATE TABLE fact AS SELECT * FROM daily_src")
    n0 = lh.sql("SELECT COUNT(*) AS n FROM fact").first()["n"]
    lh.sql("DELETE /*+ MERGE_ON_READ */ FROM fact WHERE cust_id % 10 = 0")
    lh.sql("UPDATE fact SET revenue = revenue * 2 WHERE cust_id % 7 = 0")
    lh.sql(
        "MERGE INTO fact USING corrections "
        "ON fact.cust_id = corrections.cust_id AND fact.dt = corrections.dt "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    tt = lh.sql("SELECT COUNT(*) AS n FROM fact VERSION AS OF 0").first()["n"]
    if tt != n0:
        raise AssertionError(f"time travel through SQL broken: {tt} != {n0}")
    return lh.sql("SELECT * FROM fact").select(
        "cust_id",
        F.col("dt").cast("date").alias("dt"),
        "revenue",
        F.col("order_count").cast("bigint").alias("order_count"),
    )


COLUMN_MAPPING_ORACLE = f"""
    WITH {_DAILY_CTE}
    SELECT cust_id, dt, revenue AS rev_usd, order_count AS n_orders
    FROM daily WHERE cust_id % 5 <> 0
"""


@demo_query("q_column_mapping", oracle=COLUMN_MAPPING_ORACLE)
def q_column_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only RENAME COLUMN via column mapping (Delta column
    mapping, ``plans/versioned.py::rename_column``): two renames on the
    fact are pure manifest writes — the guard asserts no data parquet
    changed — and every downstream path keeps working through the
    mapping: a merge-on-read DELETE whose predicate uses the ORIGINAL
    name runs pre-rename, stats-based scan pruning is exercised on the
    RENAMED key (stats are keyed by frozen physical names, so skipping
    survives the rename), and the final read returns the new logical
    schema. The oracle aliases the same algebra to the renamed
    columns."""
    work = scratch_dir("spark_graft_colmap", unique=True)
    vt = VersionedTable(os.path.join(work, "fact"), stats_cols=["cust_id"])
    daily = _daily_orders(spark, sf_dir)
    vt.write_full(daily.repartitionByRange(4, "cust_id"))
    vt.delete_where(spark, "cust_id % 5 = 0", mode="merge_on_read")

    def data_files() -> list:
        out = []
        for dirpath, _dirs, names in os.walk(os.path.join(vt.path, "data")):
            for n in names:
                if n.endswith(".parquet"):
                    st = os.stat(os.path.join(dirpath, n))
                    out.append((dirpath, n, st.st_mtime_ns, st.st_size))
        return sorted(out)

    before = data_files()
    vt.rename_column("revenue", "rev_usd")
    vt.rename_column("order_count", "n_orders")
    if data_files() != before:
        raise AssertionError("rename_column touched a data file")
    # skipping must survive the rename: stats were written under the
    # physical name, the scan asks with the logical one (at tiny SFs
    # AQE can coalesce the table into one file — then there is nothing
    # to prune and the guard degrades to an exact-subset check)
    lo, hi_all = vt.read(spark).agg(F.min("cust_id"), F.max("cust_id")).first()
    n_files = len(vt._manifest()["files"])
    pruned = vt.scan(
        spark, "cust_id", lo=lo, hi=lo + max(1, (hi_all - lo) // 10)
    )
    ok = (
        0 < len(pruned.inputFiles()) < n_files
        if n_files >= 2
        else len(pruned.inputFiles()) == n_files
    )
    if not ok:
        raise AssertionError("scan pruning broken after rename")
    return vt.read(spark).select(
        "cust_id",
        F.col("dt").cast("date").alias("dt"),
        "rev_usd",
        F.col("n_orders").cast("bigint").alias("n_orders"),
    )


WRITER_ISOLATION_ORACLE = f"""
    WITH {_DAILY_CTE}
    SELECT cust_id, dt, revenue, order_count
    FROM daily WHERE cust_id % 5 <> 0
    UNION ALL
    SELECT cust_id, dt, revenue * 2 AS revenue, order_count
    FROM daily WHERE cust_id % 5 = 0 AND cust_id % 2 = 0
"""


@demo_query("q_writer_isolation", oracle=WRITER_ISOLATION_ORACLE)
def q_writer_isolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level optimistic concurrency, driver-verified (Delta
    WriteSerializable, ``plans/versioned.py::_check_cow_conflict``).
    A copy-on-write DELETE races a concurrent APPEND at the exact claim
    instant — injected deterministically through the claim-backend seam
    — and must REBASE, not abort: the committed table holds BOTH
    effects (the %5 cohort deleted AND the interloper's rows, the even
    half of that cohort re-appended at doubled revenue), with a dense
    3-version chain. Under the old all-or-nothing CAS this raced
    delete raised; at 100 TB, aborting every writer because an
    unrelated partition appended is the difference between one writer
    and a fleet."""
    from ..plans.versioned import CommitClaimBackend, PosixLinkClaim

    work = scratch_dir("spark_graft_occ", unique=True)
    path = os.path.join(work, "fact")
    daily = _daily_orders(spark, sf_dir)

    interloper = VersionedTable(path)
    appended = daily.filter(
        (F.col("cust_id") % 5 == 0) & (F.col("cust_id") % 2 == 0)
    ).withColumn("revenue", F.col("revenue") * 2)

    class RaceOnce(CommitClaimBackend):
        def __init__(self):
            self.fired = False
            self._inner = PosixLinkClaim()

        def claim(self, final: str, payload: str) -> bool:
            if not self.fired:
                self.fired = True
                interloper.append(appended)  # lands first, wins the claim
            return self._inner.claim(final, payload)

    VersionedTable(path).write_full(daily.repartition(4))
    # the racy handle is created AFTER the seed so the injected append
    # lands exactly at the DELETE's claim instant
    victim = VersionedTable(path, claim_backend=RaceOnce())
    v = victim.delete_where(spark, "cust_id % 5 = 0")
    if v != 2 or victim.versions() != [0, 1, 2]:
        raise AssertionError(
            f"raced delete did not rebase: head {v}, chain "
            f"{victim.versions()}"
        )
    return victim.read(spark).select(
        "cust_id",
        F.col("dt").cast("date").alias("dt"),
        "revenue",
        F.col("order_count").cast("bigint").alias("order_count"),
    )


STREAM_MERGE_ORACLE = """
    SELECT CAST(ts AS DATE) AS dt,
           user_id AS cust_id,
           CAST(COUNT(*) AS BIGINT) AS sessions,
           CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchases,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
"""


@demo_query("q_stream_merge", oracle=STREAM_MERGE_ORACLE)
def q_stream_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 × S8: Structured Streaming CDC sink on the transaction
    layer. The events feed arrives as THREE file drops (split by
    event_id so every micro-batch really lands); the update-mode daily
    aggregation emits each batch's refreshed key groups, and
    ``foreachBatch`` upserts them copy-on-write — one atomic table
    version per micro-batch, so a reader half-way through the stream
    sees a consistent (if older) fact, never a torn one. After the last
    drop the cumulative update-mode state makes the table equal the
    batch aggregation (the oracle). History length ≥ non-empty-drop
    count is asserted so a silently-fused single batch can't fake the
    pass.

    The drops are CHRONOLOGICAL thirds of the feed's date span — the
    realistic arrival order, and the one that keeps every row inside
    the 7-day watermark of its own batch (a random split would replay
    old events after the watermark advanced, and update mode would
    correctly drop them — as late data beyond the horizon should be —
    breaking batch parity)."""
    from ..streaming.events_stream import (
        daily_user_metrics_stream,
        read_events_stream,
    )

    work = scratch_dir("spark_graft_streammerge", unique=True)
    drops = os.path.join(work, "drops")
    os.makedirs(drops)
    # an event without a time fits no daily window (``window()`` drops
    # it), so it belongs in no drop; ``otherwise(2)`` below would
    # stage it into the last one
    events = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    # three deterministic chronological drops (fixture staging, same
    # device as the other streaming demos), one file each
    import datetime as _dt

    d_min, d_max = events.agg(
        F.min(F.to_date("ts")), F.max(F.to_date("ts"))
    ).first()
    span = max(0, (d_max - d_min).days)
    cuts = [
        d_min + _dt.timedelta(days=span // 3),
        d_min + _dt.timedelta(days=2 * span // 3),
    ]
    dt_col = F.to_date("ts")
    # ONE partitioned pass stages all three drops (was: per-drop
    # isEmpty probe + coalesce(1) write = 6 actions over the same
    # scan): __drop-hash-partitioned, so each drop lands as exactly one
    # file under __drop=i/, then renamed to the flat batchN.parquet
    # layout. Empty thirds simply produce no directory.
    drop_no = (
        F.when(dt_col < F.lit(cuts[0]), 0)
        .when(dt_col < F.lit(cuts[1]), 1)
        .otherwise(2)
    )
    tmp = os.path.join(drops, "stage")
    events.withColumn("__drop", drop_no).repartition("__drop").write.mode(
        "overwrite"
    ).partitionBy("__drop").parquet(tmp)
    n_drops = 0
    t_base = time.time()
    for i in range(3):
        part_dir = os.path.join(tmp, f"__drop={i}")
        if not os.path.isdir(part_dir):
            continue
        parts = [n for n in os.listdir(part_dir) if n.endswith(".parquet")]
        # hash-partitioning on __drop puts each drop in exactly one task;
        # several part files would silently overwrite one batchN.parquet
        if len(parts) != 1:
            raise RuntimeError(
                f"expected one parquet file under {part_dir}, found "
                f"{len(parts)}: {sorted(parts)}"
            )
        dst = os.path.join(drops, f"batch{i}.parquet")
        shutil.move(os.path.join(part_dir, parts[0]), dst)
        # the file stream replays drops in MTIME order, and the
        # one-pass partitioned write stamps task-completion-order
        # mtimes — stamp strictly increasing chronological mtimes
        # so drop i arrives before drop i+1 (the watermark
        # contract in the docstring above)
        os.utime(dst, (t_base + i, t_base + i))
        n_drops += 1
    shutil.rmtree(tmp)

    vt = VersionedTable(os.path.join(work, "fact"), stats_cols=["dt"])
    agg = daily_user_metrics_stream(read_events_stream(spark, drops))

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # the micro-batch frame re-executes its whole plan (file-source
        # read + RocksDB stateful aggregation) on EVERY action, and it is
        # read twice (the emptiness probe, then merge_upsert's own pin)
        # — persist so the stateful agg runs once per batch (guide
        # §1.2/§5; churn-sized by definition)
        batch_df.persist()
        try:
            if batch_df.isEmpty():
                return
            vt.merge_upsert(
                batch_df.sparkSession, batch_df, keys=["dt", "cust_id"]
            )
        finally:
            batch_df.unpersist()

    query = (
        agg.writeStream.outputMode("update")
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .foreachBatch(merge_batch)
        .start()
    )
    query.processAllAvailable()
    query.stop()

    history = vt.history()
    if len(history) < n_drops:
        raise AssertionError(
            f"expected ≥{n_drops} versioned commits (one per non-empty "
            f"drop), got {history}"
        )
    return vt.read(spark).select(
        F.col("dt").cast("date").alias("dt"),
        "cust_id",
        "sessions",
        "purchases",
        "total_value",
    )


# ---------------------------------------------------------------------------
# The domain DAG on the transaction layer (round 8): ingest → validate →
# transform → WAP-publish → incremental CoW MERGE, end-to-end.
# ---------------------------------------------------------------------------

DOMAIN_FACT_HORIZON = "1996-01-01"  # dbt-style recompute horizon: orders
# span 1992-1998 (split), lead dts sit in 1995 (kept), events in 2024
# (recomputed) — every merge path is exercised


def _write_domain_raw(
    spark: SparkSession, sf_dir: str, raw_dir: str, stale: bool
) -> dict[str, str]:
    """Deterministic raw-zone extracts derived from the testdata tables
    (so the DuckDB oracle can recompute them): ERP orders from
    ``orders`` (``stale=True`` drops every tenth order — the
    late-arriving rows the MERGE later heals), CRM leads from
    ``customer``, web events from ``events``. CSV/JSONL exactly like
    the reference's raw zone."""
    orders = load_table(spark, sf_dir, "orders")
    erp = orders.select(
        F.col("o_orderkey").cast("string").alias("order_id"),
        F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias("customer_id"),
        F.concat(F.lit("store_"), (F.col("o_custkey") % 10).cast("string")).alias(
            "store_id"
        ),
        F.col("o_orderdate").cast("date").cast("string").alias("dt"),
        money("o_totalprice").cast("string").alias("order_value"),
        F.lit("shipped").alias("status"),
    )
    if stale:
        erp = erp.filter(F.col("order_id").cast("bigint") % 10 != 0)
    crm = load_table(spark, sf_dir, "customer").select(
        F.concat(F.lit("L"), F.col("c_custkey").cast("string")).alias("lead_id"),
        F.col("c_name").alias("name"),
        F.concat(
            F.lit("u"), F.col("c_custkey").cast("string"), F.lit("@example.com")
        ).alias("email"),
        F.lit("web").alias("source"),
        F.when(F.col("c_custkey") % 4 == 0, F.lit("converted"))
        .otherwise(F.lit("new"))
        .alias("status"),
        F.concat(F.lit("store_"), (F.col("c_custkey") % 10).cast("string")).alias(
            "store_id"
        ),
        F.date_add(
            F.lit("1995-06-01").cast("date"), (F.col("c_custkey") % 28).cast("int")
        )
        .cast("string")
        .alias("dt"),
    )
    web = load_table(spark, sf_dir, "events").select(
        F.concat(F.lit("E"), F.col("event_id").cast("string")).alias("event_id"),
        F.concat(F.lit("V"), F.col("user_id").cast("string")).alias("visitor_id"),
        F.concat(F.lit("store_"), (F.col("user_id") % 10).cast("string")).alias(
            "store_id"
        ),
        F.col("ts").cast("date").cast("string").alias("dt"),
        F.lit("/home").alias("page"),
        F.col("event_type").alias("event_type"),
        F.expr("CAST(map() AS MAP<STRING,STRING>)").alias("metadata"),
    )
    paths = {
        "erp_orders": os.path.join(raw_dir, "erp_orders"),
        "crm_leads": os.path.join(raw_dir, "crm_leads"),
        "web_events": os.path.join(raw_dir, "web_events"),
    }
    erp.write.mode("overwrite").option("header", True).csv(paths["erp_orders"])
    crm.write.mode("overwrite").option("header", True).csv(paths["crm_leads"])
    web.write.mode("overwrite").json(paths["web_events"])
    return paths


_DOMAIN_FACT_BASE = """
    erp_full AS (
      SELECT 'store_' || CAST(o_custkey % 10 AS VARCHAR) AS store_id,
             CAST(o_orderdate AS DATE) AS dt,
             CAST(o_totalprice AS DECIMAL(12,2)) AS order_value,
             o_orderkey
      FROM orders
    ),
    l AS (
      SELECT 'store_' || CAST(c_custkey % 10 AS VARCHAR) AS store_id,
             DATE '1995-06-01' + CAST(c_custkey % 28 AS INTEGER) AS dt,
             COUNT(*) FILTER (WHERE c_custkey % 4 = 0) AS converted_leads
      FROM customer GROUP BY 1, 2
    ),
    w AS (
      SELECT 'store_' || CAST(user_id % 10 AS VARCHAR) AS store_id,
             CAST(ts AS DATE) AS dt,
             COUNT(*) AS sessions
      FROM events GROUP BY 1, 2
    ),
    lw AS (
      SELECT COALESCE(l.store_id, w.store_id) AS store_id,
             COALESCE(l.dt, w.dt) AS dt,
             l.converted_leads, w.sessions
      FROM l FULL OUTER JOIN w ON l.store_id = w.store_id AND l.dt = w.dt
    )
"""

_DOMAIN_FACT_SELECT = """
      SELECT COALESCE(o.store_id, lw.store_id) AS store_id,
             COALESCE(o.dt, lw.dt) AS dt,
             CAST(COALESCE(o.revenue, 0) AS DOUBLE) AS revenue,
             CAST(COALESCE(o.order_count, 0) AS BIGINT) AS order_count,
             CAST(COALESCE(lw.converted_leads, 0) AS BIGINT) AS converted_leads,
             CAST(COALESCE(lw.sessions, 0) AS BIGINT) AS sessions
      FROM {src} o FULL OUTER JOIN lw
        ON o.store_id = lw.store_id AND o.dt = lw.dt
"""

DOMAIN_FACT_VERSIONED_ORACLE = f"""
    WITH {_DOMAIN_FACT_BASE},
    o_stale AS (
      SELECT store_id, dt, SUM(order_value) AS revenue,
             COUNT(*) AS order_count
      FROM erp_full WHERE o_orderkey % 10 <> 0 GROUP BY 1, 2
    ),
    o_full AS (
      SELECT store_id, dt, SUM(order_value) AS revenue,
             COUNT(*) AS order_count
      FROM erp_full GROUP BY 1, 2
    ),
    fact_stale AS ({_DOMAIN_FACT_SELECT.format(src="o_stale")}),
    fact_full AS ({_DOMAIN_FACT_SELECT.format(src="o_full")})
    SELECT * FROM fact_stale WHERE dt < DATE '{DOMAIN_FACT_HORIZON}'
    UNION ALL
    SELECT * FROM fact_full WHERE dt >= DATE '{DOMAIN_FACT_HORIZON}'
"""


@demo_query("q_domain_fact_versioned", oracle=DOMAIN_FACT_VERSIONED_ORACLE)
def q_domain_fact_versioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's whole per-domain DAG published through the
    transaction layer, end-to-end (reference
    ``airflow/dags/lakehouse_pipelines.py:82-95`` for the
    validate→transform→publish gate; ``dbt/models/marts/
    fct_daily_store_metrics.sql:1-5`` for the incremental MERGE
    contract):

    1. raw extracts (CSV/JSONL) derived from the testdata tables, with
       the ERP feed STALE (every tenth order late);
    2. ``LakehousePipeline(versioned_publish=True)`` runs ingest →
       GE-validate → stage → WAP-publish: each curated domain and the
       fact become VersionedTables, the GE suites ride as CHECK
       constraints, and version 0 of the fact is the stale build;
    3. the late orders land; the pipeline re-stages and MERGEs only the
       recompute horizon (dt >= {DOMAIN_FACT_HORIZON}) into the fact —
       file-granular copy-on-write on (store_id, dt), cost ∝ touched
       files (the dbt ``is_incremental()`` branch on ACID snapshots).

    The oracle is the stale build outside the horizon UNION the
    complete recompute inside it. Guards pin the mechanism: fact
    history must read [wap_overwrite, set_constraint×2, merge]."""
    from ..pipeline import LakehousePipeline, PipelineConfig
    from .domain_fact import build_fct_daily_store_metrics

    work = scratch_dir("spark_graft_domainfact", unique=True)
    curated = os.path.join(work, "curated")
    paths = _write_domain_raw(spark, sf_dir, os.path.join(work, "raw"), stale=True)

    def cfg() -> PipelineConfig:
        return PipelineConfig(
            raw_paths=dict(paths),
            curated_dir=curated,
            versioned_publish=True,
            publish_views=False,
        )

    LakehousePipeline(spark, cfg()).run_all()

    # late data lands: regenerate the complete ERP extract, re-stage,
    # recompute the horizon only, MERGE
    _write_domain_raw(spark, sf_dir, os.path.join(work, "raw"), stale=False)
    pipe2 = LakehousePipeline(spark, cfg())
    for d in ("erp_orders", "crm_leads", "web_events"):
        pipe2.run_domain(d)
    fact_full = build_fct_daily_store_metrics(
        pipe2.staged["erp_orders"],
        pipe2.staged["crm_leads"],
        pipe2.staged["web_events"],
    )
    pipe2.publish_fact(
        fact_full.filter(F.col("dt") >= F.lit(DOMAIN_FACT_HORIZON))
    )

    fvt = VersionedTable(os.path.join(curated, "fct_daily_store_metrics"))
    ops = [h["op"] for h in fvt.history()]
    if ops != ["wap_overwrite", "set_constraint", "set_constraint", "merge"]:
        raise AssertionError(f"unexpected fact history: {ops}")
    merge_meta = fvt.history()[-1]["meta"]
    total = merge_meta.get("total_files", 1)
    # dt-clustered layout ⇒ the horizon merge must carry some file by
    # reference; vacuous when the whole build fit one file (sf0.001)
    if total > 2 and merge_meta.get("touched_files", 0) >= total:
        raise AssertionError(
            f"horizon merge rewrote every file (not incremental): {merge_meta}"
        )
    return fvt.read(spark).select(
        "store_id",
        F.col("dt").cast("date").alias("dt"),
        F.col("revenue").cast("double").alias("revenue"),
        F.col("order_count").cast("bigint").alias("order_count"),
        F.col("converted_leads").cast("bigint").alias("converted_leads"),
        F.col("sessions").cast("bigint").alias("sessions"),
    )


MANIFEST_CHECKPOINT_ORACLE = """
    SELECT CAST(DATE_TRUNC('month', CAST(o_orderdate AS DATE)) AS DATE) AS m,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
    FROM orders GROUP BY 1
"""


@demo_query("q_manifest_checkpoint", oracle=MANIFEST_CHECKPOINT_ORACLE)
def q_manifest_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-encoded manifest log + checkpoint replay under a LONG
    history (the r9 format's guard query): 60+ commits land one month
    of the orders monthly aggregate each, and the query FAILS unless
    the log exhibits Delta's scaling contract end-to-end —

    1. commits claim ACTION DELTAS: bytes per commit ∝ churn, so a
       late delta (v55, one file added) is no bigger than an early one
       (v5) even though the table now references 11x the files, and
       the resolved checkpoint at v60 dwarfs v60's claimed delta;
    2. checkpoints land every ``checkpoint_interval`` commits, and a
       FRESH instance (cold cache — the 100 TB reader) resolves the
       62-commit head in <= interval raw-manifest reads;
    3. the head's CONTENT survives 62 delta applications exactly (the
       DuckDB oracle is the full monthly aggregate).

    Without the delta format this log is O(commits x files) — the one
    metadata-plane scale-killer named by the r8 verdict. The history is
    staged in TWO Spark jobs (v0's write + one range-partitioned write
    of every later month's file), then the 70+ append commits are
    driven at the MANIFEST layer — the plane this query guards — via
    the same ``_commit(retry_append_files=...)`` path ``append`` uses,
    so the log exercises real delta claims without paying a Spark job
    per commit."""
    work = scratch_dir("spark_graft_manifestckpt", unique=True)
    vt = VersionedTable(
        os.path.join(work, "monthly"),
        stats_cols=["m"],
        checkpoint_interval=10,
    )
    monthly = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.trunc(F.col("o_orderdate").cast("date"), "month").alias("m"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(money("o_totalprice")).cast("double").alias("revenue"),
        )
    )
    first_m = monthly.agg(F.min("m")).first()[0]
    vt.write_full(monthly.filter(F.col("m") == F.lit(first_m)).coalesce(1))
    rest = monthly.filter(F.col("m") > F.lit(first_m))
    n_rest = rest.count()
    if n_rest < 61:
        raise AssertionError(f"need 62+ months of orders, got {n_rest + 1}")
    # stage one file per later month in a single job (WAP shape: files
    # on disk are invisible until a manifest references them) ...
    files, stats = vt._write_commit_files(
        rest.repartitionByRange(n_rest, "m"), version_hint=1
    )
    if len(files) < 61:
        raise AssertionError(f"staging produced {len(files)} files")
    # ... then land one append COMMIT per file, pure metadata
    for f in sorted(files):
        cur = vt._manifest()
        head_v = vt._commit(
            "append",
            cur["files"] + [f],
            {**cur["stats"], f: stats[f]},
            cur["schema"],
            retry_append_files=[f],
            read_m=cur,
        )

    for v in (10, 30, 60):
        if not os.path.exists(vt._ckpt_path(v)):
            raise AssertionError(f"missing checkpoint sidecar at v{v}")
    d5 = os.path.getsize(vt._log_path(5))
    d55 = os.path.getsize(vt._log_path(55))
    ck60 = os.path.getsize(vt._ckpt_path(60))
    if d55 > 3 * d5:
        raise AssertionError(
            f"delta bytes grew with history ({d5}B at v5 -> {d55}B at "
            "v55): log is not churn-proportional"
        )
    if ck60 < 5 * d55:
        raise AssertionError(
            f"checkpoint ({ck60}B) not >> delta ({d55}B): deltas are "
            "not actually deltas"
        )

    fresh = VersionedTable(vt.path, checkpoint_interval=10)
    reads = []
    orig_raw = fresh._raw_manifest
    fresh._raw_manifest = lambda v: (reads.append(v), orig_raw(v))[1]
    head = fresh._manifest()
    if head["version"] != head_v or len(reads) > 10:
        raise AssertionError(
            f"head resolution read {len(reads)} raw manifests "
            f"({reads}): checkpoint replay is unbounded"
        )
    return fresh.read(spark).select("m", "n_orders", "revenue")


TABLE_VACUUM_ORACLE = f"""
    WITH {_DAILY_CTE}
    SELECT cust_id, dt, revenue, order_count FROM daily
    WHERE cust_id % 5 <> 0
"""


@demo_query("q_table_vacuum", oracle=TABLE_VACUUM_ORACLE)
def q_table_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM on a mutation history (the gap that let r9's
    vacuum-vs-delta-manifest breakage ship unseen: no registered query
    exercised vacuum). create -> append -> copy-on-write DELETE, then
    ``vacuum(retain_last=1)``; the query FAILS unless

    1. vacuum actually reclaims the delete's dropped files (dry run
       first, and the real pass removes exactly what it reported);
    2. a FRESH instance still reads the retained head — vacuum must
       checkpoint the oldest retained version before unlinking its
       delta ancestry (the r9 judge repro);
    3. time travel and RESTORE below the horizon raise
       ``VacuumedVersionError`` on warm AND fresh instances — never a
       scan-time PATH_NOT_FOUND, never a head referencing deleted
       files.

    The oracle is the post-delete daily fact read through the fresh
    instance."""
    work = scratch_dir("spark_graft_vacuum", unique=True)
    vt = VersionedTable(os.path.join(work, "fact"), stats_cols=["dt"])
    daily = _daily_orders(spark, sf_dir)
    vt.write_full(
        daily.filter(F.col("dt") < F.lit(MERGE_HORIZON)).repartition(4)
    )
    vt.append(
        daily.filter(F.col("dt") >= F.lit(MERGE_HORIZON)).repartition(4)
    )
    vt.delete_where(spark, "cust_id % 5 = 0")

    # single-writer demo: no concurrent readers exist, so the
    # in-flight-reader retention floor is lifted for immediate reclaim
    # (Delta: retentionDurationCheck disabled)
    dry = vt.vacuum(retain_last=1, dry_run=True, retain_recent_s=0.0)
    res = vt.vacuum(retain_last=1, retain_recent_s=0.0)
    if res["removed_data_files"] < 1:
        raise AssertionError(f"vacuum reclaimed nothing: {res}")
    if res["removed_files"] != dry["removed_files"]:
        raise AssertionError("dry run and real vacuum disagree")
    for inst in (vt, VersionedTable(vt.path)):
        try:
            inst.read(spark, version=0)
            raise AssertionError("time travel below horizon did not raise")
        except VacuumedVersionError:
            pass
        try:
            inst.restore(0)
            raise AssertionError("restore below horizon did not raise")
        except VacuumedVersionError:
            pass
    fresh = VersionedTable(vt.path)
    return fresh.read(spark).select(
        "cust_id",
        F.col("dt").cast("date").alias("dt"),
        "revenue",
        F.col("order_count").cast("bigint").alias("order_count"),
    )

VACUUM_CONCURRENT_ORACLE = f"""
    WITH {_DAILY_CTE}
    SELECT cust_id, dt, revenue, order_count FROM daily
    WHERE cust_id % 5 <> 0
    UNION ALL
    SELECT cust_id, dt, revenue * 3 AS revenue, order_count FROM daily
    WHERE cust_id % 7 = 0
"""


@demo_query("q_vacuum_concurrent", oracle=VACUUM_CONCURRENT_ORACLE)
def q_vacuum_concurrent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM racing an in-flight writer (the r10 judge finding):
    commits stage data files BEFORE claiming a version
    (``_write_commit_files`` → ``_commit``), so an unguarded vacuum
    could delete another writer's staged-but-unclaimed files and let
    the claim publish a manifest referencing deleted data. The race is
    reproduced deterministically through the claim-backend seam —
    vacuum fires at the exact instant an APPEND has staged its files
    but not yet claimed — and the query FAILS unless

    1. the staged commit SURVIVES (vacuum reports it as
       ``skipped_inflight_files``: orphans younger than the mtime
       floor are protected — Delta's retention semantics);
    2. the reclaim still HAPPENS mid-race (the dropped version's files
       were provably claimed, so the floor does not delay them);
    3. the raced append then lands and every retained manifest
       resolves to files on disk (content audit, warm AND fresh);
    4. a crashed writer's leftovers ARE reclaimed once past the floor
       (aged orphan planted, then vacuumed).

    The oracle is the post-race table: the %5 cohort deleted, the %7
    cohort re-appended at tripled revenue."""
    from ..plans.versioned import CommitClaimBackend, PosixLinkClaim

    work = scratch_dir("spark_graft_vacuum_occ", unique=True)
    path = os.path.join(work, "fact")
    daily = _daily_orders(spark, sf_dir)

    seed = VersionedTable(path, stats_cols=["dt"])
    seed.write_full(daily.repartition(4))
    seed.delete_where(spark, "cust_id % 5 = 0")  # v1: v0's files now dead

    race: dict = {}

    class VacuumDuringClaim(CommitClaimBackend):
        def __init__(self):
            self._inner = PosixLinkClaim()
            self.fired = False

        def claim(self, final: str, payload: str) -> bool:
            if not self.fired:
                self.fired = True
                race.update(
                    # deterministic race demo: the floor that matters
                    # here is min_file_age_s (staged-commit orphans);
                    # the reader floor is lifted so the seconds-old
                    # dropped version reclaims mid-race
                    VersionedTable(path).vacuum(
                        retain_last=1, retain_recent_s=0.0
                    )
                )
            return self._inner.claim(final, payload)

    victim = VersionedTable(path, claim_backend=VacuumDuringClaim())
    appended = daily.filter(F.col("cust_id") % 7 == 0).withColumn(
        "revenue", F.col("revenue") * 3
    )
    victim.append(appended.repartition(2))
    if race.get("skipped_inflight_files", 0) < 1:
        raise AssertionError(
            f"vacuum did not spare the staged commit: {race}"
        )
    if race["removed_versions"] != 1 or race["removed_data_files"] < 1:
        raise AssertionError(f"mid-race reclaim did not happen: {race}")
    for inst in (victim, VersionedTable(path)):
        # v1 = the delete, v2 = the vacuum's horizon-marker commit
        # (Delta's VACUUM START entry — it serializes vacuum against
        # concurrent RESTOREs), v3 = the raced append, rebased over it
        if inst.versions() != [1, 2, 3]:
            raise AssertionError(f"raced append lost: {inst.versions()}")
        if [inst._manifest(v)["op"] for v in (2, 3)] != ["vacuum", "append"]:
            raise AssertionError(
                f"unexpected ops: {[inst._manifest(v)['op'] for v in (2, 3)]}"
            )
        for v in inst.versions():
            for f in inst._manifest(v)["files"]:
                if not os.path.exists(os.path.join(path, f)):
                    raise AssertionError(
                        f"manifest v{v} references a deleted file: {f}"
                    )
    # crashed-writer cleanup: an aged orphan IS reclaimed
    stale_dir = os.path.join(path, "data", "c00000099-deadc0de")
    os.makedirs(stale_dir)
    stale = os.path.join(stale_dir, "part-00000-crashed.parquet")
    with open(stale, "wb") as fh:
        fh.write(b"crashed writer leftovers")
    old = time.time() - 7200.0
    os.utime(stale, (old, old))
    os.utime(stale_dir, (old, old))
    res = VersionedTable(path).vacuum(retain_last=2, retain_recent_s=0.0)
    if os.path.exists(stale) or res["removed_data_files"] < 1:
        raise AssertionError(f"aged orphan not reclaimed: {res}")
    fresh = VersionedTable(path)
    return fresh.read(spark).select(
        "cust_id",
        F.col("dt").cast("date").alias("dt"),
        "revenue",
        F.col("order_count").cast("bigint").alias("order_count"),
    )


VACUUM_RESTORE_ORACLE = f"""
    WITH {_DAILY_CTE}
    SELECT cust_id, dt, revenue, order_count FROM daily
"""


@demo_query("q_vacuum_restore", oracle=VACUUM_RESTORE_ORACLE)
def q_vacuum_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM racing a RESTORE — the resurrection race the horizon
    marker closes. Deterministically reproduced through the claim seam
    in BOTH orders, and the query FAILS unless

    1. a restore that claims BETWEEN vacuum's version listing and its
       horizon-marker commit KEEPS its files (the marker rebases over
       the restore; the interleaved-commit walk folds the restored file
       references back into the live set — zero data files reclaimed);
    2. after the marker lands, restoring below the published
       ``vacuum_horizon`` raises ``VacuumedVersionError`` on a handle
       whose manifest cache is WARM (the cache must not bypass the
       horizon guard) as well as on a fresh instance;
    3. every retained manifest resolves to files on disk, warm and
       fresh — no head ever references a reclaimed file.

    The oracle is the restored (original) daily fact: the interleaved
    restore wins, so the delete that preceded it is rolled back."""
    work = scratch_dir("spark_graft_vacuum_restore", unique=True)
    path = os.path.join(work, "fact")
    daily = _daily_orders(spark, sf_dir)
    vt = VersionedTable(path, stats_cols=["dt"])
    vt.write_full(daily.repartition(4))          # v0: the good snapshot
    vt.delete_where(spark, "cust_id % 5 = 0")    # v1: the bad delete

    # a second handle restores v0 at the instant vacuum tries to claim
    # its horizon marker — the restore wins the version number and the
    # marker rebases on top of it
    orig_claim = vt._claim_version
    raced = {"fired": False}

    def racing_claim(manifest, parent=None):
        if not raced["fired"] and manifest["op"] == "vacuum":
            raced["fired"] = True
            VersionedTable(path, stats_cols=["dt"]).restore(0)
        return orig_claim(manifest, parent=parent)

    vt._claim_version = racing_claim
    try:
        res = vt.vacuum(retain_last=1, retain_recent_s=0.0)
    finally:
        vt._claim_version = orig_claim
    if not raced["fired"]:
        raise AssertionError("race seam never fired")
    if res["removed_data_files"] != 0:
        raise AssertionError(
            f"vacuum reclaimed files a racing restore resurrected: {res}"
        )

    # second pass, no race: v0/v1 drop for real and the horizon rises
    warm = VersionedTable(path, stats_cols=["dt"])
    warm.read(spark, version=1)  # warm the cache BELOW the horizon
    res2 = vt.vacuum(retain_last=2, retain_recent_s=0.0)
    if res2["removed_data_files"] < 1 or res2["horizon_commit"] is None:
        raise AssertionError(f"second vacuum reclaimed nothing: {res2}")
    for inst in (warm, VersionedTable(path)):
        try:
            inst.restore(1)
            raise AssertionError(
                "restore below the vacuum horizon did not raise"
            )
        except VacuumedVersionError:
            pass
        for v in inst.versions():
            for f in inst._manifest(v)["files"]:
                if not os.path.exists(os.path.join(path, f)):
                    raise AssertionError(
                        f"manifest v{v} references a deleted file: {f}"
                    )
    fresh = VersionedTable(path)
    return fresh.read(spark).select(
        "cust_id",
        F.col("dt").cast("date").alias("dt"),
        "revenue",
        F.col("order_count").cast("bigint").alias("order_count"),
    )


SCAN_BLOOM_ORACLE = """
    SELECT o_orderkey, o_custkey,
           CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS total_usd,
           CAST(o_orderdate AS DATE) AS o_orderdate
    FROM orders
    WHERE o_orderkey = (
      SELECT MAX(o_orderkey) FROM orders
      WHERE o_orderkey <= (
        SELECT (MIN(o_orderkey) + MAX(o_orderkey)) / 2.0 FROM orders))
"""


@demo_query("q_scan_bloom_skipping", oracle=SCAN_BLOOM_ORACLE)
def q_scan_bloom_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file Bloom-sidecar data skipping (Delta's bloom filter
    index shape; ``plans/versioned.py::_write_bloom_sidecars`` /
    ``scan(eq=...)``): the table writes a split-block Bloom per file
    for ``o_orderkey`` at commit (over the just-written, page-cache-hot
    bytes), and a point lookup probes it at PLAN time. The probe key
    is a mid-range order key under a RANDOM layout, so min/max spans
    are non-selective — every file covers nearly the full key range —
    and only the bloom can prune. The query FAILS unless

    1. ``scan(eq=k)`` reads STRICTLY fewer files than min/max-only
       pruning (``scan(lo=k, hi=k)``) — the sidecar must actually cut
       the plan, not just exist;
    2. the pruned scan returns exactly the key's rows (no false
       negatives — the oracle is the plain equality SELECT).

    At 100 TB this is the difference between a point lookup reading
    ~1 file and reading the full partition: min/max skipping only
    helps on clustered keys, the bloom helps on ANY key at ~1.25
    B/row/column of sidecar."""
    work = scratch_dir("spark_graft_bloomscan", unique=True)
    vt = VersionedTable(
        os.path.join(work, "orders"),
        stats_cols=["o_orderkey"],
        bloom_cols=["o_orderkey"],
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        money("o_totalprice").alias("total_usd"),
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
    )
    vt.write_full(orders.repartition(8))  # random layout: spans overlap
    lo, hi = orders.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    probe = (
        orders.where(F.col("o_orderkey") <= (lo + hi) / 2.0)
        .agg(F.max("o_orderkey"))
        .first()[0]
    )
    minmax = vt.scan(spark, "o_orderkey", lo=probe, hi=probe)
    pruned = vt.scan(spark, "o_orderkey", eq=probe)
    n_minmax, n_bloom = len(minmax.inputFiles()), len(pruned.inputFiles())
    if n_minmax >= 2 and not n_bloom < n_minmax:
        raise AssertionError(
            f"bloom sidecar did not prune: {n_bloom} vs min/max {n_minmax}"
        )
    return pruned.select(
        "o_orderkey",
        "o_custkey",
        F.col("total_usd").cast("double").alias("total_usd"),
        "o_orderdate",
    )

COUNT_STATS_ORACLE = f"""
    WITH {_DAILY_CTE}
    SELECT 0 AS version, (SELECT CAST(COUNT(*) AS BIGINT) FROM daily
                          WHERE dt < DATE '{MERGE_HORIZON}') AS n_rows
    UNION ALL
    SELECT 1, (SELECT CAST(COUNT(*) AS BIGINT) FROM daily)
    UNION ALL
    SELECT 2, (SELECT CAST(COUNT(*) AS BIGINT) FROM daily
               WHERE cust_id % 5 <> 0)
    UNION ALL
    SELECT 3, (SELECT CAST(COUNT(*) AS BIGINT) FROM daily
               WHERE cust_id % 5 <> 0 AND cust_id % 3 <> 0)
"""


@demo_query("q_count_stats", oracle=COUNT_STATS_ORACLE)
def q_count_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only COUNT(*) (``plans/versioned.py::row_count``,
    Delta's stats-based count): every commit's manifest carries exact
    per-file row counts and deletion vectors carry exact per-file dead
    counts, so a whole-table count — at ANY version — is answered from
    the manifest alone with ZERO data I/O. The history covers every
    count-affecting commit type: overwrite, append, copy-on-write
    DELETE, and a merge-on-read DELETE whose rows die via deletion
    vector (the count must subtract dv_counts, not just sum file
    stats). The query FAILS unless the counts still answer with the
    DATA DIRECTORY RENAMED AWAY — the zero-I/O proof, per version —
    and the oracle recomputes each version's count from the raw data.
    At 100 TB this is the difference between a free dashboard query
    and a full-table scan."""
    work = scratch_dir("spark_graft_countstats", unique=True)
    vt = VersionedTable(os.path.join(work, "fact"), stats_cols=["dt"])
    daily = _daily_orders(spark, sf_dir)
    vt.write_full(
        daily.filter(F.col("dt") < F.lit(MERGE_HORIZON)).repartition(4)
    )
    vt.append(
        daily.filter(F.col("dt") >= F.lit(MERGE_HORIZON)).repartition(4)
    )
    vt.delete_where(spark, "cust_id % 5 = 0")  # CoW: files rewritten
    vt.delete_where(
        spark, "cust_id % 3 = 0", mode="merge_on_read"
    )  # DV: rows die in place, dv_counts must be subtracted
    counts = {v: vt.row_count(v) for v in vt.versions()}
    # zero-data-I/O proof: hide the data dir; every version still counts
    data = os.path.join(vt.path, "data")
    shutil.move(data, data + ".hidden")
    try:
        fresh = VersionedTable(vt.path)
        for v in fresh.versions():
            if fresh.row_count(v) != counts[v]:
                raise AssertionError(f"count at v{v} changed without data")
    finally:
        shutil.move(data + ".hidden", data)
    return local_rows(
        spark, sorted(counts.items()), "version bigint, n_rows bigint"
    )

STATS_MINMAX_ORACLE = f"""
    WITH {_DAILY_CTE}
    SELECT 0 AS version,
           (SELECT MIN(dt) FROM daily WHERE dt < DATE '{MERGE_HORIZON}') AS min_dt,
           (SELECT MAX(dt) FROM daily WHERE dt < DATE '{MERGE_HORIZON}') AS max_dt,
           (SELECT MIN(cust_id) FROM daily WHERE dt < DATE '{MERGE_HORIZON}') AS min_cust,
           (SELECT MAX(cust_id) FROM daily WHERE dt < DATE '{MERGE_HORIZON}') AS max_cust,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM daily WHERE dt < DATE '{MERGE_HORIZON}') AS n_rows
    UNION ALL
    SELECT 1, (SELECT MIN(dt) FROM daily), (SELECT MAX(dt) FROM daily),
           (SELECT MIN(cust_id) FROM daily), (SELECT MAX(cust_id) FROM daily),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM daily)
    UNION ALL
    SELECT 2,
           (SELECT MIN(dt) FROM daily WHERE cust_id % 5 <> 0),
           (SELECT MAX(dt) FROM daily WHERE cust_id % 5 <> 0),
           (SELECT MIN(cust_id) FROM daily WHERE cust_id % 5 <> 0),
           (SELECT MAX(cust_id) FROM daily WHERE cust_id % 5 <> 0),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM daily WHERE cust_id % 5 <> 0)
"""


@demo_query("q_stats_minmax", oracle=STATS_MINMAX_ORACLE)
def q_stats_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only MIN/MAX (+COUNT) — ``row_count``'s extrema twin
    (``plans/versioned.py::col_min_max``, Delta's stats-based query
    answering): per-file min/max stats are exact aggregates, so the
    whole-table extremum at ANY version is the min/max of per-file
    extrema, read from the manifest with ZERO data I/O. History covers
    overwrite, append, and a copy-on-write DELETE (rewritten files get
    fresh exact stats, so the answer stays exact — no DVs here by
    construction; ``col_min_max`` REFUSES on DV'd versions, proven in
    tests). The query FAILS unless every per-version answer still
    computes with the DATA DIRECTORY RENAMED AWAY; the oracle
    recomputes all three versions from raw data. At 100 TB: a
    dashboard's date-range + row-count header costs zero reads."""
    work = scratch_dir("spark_graft_statsminmax", unique=True)
    vt = VersionedTable(
        os.path.join(work, "fact"), stats_cols=["dt", "cust_id"]
    )
    daily = _daily_orders(spark, sf_dir)
    vt.write_full(
        daily.filter(F.col("dt") < F.lit(MERGE_HORIZON)).repartition(4)
    )
    vt.append(
        daily.filter(F.col("dt") >= F.lit(MERGE_HORIZON)).repartition(4)
    )
    vt.delete_where(spark, "cust_id % 5 = 0")  # CoW: stats stay exact

    def answers(inst: VersionedTable) -> list[tuple]:
        rows = []
        for v in inst.versions():
            lo_dt, hi_dt = inst.col_min_max("dt", v)
            lo_c, hi_c = inst.col_min_max("cust_id", v)
            rows.append((v, lo_dt, hi_dt, lo_c, hi_c, inst.row_count(v)))
        return rows

    got = answers(vt)
    data = os.path.join(vt.path, "data")
    shutil.move(data, data + ".hidden")
    try:
        if answers(VersionedTable(vt.path)) != got:
            raise AssertionError("metadata answers changed without data")
    finally:
        shutil.move(data + ".hidden", data)
    return local_rows(
        spark,
        got,
        "version bigint, min_dt string, max_dt string, "
        "min_cust bigint, max_cust bigint, n_rows bigint",
    ).select(
        "version",
        F.col("min_dt").cast("date").alias("min_dt"),
        F.col("max_dt").cast("date").alias("max_dt"),
        "min_cust",
        "max_cust",
        "n_rows",
    )

SCAN_NULL_ORACLE = f"""
    WITH {_DAILY_CTE}
    SELECT cust_id, dt,
           CASE WHEN cust_id % 7 = 0 THEN NULL ELSE revenue END AS revenue
    FROM daily
    WHERE CASE WHEN cust_id % 7 = 0 THEN NULL ELSE revenue END IS NULL
"""


@demo_query("q_scan_null_skipping", oracle=SCAN_NULL_ORACLE)
def q_scan_null_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-count file skipping (Delta's nullCount stat;
    ``plans/versioned.py::scan(is_null=True)``): every commit records
    per-file null counts for every stats column from the parquet
    footers, and an ``IS NULL`` scan drops every file whose recorded
    null count is zero at PLAN time. The table is range-clustered by
    the null-determining key, so nulls concentrate in a minority of
    files and the guard can FAIL the query unless the pruned plan reads
    STRICTLY fewer files than the table holds — and returns exactly the
    oracle's IS NULL rows. At 100 TB the common 'find the broken rows'
    audit reads the few files that can hold them, not the table."""
    work = scratch_dir("spark_graft_nullscan", unique=True)
    vt = VersionedTable(
        os.path.join(work, "fact"), stats_cols=["revenue"]
    )
    daily = _daily_orders(spark, sf_dir).select(
        "cust_id",
        "dt",
        F.when(F.col("cust_id") % 7 == 0, F.lit(None))
        .otherwise(F.col("revenue"))
        .alias("revenue"),
        (F.col("cust_id") % 7).alias("grp"),
    )
    vt.write_full(
        daily.repartitionByRange(6, "grp").drop("grp")
    )
    n_all = len(vt.read(spark).inputFiles())
    pruned = vt.scan(spark, "revenue", is_null=True)
    n_null = len(pruned.inputFiles())
    if n_all >= 2 and not n_null < n_all:
        raise AssertionError(
            f"null-count stat did not prune: {n_null} of {n_all} files"
        )
    return pruned.select(
        "cust_id", F.col("dt").cast("date").alias("dt"), "revenue"
    )


AUTO_COMPACT_ORACLE = f"""
    WITH {_DAILY_CTE}
    SELECT cust_id, dt, revenue, order_count FROM daily
"""


OPTIMIZE_WHERE_ORACLE = f"""
    WITH {_DAILY_CTE}
    SELECT cust_id, dt, revenue, order_count FROM daily
    UNION ALL
    SELECT cust_id, dt, revenue, order_count FROM daily
    WHERE cust_id % 11 = 1 AND dt < DATE '{MERGE_HORIZON}'
    UNION ALL
    SELECT cust_id, dt, revenue, order_count FROM daily
    WHERE cust_id % 11 = 2 AND dt < DATE '{MERGE_HORIZON}'
    UNION ALL
    SELECT cust_id, dt, revenue, order_count FROM daily
    WHERE cust_id % 11 = 3 AND dt >= DATE '{MERGE_HORIZON}'
"""


@demo_query("q_optimize_where", oracle=OPTIMIZE_WHERE_ORACLE)
def q_optimize_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate-scoped compaction — Delta's ``OPTIMIZE ... WHERE`` in
    its stats-plane form: a dt-clustered fact accumulates small files
    in BOTH the hot (early) and cold (late) date ranges;
    ``optimize(where=("dt", lo, hi))`` must bin-pack ONLY the small
    files whose manifest [min, max] dt span could intersect the range.
    The query FAILS unless

    1. the two hot-range small files are packed (gone from the head),
    2. the cold-range small file survives BY NAME (carried by
       reference — scoped maintenance never rewrites cold data),
    3. the full-sized base files survive by name (the size threshold
       composes with the scope), and
    4. content is byte-identical to the union oracle (compaction is
       layout-only) with the scope recorded in the commit meta.

    At 100 TB this is the nightly maintenance shape: compact
    yesterday's streaming trickle without touching years of cold
    files. The SQL surface (``OPTIMIZE t WHERE dt BETWEEN ... AND
    ...``) routes here — tests/test_lakehouse_sql.py drives it."""
    work = scratch_dir("spark_graft_optwhere", unique=True)
    daily = _daily_orders(spark, sf_dir)
    # base quartile files hold ~rows/4 each; the appended slices hold
    # ~rows/33 — a target of rows/5 keeps every base file full-sized
    # and every appended slice small, at any SF (structural: rows/33 <
    # rows/5 <= rows/4)
    target = max(10, daily.count() // 5)
    vt = VersionedTable(os.path.join(work, "fact"), stats_cols=["dt"])
    vt.write_full(daily.repartitionByRange(4, "dt"))
    hot1 = daily.filter(
        (F.col("cust_id") % 11 == 1) & (F.col("dt") < F.lit(MERGE_HORIZON))
    )
    hot2 = daily.filter(
        (F.col("cust_id") % 11 == 2) & (F.col("dt") < F.lit(MERGE_HORIZON))
    )
    cold = daily.filter(
        (F.col("cust_id") % 11 == 3) & (F.col("dt") >= F.lit(MERGE_HORIZON))
    )
    for part in (hot1, hot2, cold):
        vt.append(part.coalesce(1))
    before = vt._manifest()
    base_files = set(before["files"][:4])
    hot_files = set(before["files"][4:6])
    cold_file = before["files"][6]

    v = vt.optimize(
        spark,
        target_rows_per_file=target,
        where=("dt", "1992-01-01", "2000-12-31"),
    )
    after = VersionedTable(vt.path)._manifest(v)
    files_after = set(after["files"])
    if after["op"] != "optimize" or after["meta"].get("where") is None:
        raise AssertionError(f"scoped optimize did not land: {after['op']}")
    if hot_files & files_after:
        raise AssertionError("hot-range small files were not packed")
    if cold_file not in files_after:
        raise AssertionError("cold-range small file was rewritten")
    if not base_files <= files_after:
        raise AssertionError("full-sized base files were rewritten")
    fresh = VersionedTable(vt.path)
    return fresh.read(spark).select(
        "cust_id",
        F.col("dt").cast("date").alias("dt"),
        "revenue",
        F.col("order_count").cast("bigint").alias("order_count"),
    )


@demo_query("q_auto_compact", oracle=AUTO_COMPACT_ORACLE)
def q_auto_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """autoCompact under trickle ingestion (Delta's
    ``autoOptimize.autoCompact``; ``plans/versioned.py::
    _maybe_auto_compact``): the daily fact lands as SIX month-sliced
    appends — the streaming-sink file-count degradation shape — with
    ``auto_compact=(4, 50_000)``. Bin-packs trigger from manifest
    stats alone whenever ≥4 live files fall below target/2 rows, each
    landing as its own `optimize` commit. The query FAILS unless (1)
    at least one auto-compaction actually ran, (2) the final live
    file count is BELOW the append count (the trickle would otherwise
    leave ≥7 files), and (3) the content equals the plain full
    aggregate (the oracle) — compaction must be layout-only."""
    work = scratch_dir("spark_graft_autocompact", unique=True)
    daily = _daily_orders(spark, sf_dir)
    # target scales with the data so the trickle files are ALWAYS small
    # relative to it (each slice ≈ rows/6 split over 2 files < target/2
    # = rows/6) — the guard is structural at any scale factor
    target = max(1_000, daily.count() // 3)
    vt = VersionedTable(
        os.path.join(work, "fact"),
        stats_cols=["dt"],
        auto_compact=(4, target),
    )
    months = [r[0] for r in daily.select(
        F.date_trunc("month", "dt").cast("date").alias("m")
    ).distinct().orderBy("m").collect()]
    slices = [months[i::6] for i in range(6)]
    for sl in slices:
        part = daily.filter(
            F.date_trunc("month", "dt").cast("date").isin(sl)
        )
        vt.append(part.coalesce(2))
    hist = vt.history()
    n_auto = sum(
        1 for h in hist if h["op"] == "optimize" and h["meta"].get("auto_compact")
    )
    if n_auto < 1:
        raise AssertionError("no auto-compaction ran")
    n_files = len(vt._manifest()["files"])
    if not n_files < 7:
        raise AssertionError(f"file count not bounded: {n_files}")
    return vt.read(spark).select(
        "cust_id",
        F.col("dt").cast("date").alias("dt"),
        "revenue",
        F.col("order_count").cast("bigint").alias("order_count"),
    )

CONVERT_PARQUET_ORACLE = f"""
    WITH {_DAILY_CTE}
    SELECT cust_id, dt, revenue, order_count FROM daily
    WHERE cust_id % 5 <> 0
"""


@demo_query("q_convert_parquet", oracle=CONVERT_PARQUET_ORACLE)
def q_convert_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONVERT TO the transaction layer (Delta's ``CONVERT TO DELTA``;
    ``plans/versioned.py::convert_from_parquet``): an EXISTING plain-
    parquet dataset becomes version 0 of a VersionedTable without
    copying a byte — the manifest borrows the files by absolute path
    and one stats pass lights up the whole metadata plane. The query
    FAILS unless (1) the converted table's metadata-only COUNT equals
    the source's row count BEFORE any data lands in the table's own
    directory, (2) a copy-on-write DELETE then evolves the table while
    the SOURCE files stay byte-identical (size+mtime audit), and (3)
    the final read equals the oracle. At 100 TB this is the adoption
    path: a data lake gains ACID, time travel, and stats/bloom skipping
    in one metadata commit, not a rewrite."""
    work = scratch_dir("spark_graft_convert", unique=True)
    src = os.path.join(work, "plain_daily")
    daily = _daily_orders(spark, sf_dir)
    daily.repartition(4).write.parquet(src)
    import glob

    before = {
        p: (os.path.getsize(p), os.path.getmtime(p))
        for p in glob.glob(os.path.join(src, "*.parquet"))
    }
    vt = VersionedTable.convert_from_parquet(
        spark, src, os.path.join(work, "fact"), stats_cols=["dt", "cust_id"]
    )
    n_src = daily.count()
    if vt.row_count() != n_src:
        raise AssertionError(
            f"converted metadata count {vt.row_count()} != source {n_src}"
        )
    vt.delete_where(spark, "cust_id % 5 = 0")
    after = {
        p: (os.path.getsize(p), os.path.getmtime(p))
        for p in glob.glob(os.path.join(src, "*.parquet"))
    }
    if before != after:
        raise AssertionError("convert/delete mutated the source files")
    if [h["op"] for h in vt.history()] != ["convert", "delete"]:
        raise AssertionError(f"unexpected history: {vt.history()}")
    return vt.read(spark).select(
        "cust_id",
        F.col("dt").cast("date").alias("dt"),
        "revenue",
        F.col("order_count").cast("bigint").alias("order_count"),
    )


#: (sf_dir → (fact_path, v0)) and (sf_dir → (fact, dim, fv0, dv0)):
#: per-PROCESS memo of the MV family's shared committed fixtures.
_MV_FIXTURE_CACHE: dict[str, tuple[str, int]] = {}
_MV_JOIN_FIXTURE_CACHE: dict[str, tuple[str, str, int, int]] = {}


def _mv_fact_fixture(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """ONE committed versioned fact history shared by the single-table
    declarative-MV demos in this process (r11 VERDICT task: the five
    slowest bench extras were each rebuilding this same
    UPDATE+INSERT+DELETE fixture — commit cost dominated the folds
    being measured). Columns are the family superset (o_orderkey,
    cust_id, month, dt, price); the scenario is the canonical one
    every MV oracle encodes: v0 = the %10≠0 cohort, then UPDATE
    (%7 prices double), INSERT (the %10 cohort arrives), DELETE
    (%5 customers). NO materialized change feed: batch REFRESH folds
    ``changes()`` straight off the manifest file diff — materialized
    feeds are a STREAMING-only need, and writing them triples the
    fixture cost (measured r12) — so ``q_materialized_view_stream``
    keeps its own private CDF fixture. Returns ``(table_path, v0)``;
    consumers treat the table as READ-ONLY and declare their view
    ``VERSION AS OF v0`` so the first REFRESH folds the whole shared
    history. Coverage is unchanged: every query still exercises its
    own CREATE / REFRESH / support-fold path — only the base-history
    commits are shared."""
    got = _MV_FIXTURE_CACHE.get(sf_dir)
    if got and os.path.isdir(got[0]):
        return got
    work = scratch_dir("spark_graft_mvfixture", unique=True)
    path = os.path.join(work, "fact")
    vt = VersionedTable(path, stats_cols=["dt"])
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("cust_id"),
        F.trunc(F.col("o_orderdate").cast("date"), "month").alias("month"),
        F.col("o_orderdate").cast("date").alias("dt"),
        money("o_totalprice").alias("price"),
    )
    v0 = vt.write_full(base.filter(F.col("o_orderkey") % 10 != 0))
    vt.update_where(
        spark, "o_orderkey % 7 = 0",
        {"price": "cast(price * 2 as decimal(12,2))"},
    )
    vt.append(base.filter(F.col("o_orderkey") % 10 == 0))
    vt.delete_where(spark, "cust_id % 5 = 0")
    _MV_FIXTURE_CACHE[sf_dir] = (path, v0)
    return path, v0


def _mv_join_fixture(
    spark: SparkSession, sf_dir: str
) -> tuple[str, str, int, int]:
    """The JOIN-view twins' shared two-table history: fact takes a
    MERGE (inserts the %10 cohort, doubles %7 prices) then a DELETE
    (%5 customers); dim takes an UPDATE that MOVES every %3 customer's
    nation. Returns ``(fact_path, dim_path, fact_v0, dim_v0)``; same
    read-only AS-OF contract as ``_mv_fact_fixture``."""
    got = _MV_JOIN_FIXTURE_CACHE.get(sf_dir)
    if got and os.path.isdir(got[0]) and os.path.isdir(got[1]):
        return got
    work = scratch_dir("spark_graft_mvjoinfix", unique=True)
    fpath = os.path.join(work, "fact")
    dpath = os.path.join(work, "dim")
    fact = VersionedTable(fpath, stats_cols=["cust_id"])
    dim = VersionedTable(dpath, stats_cols=["cust_id"])
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("cust_id"),
        money("o_totalprice").alias("price"),
    )
    fv0 = fact.write_full(base.filter(F.col("o_orderkey") % 10 != 0))
    src = base.filter(
        (F.col("o_orderkey") % 10 == 0) | (F.col("o_orderkey") % 7 == 0)
    ).withColumn(
        "price",
        F.when(F.col("o_orderkey") % 7 == 0, F.col("price") * 2)
        .otherwise(F.col("price"))
        .cast("decimal(12,2)"),
    )
    fact.merge_upsert(spark, src, keys=["o_orderkey"])
    fact.delete_where(spark, "cust_id % 5 = 0")
    dv0 = dim.write_full(
        load_table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("cust_id"),
            F.col("c_nationkey").cast("int").alias("nation"),
        )
    )
    dim.update_where(
        spark, "cust_id % 3 = 0", {"nation": "cast((nation + 1) % 25 as int)"}
    )
    _MV_JOIN_FIXTURE_CACHE[sf_dir] = (fpath, dpath, fv0, dv0)
    return fpath, dpath, fv0, dv0


MATERIALIZED_VIEW_ORACLE = """
    WITH fact AS (
      SELECT CAST(o_orderdate AS DATE) AS dt,
             CAST(CASE WHEN o_orderkey % 7 = 0 AND o_orderkey % 10 <> 0
                  THEN CAST(o_totalprice AS DECIMAL(12,2)) * 2
                  ELSE CAST(o_totalprice AS DECIMAL(12,2)) END
                  AS DECIMAL(12,2)) AS price
      FROM orders WHERE o_custkey % 5 <> 0
    )
    SELECT dt,
           CAST(SUM(price) AS DOUBLE) AS revenue,
           CAST(MIN(price) AS DOUBLE) AS lo,
           CAST(MAX(price) AS DOUBLE) AS hi,
           -- the engine publishes AVG as ONE double division of the
           -- exact decimal sum by the non-null count; mirror it
           CAST(SUM(price) AS DOUBLE) / COUNT(price) AS avg_price,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM fact GROUP BY dt
"""


@demo_query("q_materialized_view", oracle=MATERIALIZED_VIEW_ORACLE)
def q_materialized_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative materialized view end-to-end through the SQL layer
    (``plans/matview.py``): CREATE MATERIALIZED VIEW declares a per-day
    revenue aggregate over the versioned fact; the fact then takes an
    UPDATE (%7 prices double), an INSERT (the withheld %10 cohort
    arrives), and a DELETE (%5 customers) — three commits — and ONE
    ``REFRESH MATERIALIZED VIEW`` folds the multi-commit net change
    feed into the stored MV via merge_apply (only touched groups
    rewrite; retired groups delete). MIN/MAX columns ride the same
    refresh with the bounded rescan-on-retraction doctrine — the
    UPDATE retracts old prices (some of them day-extrema) and the
    DELETE retracts whole cohorts, so triggered groups recompute from
    the base while untriggered ones fold join-free. The guards assert
    the refresh was
    INCREMENTAL (not a rebuild), that a second refresh is a watermark
    no-op, and that the refreshed MV is read back through plain SQL.
    Oracle = full recompute of the final state — the Databricks/pg_ivm
    contract that REFRESH is indistinguishable from recomputation.
    The base history is the family's SHARED read-only fixture
    (``_mv_fact_fixture``); the view is declared ``VERSION AS OF`` its
    pre-mutation version, so the refresh folds the identical
    UPDATE+INSERT+DELETE churn without this query paying the commit
    fixtures again (r11 VERDICT task 7)."""
    from ..plans.lakehouse_sql import LakehouseSession

    work = scratch_dir("spark_graft_matview", unique=True)
    fact_path, v0 = _mv_fact_fixture(spark, sf_dir)
    lh = LakehouseSession(spark)
    lh.register("fact", VersionedTable(fact_path))
    lh.create("daily_rev", os.path.join(work, "mv"))
    lh.sql(
        "CREATE MATERIALIZED VIEW daily_rev AS "
        "SELECT dt, SUM(price) AS revenue, MIN(price) AS lo, "
        "MAX(price) AS hi, AVG(price) AS avg_price, COUNT(*) AS n_orders "
        f"FROM fact VERSION AS OF {v0} GROUP BY dt"
    )

    _refresh_twice(lh, "daily_rev")
    return lh.sql(
        "SELECT dt, CAST(revenue AS DOUBLE) AS revenue, "
        "CAST(lo AS DOUBLE) AS lo, CAST(hi AS DOUBLE) AS hi, "
        "avg_price, n_orders FROM daily_rev"
    )


MATERIALIZED_VIEW_DISTINCT_ORACLE = """
    WITH fact AS (
      SELECT CAST(o_orderdate AS DATE) AS dt, o_custkey AS cust_id,
             CAST(CASE WHEN o_orderkey % 7 = 0 AND o_orderkey % 10 <> 0
                  THEN CAST(o_totalprice AS DECIMAL(12,2)) * 2
                  ELSE CAST(o_totalprice AS DECIMAL(12,2)) END
                  AS DECIMAL(12,2)) AS price
      FROM orders WHERE o_custkey % 5 <> 0
    )
    SELECT dt,
           CAST(COUNT(DISTINCT cust_id) AS BIGINT) AS n_custs,
           CAST(SUM(price) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM fact GROUP BY dt
"""


@demo_query(
    "q_materialized_view_distinct", oracle=MATERIALIZED_VIEW_DISTINCT_ORACLE
)
def q_materialized_view_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) in a DECLARATIVE materialized view
    (``plans/matview.py`` + the SQL front end): the distinct count is
    not self-maintainable from (group, count) alone, so the engine
    keeps a hidden SUPPORT table per distinct column (pg_ivm's
    construction — one row per (group, value) with its multiplicity,
    at ``<mv>/_support/<alias>``), maintained by the same signed fold
    as any SUM MV with the value promoted into the grouping key;
    REFRESH then recounts surviving support rows for ONLY the touched
    groups. The scenario hits exactly the traps: the UPDATE doubles %7
    prices — measure moves, (dt, cust) pair doesn't, so every
    update_preimage/postimage pair must CANCEL in the support fold and
    leave the distinct counts untouched — and the DELETE removes
    customers with MANY orders on the same day, where naive
    count-down-per-delete over-decrements. One REFRESH folds all three
    commits; the guards assert it was incremental and that a second
    refresh is a watermark no-op. Oracle = full COUNT(DISTINCT)
    recompute of the final state (the pg_ivm/Databricks contract that
    REFRESH is indistinguishable from recomputation). Base history =
    the family's shared read-only fixture, view declared VERSION AS OF
    its pre-mutation version (``_mv_fact_fixture``)."""
    from ..plans.lakehouse_sql import LakehouseSession

    work = scratch_dir("spark_graft_matview_distinct", unique=True)
    fact_path, v0 = _mv_fact_fixture(spark, sf_dir)
    lh = LakehouseSession(spark)
    lh.register("fact", VersionedTable(fact_path))
    lh.create("daily_custs", os.path.join(work, "mv"))
    lh.sql(
        "CREATE MATERIALIZED VIEW daily_custs AS "
        "SELECT dt, COUNT(DISTINCT cust_id) AS n_custs, "
        "SUM(price) AS revenue, COUNT(*) AS n_orders "
        f"FROM fact VERSION AS OF {v0} GROUP BY dt"
    )

    _refresh_twice(lh, "daily_custs")
    return lh.sql(
        "SELECT dt, n_custs, CAST(revenue AS DOUBLE) AS revenue, "
        "n_orders FROM daily_custs"
    )


MATERIALIZED_VIEW_WHERE_ORACLE = """
    WITH fact AS (
      SELECT CAST(o_orderdate AS DATE) AS dt,
             CAST(CASE WHEN o_orderkey % 7 = 0 AND o_orderkey % 10 <> 0
                  THEN CAST(o_totalprice AS DECIMAL(12,2)) * 2
                  ELSE CAST(o_totalprice AS DECIMAL(12,2)) END
                  AS DECIMAL(12,2)) AS price
      FROM orders WHERE o_custkey % 5 <> 0
    )
    SELECT dt,
           CAST(SUM(price) AS DOUBLE) AS revenue,
           CAST(MIN(price) AS DOUBLE) AS lo,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM fact WHERE FLOOR(price) % 4 < 2 GROUP BY dt
"""


@demo_query(
    "q_materialized_view_where", oracle=MATERIALIZED_VIEW_WHERE_ORACLE
)
def q_materialized_view_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View-level WHERE in a declarative materialized view — the
    reference's staging-then-aggregate composition
    (``dbt/models/staging/stg_erp_orders.sql:3-9`` filtering before
    ``dbt/models/marts/fct_daily_store_metrics.sql:8-13`` aggregates)
    as ONE maintained artifact: ``CREATE MATERIALIZED VIEW … AS SELECT
    dt, SUM(price), MIN(price), COUNT(*) FROM fact WHERE p GROUP BY
    dt``. Selection is linear in the signed-fold algebra (Δσ_p(R) =
    σ_p(ΔR)), so every maintenance frame — the multi-commit CDF net,
    the MIN retraction rescan slice — just filters by ``p`` first
    (``plans/matview.py::_with_where``). The predicate ``floor(price)
    % 4 < 2`` is chosen so the fixture's %7 price-doubling UPDATE
    moves rows across the boundary in BOTH directions (residues 1→2
    leave, 2→0 enter), the INSERT lands a mixed cohort, and the DELETE
    retracts filtered groups — then ONE incremental REFRESH must equal
    the filtered recompute (oracle). Guards: refresh is INCREMENTAL,
    second refresh is a watermark no-op. Shared read-only base history
    (``_mv_fact_fixture``), view declared VERSION AS OF v0."""
    from ..plans.lakehouse_sql import LakehouseSession

    work = scratch_dir("spark_graft_matview_where", unique=True)
    fact_path, v0 = _mv_fact_fixture(spark, sf_dir)
    lh = LakehouseSession(spark)
    lh.register("fact", VersionedTable(fact_path))
    lh.create("cheap_rev", os.path.join(work, "mv"))
    lh.sql(
        "CREATE MATERIALIZED VIEW cheap_rev AS "
        "SELECT dt, SUM(price) AS revenue, MIN(price) AS lo, "
        "COUNT(*) AS n_orders "
        f"FROM fact VERSION AS OF {v0} "
        "WHERE floor(price) % 4 < 2 GROUP BY dt"
    )
    _refresh_twice(lh, "cheap_rev")
    return lh.sql(
        "SELECT dt, CAST(revenue AS DOUBLE) AS revenue, "
        "CAST(lo AS DOUBLE) AS lo, n_orders FROM cheap_rev"
    )


COPY_INTO_ORACLE = """
    SELECT o_orderkey, o_custkey AS cust_id,
           CAST(o_orderdate AS DATE) AS dt,
           CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
    FROM orders
"""


@demo_query("q_copy_into", oracle=COPY_INTO_ORACLE)
def q_copy_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent file ingestion (``plans/ingest.py`` — Delta's COPY
    INTO): orders land in three parquet waves; the first COPY INTO
    loads wave 1, an immediate re-run loads NOTHING (files_loaded=0,
    no commit — the guard), waves 2+3 arrive and one more COPY INTO
    loads exactly those, and a FRESH session's final re-run is again a
    no-op — the loaded-file ledger rides the commit meta, so
    exactly-once holds across processes with no driver state. Oracle =
    all orders: however many times the command ran, every source row
    is in the table exactly once."""
    from ..plans.lakehouse_sql import LakehouseSession

    work = scratch_dir("spark_graft_copyinto", unique=True)
    src = os.path.join(work, "landing")
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("cust_id"),
        F.col("o_orderdate").cast("date").alias("dt"),
        money("o_totalprice").alias("price"),
    )
    for wave in range(3):
        base.filter(F.col("o_orderkey") % 3 == wave).write.mode(
            "overwrite"
        ).parquet(os.path.join(src, f"wave{wave}"))
        if wave == 0:
            lh = LakehouseSession(spark)
            lh.create("fact", os.path.join(work, "fact"))
            r1 = lh.sql(
                f"COPY INTO fact FROM '{src}' PATTERN = 'wave*/*.parquet'"
            ).first()
            if r1["files_loaded"] < 1:
                raise AssertionError(f"first copy loaded nothing: {r1}")
            r2 = lh.sql(
                f"COPY INTO fact FROM '{src}' PATTERN = 'wave*/*.parquet'"
            ).first()
            if r2["files_loaded"] != 0 or r2["version"] != r1["version"]:
                raise AssertionError(f"re-run not idempotent: {r2}")
    r3 = lh.sql(
        f"COPY INTO fact FROM '{src}' PATTERN = 'wave*/*.parquet'"
    ).first()
    if r3["files_loaded"] < 1 or r3["rows_loaded"] < 1:
        raise AssertionError(f"waves 2+3 not loaded: {r3}")
    fresh = LakehouseSession(spark)
    fresh.create("fact", os.path.join(work, "fact"))
    r4 = fresh.sql(
        f"COPY INTO fact FROM '{src}' PATTERN = 'wave*/*.parquet'"
    ).first()
    if r4["files_loaded"] != 0 or r4["version"] != r3["version"]:
        raise AssertionError(f"fresh-handle re-run not idempotent: {r4}")
    return fresh.sql("SELECT * FROM fact").select(
        "o_orderkey",
        "cust_id",
        F.col("dt").cast("date").alias("dt"),
        F.col("price").cast("double").alias("price"),
    )


from .incremental import INCREMENTAL_MV_JOIN_ORACLE, _refresh_twice  # noqa: E402


@demo_query(
    "q_materialized_view_join",
    oracle=INCREMENTAL_MV_JOIN_ORACLE,
)
def q_materialized_view_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-view materialized view through the SQL surface: the MV
    aggregates ``fact JOIN dim USING (cust_id)`` per nation; then the
    fact takes a MERGE (inserts the %10 cohort, doubles %7 prices) and
    a DELETE (%5 customers) while the dim takes an UPDATE that MOVES
    every %3 customer's nation — and ONE ``REFRESH MATERIALIZED VIEW``
    advances BOTH watermarks by building the join's own change feed
    with the bilinear rule (all three delta terms fire, including the
    ΔA⋈ΔB correction for customers deleted AND moved). Guards assert
    the refresh was incremental and idempotent. Oracle (shared with
    q_incremental_mv_join, whose refresh is fact-only) = full recompute
    of the final join. Both base histories come from the JOIN twins' shared
    read-only fixture (``_mv_join_fixture``); the view is declared
    VERSION AS OF each base's pre-mutation version."""
    from ..plans.lakehouse_sql import LakehouseSession

    work = scratch_dir("spark_graft_mvjoin", unique=True)
    fpath, dpath, fv0, dv0 = _mv_join_fixture(spark, sf_dir)
    lh = LakehouseSession(spark)
    lh.register("fact", VersionedTable(fpath))
    lh.register("dim", VersionedTable(dpath))
    lh.create("nation_rev", os.path.join(work, "mv"))
    lh.sql(
        "CREATE MATERIALIZED VIEW nation_rev AS "
        "SELECT nation, SUM(price) AS revenue, COUNT(*) AS n_lines "
        f"FROM fact VERSION AS OF {fv0} "
        f"JOIN dim VERSION AS OF {dv0} USING (cust_id) GROUP BY nation"
    )

    _refresh_twice(lh, "nation_rev")
    return lh.sql(
        "SELECT nation, CAST(revenue AS DOUBLE) AS revenue, n_lines "
        "FROM nation_rev"
    )


MATERIALIZED_VIEW_JOIN_EXPRKEY_ORACLE = """
    WITH fact AS (
      SELECT o_orderkey, o_custkey AS cust_id,
             CAST(CASE WHEN o_orderkey % 7 = 0
                  THEN CAST(o_totalprice AS DECIMAL(12,2)) * 2
                  ELSE CAST(o_totalprice AS DECIMAL(12,2)) END
                  AS DECIMAL(12,2)) AS price
      FROM orders WHERE o_custkey % 5 <> 0
    ),
    dim AS (
      SELECT c_custkey AS cust_id,
             CAST(CASE WHEN c_custkey % 3 = 0 THEN (c_nationkey + 1) % 25
                  ELSE c_nationkey END AS INTEGER) AS nation
      FROM customer
    )
    SELECT CAST(nation % 5 AS INTEGER) AS region,
           CAST(FLOOR(price / 1000) AS BIGINT) AS band,
           CAST(SUM(price) AS DOUBLE) AS revenue,
           CAST(MIN(price) AS DOUBLE) AS lo,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM fact JOIN dim USING (cust_id)
    GROUP BY 1, 2
"""


@demo_query(
    "q_materialized_view_join_exprkey",
    oracle=MATERIALIZED_VIEW_JOIN_EXPRKEY_ORACLE,
)
def q_materialized_view_join_exprkey(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXPRESSION group keys on a JOIN materialized view — the r13
    single-table feature extended per the r13 verdict (task 4): the MV
    groups ``fact ⋈ dim`` by a DIM-side expression (``nation % 5 AS
    region``) and a FACT-side expression (``floor(price / 1000) AS
    band``). Each expression is computable from ONE side's columns, so
    the MIN retraction's join-slice rescan prunes each base by
    MATERIALIZING its own expression and semi-joining the triggered
    aliases (``plans/matview.py::_stamp_side``) — a genuine cross-side
    expression refuses at create instead of degrading the rescan to a
    full join. Churn: the fact MERGE doubles %7 prices (rows move
    between bands AND retract band minima) and deletes %5 customers;
    the dim UPDATE moves %3 customers' nations (rows move between
    regions). ONE REFRESH folds the bilinear delta through the stamped
    keys; guards assert incremental + noop. Oracle = full recompute.
    Shared read-only fixture (``_mv_join_fixture``), views declared
    VERSION AS OF each base's pre-mutation version."""
    from ..plans.lakehouse_sql import LakehouseSession

    work = scratch_dir("spark_graft_mvjoinek", unique=True)
    fpath, dpath, fv0, dv0 = _mv_join_fixture(spark, sf_dir)
    lh = LakehouseSession(spark)
    lh.register("fact", VersionedTable(fpath))
    lh.register("dim", VersionedTable(dpath))
    lh.create("region_band", os.path.join(work, "mv"))
    lh.sql(
        "CREATE MATERIALIZED VIEW region_band AS "
        "SELECT nation % 5 AS region, floor(price / 1000) AS band, "
        "SUM(price) AS revenue, MIN(price) AS lo, COUNT(*) AS n_lines "
        f"FROM fact VERSION AS OF {fv0} "
        f"JOIN dim VERSION AS OF {dv0} USING (cust_id) "
        "GROUP BY nation % 5, floor(price / 1000)"
    )
    _refresh_twice(lh, "region_band")
    return lh.sql(
        "SELECT CAST(region AS INT) AS region, "
        "CAST(band AS BIGINT) AS band, "
        "CAST(revenue AS DOUBLE) AS revenue, "
        "CAST(lo AS DOUBLE) AS lo, n_lines FROM region_band"
    )


MATERIALIZED_VIEW_JOIN_MINMAX_ORACLE = """
    WITH fact AS (
      SELECT o_orderkey, o_custkey AS cust_id,
             CAST(CASE WHEN o_orderkey % 7 = 0
                  THEN CAST(o_totalprice AS DECIMAL(12,2)) * 2
                  ELSE CAST(o_totalprice AS DECIMAL(12,2)) END
                  AS DECIMAL(12,2)) AS price
      FROM orders WHERE o_custkey % 5 <> 0
    ),
    dim AS (
      SELECT c_custkey AS cust_id,
             CAST(CASE WHEN c_custkey % 3 = 0 THEN (c_nationkey + 1) % 25
                  ELSE c_nationkey END AS INTEGER) AS nation
      FROM customer
    )
    SELECT nation,
           CAST(SUM(price) AS DOUBLE) AS revenue,
           CAST(MIN(price) AS DOUBLE) AS lo,
           CAST(MAX(price) AS DOUBLE) AS hi,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM fact JOIN dim USING (cust_id)
    GROUP BY nation
"""


@demo_query(
    "q_materialized_view_join_minmax",
    oracle=MATERIALIZED_VIEW_JOIN_MINMAX_ORACLE,
)
def q_materialized_view_join_minmax(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MIN/MAX on a JOIN materialized view — the r11 refusal, now
    implemented with the BOUNDED JOIN-SLICE rescan
    (``plans/matview.py::refresh_materialized_join_view``): inserts
    fold join-free via least/greatest exactly like single-table views;
    a retraction that ties-or-beats a group's maintained extremum
    triggers a rescan of ONLY that group's join slice — the triggered
    group keys semi-prune each base on the keys that side carries
    (here ``nation`` lives on the dim side, so the dim prunes directly
    and the fact prunes through the pruned dim's join keys), never the
    full ``fact ⋈ dim``. The scenario forces all the hard paths: the
    fact MERGE doubles %7 prices (paired retraction+insert, many
    per-nation extrema move), the fact DELETE (%5 customers) retracts
    whole slices, and the dim UPDATE MOVES %3 customers between
    nations — a retraction in the old group and an insert in the new
    one through the bilinear ΔA⋈ΔB correction. Guards assert the
    refresh was incremental and idempotent. Oracle = full recompute of
    the final join with MIN/MAX columns. Base histories = the JOIN
    twins' shared read-only fixture (``_mv_join_fixture``), view
    declared VERSION AS OF each base's pre-mutation version."""
    from ..plans.lakehouse_sql import LakehouseSession

    work = scratch_dir("spark_graft_mvjoin_minmax", unique=True)
    fpath, dpath, fv0, dv0 = _mv_join_fixture(spark, sf_dir)
    lh = LakehouseSession(spark)
    lh.register("fact", VersionedTable(fpath))
    lh.register("dim", VersionedTable(dpath))
    lh.create("nation_rev", os.path.join(work, "mv"))
    lh.sql(
        "CREATE MATERIALIZED VIEW nation_rev AS "
        "SELECT nation, SUM(price) AS revenue, MIN(price) AS lo, "
        "MAX(price) AS hi, COUNT(*) AS n_lines "
        f"FROM fact VERSION AS OF {fv0} "
        f"JOIN dim VERSION AS OF {dv0} USING (cust_id) GROUP BY nation"
    )

    _refresh_twice(lh, "nation_rev")
    return lh.sql(
        "SELECT nation, CAST(revenue AS DOUBLE) AS revenue, "
        "CAST(lo AS DOUBLE) AS lo, CAST(hi AS DOUBLE) AS hi, n_lines "
        "FROM nation_rev"
    )


MATERIALIZED_VIEW_STREAM_ORACLE = """
    WITH fact AS (
      SELECT CAST(o_orderdate AS DATE) AS dt,
             CAST(CASE WHEN o_orderkey % 7 = 0 AND o_orderkey % 10 <> 0
                  THEN CAST(o_totalprice AS DECIMAL(12,2)) * 2
                  ELSE CAST(o_totalprice AS DECIMAL(12,2)) END
                  AS DECIMAL(12,2)) AS price
      FROM orders WHERE o_custkey % 5 <> 0
    )
    SELECT dt,
           CAST(SUM(price) AS DOUBLE) AS revenue,
           CAST(SUM(price) AS DOUBLE) / COUNT(price) AS avg_price,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM fact GROUP BY dt
"""


@demo_query(
    "q_materialized_view_stream", oracle=MATERIALIZED_VIEW_STREAM_ORACLE
)
def q_materialized_view_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTINUOUS refresh of a declarative MV (DLT's continuous mode,
    ``plans/matview.py::stream_refresh_materialized_view``): the same
    UPDATE+INSERT+DELETE scenario as q_materialized_view, but the MV
    advances by DRAINING the base's change-feed stream — every
    micro-batch folds through the same merge path as batch REFRESH,
    and each fold commit advances the version watermark to what it
    folded. Guards assert (1) several micro-batches actually folded
    (maxFilesPerTrigger=1), (2) a SECOND streaming run with a FRESH
    checkpoint — which replays the whole feed — folds NOTHING (the
    watermark filter is the double-fold proof), and (3) a subsequent
    batch REFRESH is a noop (streaming left the watermark at head).
    Oracle = full recompute of the final state. This demo keeps its
    OWN change-feed fixture (not the family's shared plain one):
    streaming is the one consumer that needs materialized feed files,
    and paying their write in the shared fixture taxed every batch
    demo (measured r12)."""
    from ..plans.lakehouse_sql import LakehouseSession
    from ..plans.matview import stream_refresh_materialized_view

    work = scratch_dir("spark_graft_mvstream", unique=True)
    lh = LakehouseSession(spark)
    lh.create(
        "fact", os.path.join(work, "fact"), stats_cols=["dt"],
        change_feed=True,
    )
    lh.create("daily_rev", os.path.join(work, "mv"))

    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("cust_id"),
        F.col("o_orderdate").cast("date").alias("dt"),
        money("o_totalprice").alias("price"),
    )
    base.filter(F.col("o_orderkey") % 10 != 0).createOrReplaceTempView(
        "orders_v0s"
    )
    base.filter(F.col("o_orderkey") % 10 == 0).createOrReplaceTempView(
        "orders_lates"
    )
    lh.sql("CREATE TABLE fact AS SELECT * FROM orders_v0s")
    lh.sql(
        "CREATE MATERIALIZED VIEW daily_rev AS "
        "SELECT dt, SUM(price) AS revenue, AVG(price) AS avg_price, "
        "COUNT(*) AS n_orders FROM fact GROUP BY dt"
    )
    lh.sql("UPDATE fact SET price = price * 2 WHERE o_orderkey % 7 = 0")
    lh.sql("INSERT INTO fact SELECT * FROM orders_lates")
    lh.sql("DELETE FROM fact WHERE cust_id % 5 = 0")

    mv, fact = lh.table("daily_rev"), lh.table("fact")
    n1 = stream_refresh_materialized_view(
        spark, mv, fact, os.path.join(work, "ckpt1"),
        max_files_per_trigger=1,
    )
    if n1 < 2:
        raise AssertionError(f"expected several folded batches, got {n1}")
    # the replay drain folds nothing — one batch over the whole feed
    # proves the watermark filter just as well (per-row, not per-batch)
    n2 = stream_refresh_materialized_view(
        spark, mv, fact, os.path.join(work, "ckpt2"),  # FRESH checkpoint
    )
    if n2 != 0:
        raise AssertionError(f"fresh-checkpoint replay double-folded: {n2}")
    r = lh.sql("REFRESH MATERIALIZED VIEW daily_rev").first()
    if r["mode"] != "noop":
        raise AssertionError(f"batch refresh after streaming not noop: {r}")
    return lh.sql(
        "SELECT dt, CAST(revenue AS DOUBLE) AS revenue, avg_price, "
        "n_orders FROM daily_rev"
    )


MATERIALIZED_VIEW_CASCADE_ORACLE = """
    WITH fact AS (
      SELECT DATE_TRUNC('month', CAST(o_orderdate AS DATE)) AS month,
             CAST(o_orderdate AS DATE) AS dt,
             CAST(CASE WHEN o_orderkey % 7 = 0 AND o_orderkey % 10 <> 0
                  THEN CAST(o_totalprice AS DECIMAL(12,2)) * 2
                  ELSE CAST(o_totalprice AS DECIMAL(12,2)) END
                  AS DECIMAL(12,2)) AS price
      FROM orders WHERE o_custkey % 5 <> 0
    )
    SELECT CAST(month AS DATE) AS month,
           CAST(SUM(price) AS DOUBLE) AS revenue,
           CAST(COUNT(DISTINCT dt) AS BIGINT) AS n_days,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM fact GROUP BY month
"""


@demo_query(
    "q_materialized_view_cascade", oracle=MATERIALIZED_VIEW_CASCADE_ORACLE
)
def q_materialized_view_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASCADING materialized views — MVs compose through the change
    feed with ZERO extra machinery: an MV is itself a versioned table,
    so creating the daily MV with ``change_feed=True`` makes its
    REFRESH commits (merge_apply) materialize their own CDF, and a
    MONTHLY rollup MV declared ON TOP of the daily MV refreshes from
    that feed — the monthly fold reads only the daily MV's churn,
    never the base fact, never the whole daily MV. The base takes the
    usual UPDATE+INSERT+DELETE; one refresh per tier propagates the
    change end-to-end. Guards assert both refreshes were incremental
    and that the DAILY refresh landed before the monthly one read its
    feed (tier ordering is the operator's contract, as in any DAG of
    MVs). Oracle = full recompute of the monthly rollup from the final
    base state. The monthly n_orders comes from SUM(daily n_orders) —
    folds compose — and n_days counts the daily MV's live groups per
    month (COUNT(*) over tier-1 rows ≡ COUNT(DISTINCT dt) over the
    base). SQL-first end-to-end: the tier-1 feed is declared with the
    ``WITH CHANGE FEED`` clause (persisted table property), not a
    Python-side constructor flag — the whole cascade drives through
    ``LakehouseSession.sql`` alone (the Python ``change_feed=True``
    path stays covered by ``tests/test_matview.py``'s cascade test).
    Base history = the family's shared read-only fixture; tier-1 is
    declared VERSION AS OF the pre-mutation version, so its refresh
    folds the shared churn and emits the tier-1 CDF tier-2 folds."""
    from ..plans.lakehouse_sql import LakehouseSession

    work = scratch_dir("spark_graft_mvcascade", unique=True)
    fact_path, v0 = _mv_fact_fixture(spark, sf_dir)
    lh = LakehouseSession(spark)
    lh.register("fact", VersionedTable(fact_path))
    lh.create("daily_rev", os.path.join(work, "mv1"), stats_cols=["dt"])
    lh.create("monthly_rev", os.path.join(work, "mv2"))
    lh.sql(
        "CREATE MATERIALIZED VIEW daily_rev WITH CHANGE FEED AS "
        "SELECT month, dt, SUM(price) AS revenue, COUNT(*) AS n_orders "
        f"FROM fact VERSION AS OF {v0} GROUP BY month, dt"
    )
    lh.sql(
        "CREATE MATERIALIZED VIEW monthly_rev AS "
        "SELECT month, SUM(revenue) AS revenue, "
        "SUM(n_orders) AS n_orders, COUNT(*) AS n_days "
        "FROM daily_rev GROUP BY month"
    )

    r1 = lh.sql("REFRESH MATERIALIZED VIEW daily_rev").first()
    r2 = lh.sql("REFRESH MATERIALIZED VIEW monthly_rev").first()
    if (r1["mode"], r2["mode"]) != ("incremental", "incremental"):
        raise AssertionError(f"cascade not incremental: {r1}, {r2}")
    return lh.sql(
        "SELECT month, CAST(revenue AS DOUBLE) AS revenue, n_days, "
        "n_orders FROM monthly_rev"
    )


MATERIALIZED_VIEW_JOIN_DISTINCT_ORACLE = """
    WITH fact AS (
      SELECT o_orderkey, o_custkey AS cust_id,
             CAST(CASE WHEN o_orderkey % 7 = 0
                  THEN CAST(o_totalprice AS DECIMAL(12,2)) * 2
                  ELSE CAST(o_totalprice AS DECIMAL(12,2)) END
                  AS DECIMAL(12,2)) AS price
      FROM orders WHERE o_custkey % 5 <> 0
    ),
    dim AS (
      SELECT c_custkey AS cust_id,
             CAST(CASE WHEN c_custkey % 3 = 0 THEN (c_nationkey + 1) % 25
                  ELSE c_nationkey END AS INTEGER) AS nation
      FROM customer
    )
    SELECT nation,
           CAST(COUNT(DISTINCT cust_id) AS BIGINT) AS n_custs,
           CAST(SUM(price) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM fact JOIN dim USING (cust_id)
    GROUP BY nation
"""


@demo_query(
    "q_materialized_view_join_distinct",
    oracle=MATERIALIZED_VIEW_JOIN_DISTINCT_ORACLE,
)
def q_materialized_view_join_distinct(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """COUNT(DISTINCT) on a JOIN materialized view — the r12 refusal,
    now implemented (``plans/matview.py``): the join's bilinear signed
    delta is an exact multiset of joined rows, so it feeds the SAME
    per-(group, value) support-table fold as single-table views — the
    support watermark just carries BOTH base versions. The scenario
    forces every trap: the fact MERGE doubles %7 prices (UPDATE pairs
    move a measure but not the (nation, cust) pair — they must CANCEL
    in the support fold), a customer's orders span many fact rows (the
    %5 DELETE retracts whole multi-row slices — naive per-row
    count-down would over-decrement), and the dim UPDATE MOVES %3
    customers between nations (the distinct value must leave the old
    group and arrive in the new one through the ΔA⋈ΔB correction).
    Guards assert the refresh was incremental and idempotent. Oracle =
    full COUNT(DISTINCT) recompute of the final join (the pg_ivm
    contract). Base histories = the JOIN twins' shared read-only
    fixture, view declared VERSION AS OF each base's pre-mutation
    version (``_mv_join_fixture``)."""
    from ..plans.lakehouse_sql import LakehouseSession

    work = scratch_dir("spark_graft_mvjoin_distinct", unique=True)
    fpath, dpath, fv0, dv0 = _mv_join_fixture(spark, sf_dir)
    lh = LakehouseSession(spark)
    lh.register("fact", VersionedTable(fpath))
    lh.register("dim", VersionedTable(dpath))
    lh.create("nation_custs", os.path.join(work, "mv"))
    lh.sql(
        "CREATE MATERIALIZED VIEW nation_custs AS "
        "SELECT nation, COUNT(DISTINCT cust_id) AS n_custs, "
        "SUM(price) AS revenue, COUNT(*) AS n_lines "
        f"FROM fact VERSION AS OF {fv0} "
        f"JOIN dim VERSION AS OF {dv0} USING (cust_id) GROUP BY nation"
    )

    _refresh_twice(lh, "nation_custs")
    return lh.sql(
        "SELECT nation, n_custs, CAST(revenue AS DOUBLE) AS revenue, "
        "n_lines FROM nation_custs"
    )


MATERIALIZED_VIEW_FILTER_ORACLE = """
    WITH fact AS (
      SELECT CAST(o_orderdate AS DATE) AS dt, o_custkey AS cust_id,
             CAST(CASE WHEN o_orderkey % 7 = 0 AND o_orderkey % 10 <> 0
                  THEN CAST(o_totalprice AS DECIMAL(12,2)) * 2
                  ELSE CAST(o_totalprice AS DECIMAL(12,2)) END
                  AS DECIMAL(12,2)) AS price
      FROM orders WHERE o_custkey % 5 <> 0
    )
    SELECT dt,
           CAST(COUNT(*) FILTER (WHERE cust_id % 2 = 0) AS BIGINT)
             AS n_even,
           CAST(SUM(price) FILTER (WHERE cust_id % 2 = 0) AS DOUBLE)
             AS rev_even,
           CAST(MIN(price) FILTER (WHERE cust_id % 2 = 0) AS DOUBLE)
             AS lo_even,
           CAST(COUNT(DISTINCT cust_id) FILTER (WHERE cust_id % 2 = 0)
                AS BIGINT) AS nc_even,
           CAST(SUM(price) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM fact GROUP BY dt
"""


@demo_query(
    "q_materialized_view_filter", oracle=MATERIALIZED_VIEW_FILTER_ORACLE
)
def q_materialized_view_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregates in a declarative MV — the reference's
    converted-leads shape (``fct_daily_store_metrics.sql:13``:
    ``count(*) filter (where status='converted')``) as maintained
    state, on EVERY aggregate kind: ``COUNT(*)``/``SUM``/``MIN``/
    ``COUNT(DISTINCT)`` ``FILTER (WHERE p)`` each desugar in the MV
    grammar to ``AGG(CASE WHEN p THEN e END)`` and ride their existing
    folds EXACTLY — the filtered count is 0 while the group lives
    (CASE emits 0, never NULL), the filtered sum goes NULL when the
    last predicate-true row leaves (the hidden non-null count's
    contract), the filtered MIN rides the rescan machinery (NULLs
    never probe), and the filtered distinct count rides the support
    table (NULL values never counted). The UPDATE/INSERT/DELETE churn
    moves rows in and out of the predicate cohort; one REFRESH folds
    it all. Guards: incremental + idempotent. Oracle = DuckDB's native
    FILTER clause over the final state. Base history = the family's
    shared fixture, view declared VERSION AS OF its pre-mutation
    version."""
    from ..plans.lakehouse_sql import LakehouseSession

    work = scratch_dir("spark_graft_matview_filter", unique=True)
    fact_path, v0 = _mv_fact_fixture(spark, sf_dir)
    lh = LakehouseSession(spark)
    lh.register("fact", VersionedTable(fact_path))
    lh.create("daily_split", os.path.join(work, "mv"))
    lh.sql(
        "CREATE MATERIALIZED VIEW daily_split AS "
        "SELECT dt, COUNT(*) FILTER (WHERE cust_id % 2 = 0) AS n_even, "
        "SUM(price) FILTER (WHERE cust_id % 2 = 0) AS rev_even, "
        "MIN(price) FILTER (WHERE cust_id % 2 = 0) AS lo_even, "
        "COUNT(DISTINCT cust_id) FILTER (WHERE cust_id % 2 = 0) "
        "AS nc_even, "
        "SUM(price) AS revenue, COUNT(*) AS n_orders "
        f"FROM fact VERSION AS OF {v0} GROUP BY dt"
    )

    _refresh_twice(lh, "daily_split")
    return lh.sql(
        "SELECT dt, n_even, CAST(rev_even AS DOUBLE) AS rev_even, "
        "CAST(lo_even AS DOUBLE) AS lo_even, nc_even, "
        "CAST(revenue AS DOUBLE) AS revenue, n_orders FROM daily_split"
    )


MATERIALIZED_VIEW_STREAM_MINMAX_ORACLE = """
    WITH fact AS (
      SELECT CAST(o_orderdate AS DATE) AS dt,
             CAST(CASE WHEN o_orderkey % 7 = 0 AND o_orderkey % 10 <> 0
                  THEN CAST(o_totalprice AS DECIMAL(12,2)) * 2
                  ELSE CAST(o_totalprice AS DECIMAL(12,2)) END
                  AS DECIMAL(12,2)) AS price
      FROM orders WHERE o_custkey % 5 <> 0
    )
    SELECT dt,
           CAST(MIN(price) AS DOUBLE) AS lo,
           CAST(MAX(price) AS DOUBLE) AS hi,
           CAST(SUM(price) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM fact GROUP BY dt
"""


@demo_query(
    "q_materialized_view_stream_minmax",
    oracle=MATERIALIZED_VIEW_STREAM_MINMAX_ORACLE,
)
def q_materialized_view_stream_minmax(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CONTINUOUS refresh of a MIN/MAX materialized view — the r12
    refusal, now implemented
    (``plans/matview.py::_fold_stream_batch``): insert-only
    micro-batches fold join-free (least/greatest); a batch whose
    retraction ties-or-beats a stored extremum falls back to the
    bounded FOLDED-STATE rescan inside foreachBatch — the floor
    snapshot plus the above-floor folded exception feeds, netted at
    row level and semi-pruned to the triggered groups, so an
    out-of-order delivery window never leaks unfolded commits into the
    rescan. The UPDATE retracts old prices (day extrema move) and the
    DELETE retracts whole cohorts, so the drain exercises both the
    fold and rescan paths across micro-batches (maxFilesPerTrigger=2 —
    batched drains per the r13 verdict; one-file-per-batch delivery
    stays covered by q_materialized_view_stream).
    Guards: several batches folded, a fresh-checkpoint replay folds
    NOTHING, and a subsequent batch REFRESH is a noop. Oracle = full
    recompute of the final state. Own CDF fixture (streaming needs
    materialized feed files; the shared batch fixture deliberately
    skips them)."""
    from ..plans.lakehouse_sql import LakehouseSession
    from ..plans.matview import stream_refresh_materialized_view

    work = scratch_dir("spark_graft_mvstream_minmax", unique=True)
    lh = LakehouseSession(spark)
    lh.create(
        "fact", os.path.join(work, "fact"), stats_cols=["dt"],
        change_feed=True,
    )
    lh.create("daily_span", os.path.join(work, "mv"))

    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("cust_id"),
        F.col("o_orderdate").cast("date").alias("dt"),
        money("o_totalprice").alias("price"),
    )
    base.filter(F.col("o_orderkey") % 10 != 0).createOrReplaceTempView(
        "orders_v0mm"
    )
    base.filter(F.col("o_orderkey") % 10 == 0).createOrReplaceTempView(
        "orders_latemm"
    )
    lh.sql("CREATE TABLE fact AS SELECT * FROM orders_v0mm")
    lh.sql(
        "CREATE MATERIALIZED VIEW daily_span AS "
        "SELECT dt, MIN(price) AS lo, MAX(price) AS hi, "
        "SUM(price) AS revenue, COUNT(*) AS n_orders "
        "FROM fact GROUP BY dt"
    )
    lh.sql("UPDATE fact SET price = price * 2 WHERE o_orderkey % 7 = 0")
    lh.sql("INSERT INTO fact SELECT * FROM orders_latemm")
    lh.sql("DELETE FROM fact WHERE cust_id % 5 = 0")

    mv, fact = lh.table("daily_span"), lh.table("fact")
    # maxFilesPerTrigger=2 batches the drain (r13 verdict task 5: the
    # fold already nets whole micro-batches, so fewer bigger batches
    # amortize per-commit drain overhead with fold semantics untouched)
    # while still forcing >1 batch; the adversarial one-file-per-batch
    # delivery stays covered by q_materialized_view_stream and the
    # out-of-order unit tests. The replay drain folds nothing, so it
    # reads the whole feed in ONE batch — the watermark filter proof
    # is per-row, not per-batch.
    n1 = stream_refresh_materialized_view(
        spark, mv, fact, os.path.join(work, "ckpt1"),
        max_files_per_trigger=2,
    )
    if n1 < 2:
        raise AssertionError(f"expected several folded batches, got {n1}")
    n2 = stream_refresh_materialized_view(
        spark, mv, fact, os.path.join(work, "ckpt2"),  # FRESH checkpoint
    )
    if n2 != 0:
        raise AssertionError(f"fresh-checkpoint replay double-folded: {n2}")
    r = lh.sql("REFRESH MATERIALIZED VIEW daily_span").first()
    if r["mode"] != "noop":
        raise AssertionError(f"batch refresh after streaming not noop: {r}")
    return lh.sql(
        "SELECT dt, CAST(lo AS DOUBLE) AS lo, CAST(hi AS DOUBLE) AS hi, "
        "CAST(revenue AS DOUBLE) AS revenue, n_orders FROM daily_span"
    )


MATERIALIZED_VIEW_EXPRKEY_ORACLE = """
    WITH fact AS (
      SELECT CAST(o_orderdate AS DATE) AS dt,
             CAST(CASE WHEN o_orderkey % 7 = 0 AND o_orderkey % 10 <> 0
                  THEN CAST(o_totalprice AS DECIMAL(12,2)) * 2
                  ELSE CAST(o_totalprice AS DECIMAL(12,2)) END
                  AS DECIMAL(12,2)) AS price
      FROM orders WHERE o_custkey % 5 <> 0
    )
    SELECT CAST(date_trunc('month', dt) AS DATE) AS mon,
           CAST(SUM(price) AS DOUBLE) AS revenue,
           CAST(MIN(price) AS DOUBLE) AS lo,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM fact GROUP BY 1
"""


@demo_query(
    "q_materialized_view_exprkey", oracle=MATERIALIZED_VIEW_EXPRKEY_ORACLE
)
def q_materialized_view_exprkey(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXPRESSION group keys in a declarative MV — the canonical
    monthly-rollup shape ``GROUP BY trunc(dt, 'month')``: the key
    expression is stamped into the definition (``key_exprs``) and
    materialized onto every frame the maintenance paths read (the
    initial build, the multi-commit CDF nets, the MIN/MAX
    retraction-rescan slice, the streaming folded-state rows), so the
    stored MV keys on the ALIAS column while the base never carries
    it. The UPDATE/INSERT/DELETE churn crosses month boundaries and
    retracts per-month minima (the MIN column forces the rescan path
    through the expression). Guards: incremental + idempotent; also
    REFRESHes a second view created with the GROUP-BY-alias spelling
    to pin both accepted forms. Oracle = DuckDB date_trunc recompute
    of the final state."""
    from ..plans.lakehouse_sql import LakehouseSession

    work = scratch_dir("spark_graft_mv_exprkey", unique=True)
    fact_path, v0 = _mv_fact_fixture(spark, sf_dir)
    lh = LakehouseSession(spark)
    lh.register("fact", VersionedTable(fact_path))
    lh.create("monthly", os.path.join(work, "mv"))
    lh.sql(
        "CREATE MATERIALIZED VIEW monthly AS "
        "SELECT trunc(dt, 'month') AS mon, SUM(price) AS revenue, "
        "MIN(price) AS lo, COUNT(*) AS n_orders "
        f"FROM fact VERSION AS OF {v0} GROUP BY trunc(dt, 'month')"
    )
    _refresh_twice(lh, "monthly")
    # the GROUP-BY-alias spelling is the same view
    lh.create("monthly2", os.path.join(work, "mv2"))
    lh.sql(
        "CREATE MATERIALIZED VIEW monthly2 AS "
        "SELECT trunc(dt, 'month') AS mon, COUNT(*) AS n_orders "
        "FROM fact GROUP BY mon"
    )
    n1 = lh.sql("SELECT SUM(n_orders) AS s FROM monthly").first()["s"]
    n2 = lh.sql("SELECT SUM(n_orders) AS s FROM monthly2").first()["s"]
    if n1 != n2:
        raise AssertionError(f"alias spelling diverged: {n1} != {n2}")
    return lh.sql(
        "SELECT mon, CAST(revenue AS DOUBLE) AS revenue, "
        "CAST(lo AS DOUBLE) AS lo, n_orders FROM monthly"
    )

"""Incremental materialized-view demos on the declarative engine.

A derived aggregate (the reference's ``fct_daily_store_metrics`` shape —
``dbt/models/marts/fct_daily_store_metrics.sql:3-4`` declares exactly
this "merge the last 7 days, never recompute" contract) is kept current
by folding the base table's change feed into it instead of recomputing
from the base table. Each query here declares its view through
``LakehouseSession.sql`` (``CREATE MATERIALIZED VIEW … FROM t VERSION AS
OF v0``) over a committed base history and advances it with ``REFRESH
MATERIALIZED VIEW`` — or, for ``q_stream_mv``, by draining the change
feed as a stream. The maintenance itself lives in ``plans/matview.py``:
signed SUM/COUNT folds, the bounded MIN/MAX rescan, COUNT(DISTINCT)
support tables and the bilinear JOIN delta.

Every oracle is the full recompute of the final state: incremental
maintenance must be indistinguishable from recomputation. Measures stay
in exact decimal (``functions/money.py`` rationale): decimal addition is
associative, so the fold is bit-identical to the recompute.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.money import money
from ..functions.scratch import scratch_dir
from ..plans.lakehouse_sql import LakehouseSession
from ..plans.matview import stream_refresh_materialized_view
from ..plans.versioned import VersionedTable
from .registry import demo_query

_DECIMAL_REV = "decimal(18,2)"

#: sf_dir → (fact_path, v0): per-process memo of the daily-fact history
#: shared by q_incremental_mv, q_incremental_mv_var and q_stream_mv.
_DAILY_FACT_CACHE: dict[str, tuple[str, int]] = {}


def _daily_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q_versioned_merge order rows, price kept in EXACT decimal
    (not cast to double) so incremental folds are bit-stable — see the
    module docstring."""
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("cust_id"),
        F.col("o_orderdate").cast("date").alias("dt"),
        money("o_totalprice").alias("price"),
    )


def _daily_agg(df: DataFrame) -> DataFrame:
    return df.groupBy("cust_id", "dt").agg(
        F.sum("price").cast(_DECIMAL_REV).alias("revenue"),
        F.count(F.lit(1)).alias("order_count"),
    )


def _daily_fact_fixture(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """The customer-day fact history behind the daily views: v0 is the
    STALE fact (orders with ``o_orderkey % 10 = 0`` missing), then a
    MERGE recomputes every %7 customer from the complete orders with
    doubled revenue, then a DELETE drops the %5 customers — the %10 /
    %7 literals of ``lakehouse._stale_and_upd``; keep in lock-step with
    the oracles. The change feed is materialized because
    ``q_stream_mv`` drains it as a stream.
    Returns ``(table_path, v0)``; consumers treat the table as
    read-only and declare their view ``VERSION AS OF v0``, so the first
    refresh folds both commits."""
    got = _DAILY_FACT_CACHE.get(sf_dir)
    if got and os.path.isdir(got[0]):
        return got
    path = os.path.join(scratch_dir("spark_graft_dailyfact", unique=True), "fact")
    vt = VersionedTable(path, stats_cols=["dt"], change_feed=True)
    orders = _daily_decimal(spark, sf_dir)
    v0 = vt.write_full(
        _daily_agg(orders.filter(F.col("o_orderkey") % 10 != 0)).repartition(4)
    )
    upd = (
        _daily_agg(orders)
        .filter(F.col("cust_id") % 7 == 0)
        .withColumn("revenue", (F.col("revenue") * 2).cast(_DECIMAL_REV))
    )
    vt.merge_upsert(spark, upd, keys=["cust_id", "dt"])
    vt.delete_where(spark, "cust_id % 5 = 0")
    _DAILY_FACT_CACHE[sf_dir] = (path, v0)
    return path, v0


def _mv_session(
    spark: SparkSession, work: str, mv: str, **bases: str
) -> LakehouseSession:
    """A SQL session over the committed ``bases`` (name → table path,
    read-only) with an empty table for the view ``mv`` under ``work``."""
    lh = LakehouseSession(spark)
    for name, path in bases.items():
        lh.register(name, VersionedTable(path))
    lh.create(mv, os.path.join(work, "mv"))
    return lh


def _refresh_twice(lh: LakehouseSession, mv: str) -> None:
    """The first REFRESH must fold the change feed (``incremental``,
    never a rebuild); a second must be a watermark ``noop``."""
    r1 = lh.sql(f"REFRESH MATERIALIZED VIEW {mv}").first()
    if r1["mode"] != "incremental":
        raise AssertionError(f"expected incremental refresh, got {r1}")
    r2 = lh.sql(f"REFRESH MATERIALIZED VIEW {mv}").first()
    if r2["mode"] != "noop" or r2["version"] != r1["version"]:
        raise AssertionError(f"second refresh not a no-op: {r2}")


def _daily_view(
    spark: SparkSession, sf_dir: str, work: str
) -> LakehouseSession:
    """A session whose ``daily_mv`` is declared AS OF version 0 of the
    daily fact: customers, revenue and orders per day."""
    path, v0 = _daily_fact_fixture(spark, sf_dir)
    lh = _mv_session(spark, work, "daily_mv", fact=path)
    lh.sql(
        "CREATE MATERIALIZED VIEW daily_mv AS "
        "SELECT dt, COUNT(*) AS n_custs, SUM(revenue) AS revenue, "
        "SUM(order_count) AS total_orders "
        f"FROM fact VERSION AS OF {v0} GROUP BY dt"
    )
    return lh


INCREMENTAL_MV_ORACLE = """
    WITH stale AS (
      SELECT o_custkey AS cust_id, CAST(o_orderdate AS DATE) AS dt,
             SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS revenue,
             CAST(COUNT(*) AS BIGINT) AS order_count
      FROM orders WHERE o_orderkey % 10 <> 0 GROUP BY 1, 2
    ),
    daily AS (
      SELECT o_custkey AS cust_id, CAST(o_orderdate AS DATE) AS dt,
             SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS revenue,
             CAST(COUNT(*) AS BIGINT) AS order_count
      FROM orders GROUP BY 1, 2
    ),
    upd AS (
      SELECT cust_id, dt, revenue * 2 AS revenue, order_count
      FROM daily WHERE cust_id % 7 = 0
    ),
    v1 AS (
      SELECT cust_id, dt, revenue, order_count
      FROM stale WHERE cust_id % 7 <> 0
      UNION ALL
      SELECT cust_id, dt, revenue, order_count FROM upd
    ),
    v2 AS (SELECT * FROM v1 WHERE cust_id % 5 <> 0)
    SELECT dt, CAST(COUNT(*) AS BIGINT) AS n_custs,
           CAST(SUM(revenue) AS DOUBLE) AS revenue,
           CAST(SUM(order_count) AS BIGINT) AS total_orders
    FROM v2 GROUP BY dt
"""


@demo_query("q_incremental_mv", oracle=INCREMENTAL_MV_ORACLE)
def q_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: a daily-revenue view
    is declared AS OF version 0 of the daily fact, then ONE REFRESH
    folds the MERGE and DELETE commits' change feed into it — the base
    table is never re-aggregated. Guards: the refresh is incremental
    and a second refresh is a no-op."""
    lh = _daily_view(
        spark, sf_dir, scratch_dir("spark_graft_incmv", unique=True)
    )
    _refresh_twice(lh, "daily_mv")
    return lh.sql(
        "SELECT dt, n_custs, CAST(revenue AS DOUBLE) AS revenue, "
        "total_orders FROM daily_mv"
    )


STREAM_MV_ORACLE = INCREMENTAL_MV_ORACLE


@demo_query("q_stream_mv", oracle=STREAM_MV_ORACLE)
def q_stream_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental MV maintenance — q_incremental_mv's
    continuous twin (the Delta Live Tables pattern): the same view over
    the same history advances by draining the fact's materialized
    change feed (``stream_refresh_materialized_view``); every
    micro-batch folds through the batch REFRESH merge path.
    ``max_files_per_trigger=1`` splits the feed per commit; a guard
    asserts at least two micro-batches actually folded, and a batch
    REFRESH afterwards must be a no-op (the drain left the watermark at
    head)."""
    work = scratch_dir("spark_graft_streammv", unique=True)
    lh = _daily_view(spark, sf_dir, work)
    n = stream_refresh_materialized_view(
        spark,
        lh.table("daily_mv"),
        lh.table("fact"),
        os.path.join(work, "ckpt"),
        max_files_per_trigger=1,
    )
    if n < 2:
        raise AssertionError(f"expected several folded micro-batches, got {n}")
    r = lh.sql("REFRESH MATERIALIZED VIEW daily_mv").first()
    if r["mode"] != "noop":
        raise AssertionError(f"batch refresh after streaming not noop: {r}")
    return lh.sql(
        "SELECT dt, n_custs, CAST(revenue AS DOUBLE) AS revenue, "
        "total_orders FROM daily_mv"
    )


_MM_HORIZON = "1997-01-01"  # mutations confined to this dt horizon

INCREMENTAL_MV_MINMAX_ORACLE = f"""
    WITH base AS (
      SELECT o_orderkey, o_custkey AS cust_id,
             CAST(o_orderdate AS DATE) AS dt,
             CAST(o_totalprice AS DECIMAL(12,2)) AS price
      FROM orders
    ),
    v0 AS (SELECT * FROM base WHERE o_orderkey % 10 <> 0),
    upd AS (
      SELECT o_orderkey, cust_id, dt,
             CAST(price * 2 AS DECIMAL(12,2)) AS price
      FROM base
      WHERE o_orderkey % 7 = 0 AND dt >= DATE '{_MM_HORIZON}'
    ),
    v1 AS (
      SELECT * FROM v0
      WHERE NOT (o_orderkey % 7 = 0 AND dt >= DATE '{_MM_HORIZON}')
      UNION ALL SELECT * FROM upd
    ),
    v2 AS (
      SELECT * FROM v1
      WHERE NOT (cust_id % 5 = 0 AND dt >= DATE '{_MM_HORIZON}')
    )
    SELECT dt, CAST(MIN(price) AS DOUBLE) AS min_price,
           CAST(MAX(price) AS DOUBLE) AS max_price,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM v2 GROUP BY dt
"""


@demo_query("q_incremental_mv_minmax", oracle=INCREMENTAL_MV_MINMAX_ORACLE)
def q_incremental_mv_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIN/MAX materialized-view maintenance: a per-day (min, max,
    count) price view over an order-grain fact is declared AS OF
    version 0, then ONE REFRESH folds a MERGE (doubles every %7 order's
    price — retracting the OLD value via its update_preimage) and a
    DELETE (the %5 customer cohort — retracting arbitrary extrema).
    Both mutations are confined to the dt horizon >= ``_MM_HORIZON``
    (the reference's late-data shape), so the bounded rescan-on-
    retraction recomputes only triggered groups inside it; inserts fold
    join-free as least/greatest. Guards: incremental, then no-op."""
    work = scratch_dir("spark_graft_incmv_minmax", unique=True)
    vt = VersionedTable(os.path.join(work, "fact"), stats_cols=["dt"])
    base = _daily_decimal(spark, sf_dir)  # o_orderkey, cust_id, dt, price
    v0 = vt.write_full(
        base.filter(F.col("o_orderkey") % 10 != 0).repartition(4)
    )
    upd = base.filter(
        (F.col("o_orderkey") % 7 == 0)
        & (F.col("dt") >= F.lit(_MM_HORIZON))
    ).withColumn("price", (F.col("price") * 2).cast("decimal(12,2)"))
    vt.merge_upsert(spark, upd, keys=["o_orderkey"])
    vt.delete_where(spark, f"cust_id % 5 = 0 AND dt >= DATE '{_MM_HORIZON}'")
    lh = _mv_session(spark, work, "price_range", fact=vt.path)
    lh.sql(
        "CREATE MATERIALIZED VIEW price_range AS "
        "SELECT dt, MIN(price) AS min_price, MAX(price) AS max_price, "
        f"COUNT(*) AS n_orders FROM fact VERSION AS OF {v0} GROUP BY dt"
    )
    _refresh_twice(lh, "price_range")
    return lh.sql(
        "SELECT dt, CAST(min_price AS DOUBLE) AS min_price, "
        "CAST(max_price AS DOUBLE) AS max_price, n_orders FROM price_range"
    )


INCREMENTAL_MV_VAR_ORACLE = """
    WITH stale AS (
      SELECT o_custkey AS cust_id, CAST(o_orderdate AS DATE) AS dt,
             SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS revenue,
             CAST(COUNT(*) AS BIGINT) AS order_count
      FROM orders WHERE o_orderkey % 10 <> 0 GROUP BY 1, 2
    ),
    daily AS (
      SELECT o_custkey AS cust_id, CAST(o_orderdate AS DATE) AS dt,
             SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS revenue,
             CAST(COUNT(*) AS BIGINT) AS order_count
      FROM orders GROUP BY 1, 2
    ),
    upd AS (
      SELECT cust_id, dt, revenue * 2 AS revenue, order_count
      FROM daily WHERE cust_id % 7 = 0
    ),
    v1 AS (
      SELECT cust_id, dt, revenue, order_count
      FROM stale WHERE cust_id % 7 <> 0
      UNION ALL
      SELECT cust_id, dt, revenue, order_count FROM upd
    ),
    v2 AS (SELECT * FROM v1 WHERE cust_id % 5 <> 0)
    SELECT dt, CAST(COUNT(*) AS BIGINT) AS n_custs,
           CAST(SUM(revenue) AS DOUBLE) AS revenue,
           -- variance numerator n*Σx² − (Σx)² stays EXACT in decimal
           -- (cancellation in double is engine-divergent); publishing
           -- the STDDEV compresses the one remaining decimal→double
           -- conversion ulp far below the 6-dp round
           ROUND(
             SQRT(CAST(
               CAST(CAST(SUM(revenue * revenue) AS DECIMAL(33,4))
                    * CAST(COUNT(*) AS DECIMAL(5,0)) AS DECIMAL(37,4))
               - CAST(CAST(SUM(revenue) AS DECIMAL(19,2))
                      * CAST(SUM(revenue) AS DECIMAL(19,2)) AS DECIMAL(37,4))
             AS DOUBLE)) / COUNT(*),
             6) AS rev_std
    FROM v2 GROUP BY dt
"""


@demo_query("q_incremental_mv_var", oracle=INCREMENTAL_MV_VAR_ORACLE)
def q_incremental_mv_var(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment MV maintenance: per-day revenue VARIANCE kept
    current by the SAME SUM/COUNT fold — the squared measure is just
    another additive column. (n, Σx, Σx²) are each self-maintainable in
    exact decimal, so the folded moments are bit-identical to a
    recompute; the standard deviation is published at READ time from
    an exact decimal numerator. The MIN/MAX contrast: those need
    bounded rescans (q_incremental_mv_minmax); moments never do."""
    path, v0 = _daily_fact_fixture(spark, sf_dir)
    work = scratch_dir("spark_graft_incmv_var", unique=True)
    lh = _mv_session(spark, work, "daily_var", fact=path)
    lh.sql(
        "CREATE MATERIALIZED VIEW daily_var AS "
        "SELECT dt, COUNT(*) AS n_custs, SUM(revenue) AS revenue, "
        "SUM(CAST(revenue * revenue AS DECIMAL(38,4))) AS rev_sq "
        f"FROM fact VERSION AS OF {v0} GROUP BY dt"
    )
    _refresh_twice(lh, "daily_var")
    mv = lh.sql("SELECT dt, n_custs, revenue, rev_sq FROM daily_var")
    # variance numerator n*Σx² − (Σx)² computed EXACTLY in decimal —
    # the double form (Σx² − (Σx)²/n)/n suffers catastrophic
    # cancellation whose last-ulp noise differs across engines; with an
    # exact numerator, the single double division at the end is one
    # correctly-rounded op and hash-matches the oracle bit-for-bit
    s_c = F.col("revenue").cast("decimal(19,2)")
    ss_n = (
        F.col("rev_sq").cast("decimal(33,4)")
        * F.col("n_custs").cast("decimal(5,0)")
    ).cast("decimal(37,4)")
    s2 = (s_c * s_c).cast("decimal(37,4)")
    var_num = (ss_n - s2).cast("double")
    return mv.select(
        F.col("dt").cast("date").alias("dt"),
        F.col("n_custs").cast("bigint").alias("n_custs"),
        F.col("revenue").cast("double").alias("revenue"),
        F.round(
            F.sqrt(var_num) / F.col("n_custs").cast("double"), 6
        ).alias("rev_std"),
    )


INCREMENTAL_MV_JOIN_ORACLE = """
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
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM fact JOIN dim USING (cust_id)
    GROUP BY nation
"""


@demo_query("q_incremental_mv_join", oracle=INCREMENTAL_MV_JOIN_ORACLE)
def q_incremental_mv_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-VIEW materialized-view maintenance: a per-nation revenue
    view over ``fact ⋈ dim`` is declared AS OF the fact's pre-mutation
    version and the dim's head, so ONE REFRESH folds the fact's MERGE
    (inserts the %10 orders, doubles the %7 prices) and DELETE (%5
    customers) through the bilinear join delta with only the ΔA ⋈ B₀
    term live; the join is never recomputed over the full tables. It
    complements ``q_materialized_view_join``, whose refresh changes
    BOTH sides. Shared read-only fixture (``_mv_join_fixture``).
    Guards: incremental, then no-op."""
    from .lakehouse import _mv_join_fixture

    fpath, dpath, fv0, _ = _mv_join_fixture(spark, sf_dir)
    work = scratch_dir("spark_graft_incmv_join", unique=True)
    lh = _mv_session(spark, work, "nation_rev", fact=fpath, dim=dpath)
    dim_head = lh.table("dim").latest_version()
    lh.sql(
        "CREATE MATERIALIZED VIEW nation_rev AS "
        "SELECT nation, SUM(price) AS revenue, COUNT(*) AS n_lines "
        f"FROM fact VERSION AS OF {fv0} "
        f"JOIN dim VERSION AS OF {dim_head} USING (cust_id) GROUP BY nation"
    )
    _refresh_twice(lh, "nation_rev")
    return lh.sql(
        "SELECT nation, CAST(revenue AS DOUBLE) AS revenue, n_lines "
        "FROM nation_rev"
    )


INCREMENTAL_MV_DISTINCT_ORACLE = """
    WITH fact AS (
      SELECT o_custkey AS cust_id, CAST(o_orderdate AS DATE) AS dt
      FROM orders WHERE o_custkey % 5 <> 0
    )
    SELECT dt,
           CAST(COUNT(DISTINCT cust_id) AS BIGINT) AS n_custs,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM fact GROUP BY dt
"""


@demo_query("q_incremental_mv_distinct", oracle=INCREMENTAL_MV_DISTINCT_ORACLE)
def q_incremental_mv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) materialized-view maintenance. A distinct count
    is NOT self-maintainable from (group, count) alone — a delete only
    lowers the count if it removed the group's LAST occurrence of that
    value — so the engine keeps a hidden SUPPORT table per distinct
    column (pg_ivm / Materialize construction: one row per (group,
    value) with its multiplicity, maintained by the same signed fold;
    a support row retiring at multiplicity zero IS the decrement).

    The shared fixture (``_mv_fact_fixture``) is adversarial for
    exactly the non-self-maintainable cases: its UPDATE changes a
    measure but not the (dt, cust) pair — preimage/postimage must
    cancel in the support fold — and its DELETE removes customers with
    MANY orders on the same day, where a naive count-down-per-delete
    over-decrements. n_rows doubles as the plain-count cross-check.
    Guards: incremental, then no-op."""
    from .lakehouse import _mv_fact_fixture

    path, v0 = _mv_fact_fixture(spark, sf_dir)
    work = scratch_dir("spark_graft_incmv_distinct", unique=True)
    lh = _mv_session(spark, work, "daily_custs", fact=path)
    lh.sql(
        "CREATE MATERIALIZED VIEW daily_custs AS "
        "SELECT dt, COUNT(DISTINCT cust_id) AS n_custs, COUNT(*) AS n_rows "
        f"FROM fact VERSION AS OF {v0} GROUP BY dt"
    )
    _refresh_twice(lh, "daily_custs")
    return lh.sql("SELECT dt, n_custs, n_rows FROM daily_custs")

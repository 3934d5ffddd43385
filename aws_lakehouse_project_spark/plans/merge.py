"""Incremental MERGE materialization (S8) without Delta.

The reference's fact is dbt ``materialized='incremental'``,
``incremental_strategy='merge'``, ``unique_key=['store_id','dt']`` with a
7-day recompute horizon (reference
``dbt/models/marts/fct_daily_store_metrics.sql:1-5``, ``:34-36``;
defaults ``dbt/dbt_project.yml:13-14``). Because every fact row is fully
recomputed from the horizon's source rows, MERGE on (key, dt) is
equivalent to replacing the horizon's dt-partitions — which dynamic
partition overwrite does natively and scalably (only touched partitions
rewrite; the table's history stays immutable files).

Two strategies behind one interface:

- ``PartitionOverwriteMergeWriter`` (default): dt-partitioned parquet +
  ``spark.sql.sources.partitionOverwriteMode=dynamic``.
- ``AntiJoinMergeWriter``: generic key-level upsert for un-partitioned
  targets — target rows not matched by key survive, matched keys are
  replaced (last-write-wins). This is the Delta MERGE fallback shape and
  costs a full rewrite; prefer the partition strategy at scale.

Two rules hold for every partitioned write here (Delta Lake, VLDB 2020:
MERGE materializes its source once; writes avoid small files):

- **Pin once.** ``merge_upsert`` and ``merge_apply`` pin their source
  with one eager ``localCheckpoint`` before anything else reads it; the
  emptiness check, the touched-partition list, the key anti-join and the
  union all read the pin. A foreachBatch micro-batch is a stateful
  streaming plan, so every extra read of the raw frame re-ran it. An
  empty source writes nothing and leaves the table as it was.
- **One file per partition value.** Every partitioned write goes through
  ``PartitionOverwriteMergeWriter._write``, which hash-repartitions on
  the partition column first, so each task owns whole partition values
  and each touched ``dt=`` directory gets exactly one file. It uses
  ``repartition`` rather than the ``REBALANCE`` hint: inside
  foreachBatch the micro-batch session runs with AQE off, and Spark
  drops the hint there (``Unrecognized hint: rebalance(dt)``), leaving
  one file per task per partition.

A NULL partition value is a partition like any other (Hive's
``__HIVE_DEFAULT_PARTITION__`` directory): a merge that touches it reads
its rows back. NULL keys never match, as in SQL MERGE.
"""

from __future__ import annotations

import logging
import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

log = logging.getLogger(__name__)


def table_exists(path: str) -> bool:
    """The dbt ``is_incremental()`` branch: does the target exist?"""
    return os.path.exists(path) and any(
        not n.startswith((".", "_")) for n in os.listdir(path)
    )


# Control-plane guard: the touched-partition list is the ONE driver-side
# collect in the merge path that grows with data. It is bounded by design
# (dt-partitioned fact, 7-day horizon → a handful of values), but a
# mis-partitioned 100 TB run — partition_col accidentally a key-like
# column — would collect millions of values and kill the driver with an
# opaque OOM. Cap it and fail loudly with the misconfiguration named.
MAX_TOUCHED_PARTITIONS = 10_000


def collect_touched_partitions(
    df: DataFrame, pcol: str, cap: int | None = None, label: str = "touched"
) -> list:
    """Distinct ``pcol`` values of ``df`` as a driver-side list, failing
    fast (before the full collect) if there are more than ``cap``
    (default: module-level MAX_TOUCHED_PARTITIONS, resolved at call time
    so deployments can raise it deliberately). ``label`` names which set
    is being collected in the log line (touched vs surviving)."""
    if cap is None:
        cap = MAX_TOUCHED_PARTITIONS
    vals = [r[0] for r in df.select(pcol).distinct().limit(cap + 1).collect()]
    if len(vals) > cap:
        raise ValueError(
            f"merge: change feed touches > {cap} distinct '{pcol}' "
            "partitions — partition_col is almost certainly a key-like "
            "column, not a partition column; merging would rewrite the "
            "whole table partition-by-partition and the partition list "
            "itself would exhaust the driver. Fix partition_col or raise "
            "MAX_TOUCHED_PARTITIONS deliberately."
        )
    log.info("merge: %d %s %s partition(s)", len(vals), label, pcol)
    return vals


def _in_partitions(pcol: str, values: Sequence):
    """Predicate selecting the rows whose ``pcol`` is one of ``values``;
    a ``None`` among them selects the NULL partition (``isin`` alone
    never matches NULL)."""
    from pyspark.sql import functions as F

    col = F.col(pcol)
    pred = col.cast("string").isin([str(v) for v in values if v is not None])
    return pred | col.isNull() if None in values else pred


class PartitionOverwriteMergeWriter:
    """MERGE via dynamic partition overwrite on the horizon's partitions.

    ``partition_col`` must cover the unique key's time dimension (dt —
    true by construction for the fact, SURVEY.md §7.3). ``write`` is
    idempotent: re-running the same merge replaces the same partitions
    with the same bytes.
    """

    def __init__(self, path: str, partition_col: str = "dt") -> None:
        self.path = path
        self.partition_col = partition_col

    def _write(self, df: DataFrame, overwrite_mode: str) -> None:
        """The one partitioned write: one file per partition value (all
        rows of a value hash to one task), overwriting in
        ``overwrite_mode`` — a per-write option, NOT session conf, so
        the writer behaves identically on sessions the engine didn't
        configure."""
        (
            df.repartition(self.partition_col)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", overwrite_mode)
            .partitionBy(self.partition_col)
            .parquet(self.path)
        )

    def write_full(self, df: DataFrame) -> None:
        # full refresh = STATIC overwrite (overriding the session's
        # dynamic mode): the whole table is replaced, including stale
        # partitions absent from df and any root-level flat files left
        # by a delete-everything merge (dynamic mode would only clear
        # matching partition dirs, and the leftover flat files would
        # break partition discovery on the next read)
        self._write(df, "static")

    def merge(self, fresh_horizon: DataFrame) -> None:
        """Overwrite exactly the partitions present in ``fresh_horizon``
        (dynamic partition overwrite, set per write).

        Correct ONLY when ``fresh_horizon`` contains every row of every
        partition it touches (full recompute — the dbt fact's case). For
        partial updates (e.g. streaming update-mode emissions, which carry
        only the groups that changed) use ``merge_upsert`` — plain merge
        would drop the unchanged groups of a touched partition.
        """
        self._write(fresh_horizon, "dynamic")

    def merge_upsert(
        self, spark: SparkSession, updates: DataFrame, keys: Sequence[str]
    ) -> None:
        """Key-level MERGE inside touched partitions: rows of touched
        partitions not matched by ``keys`` survive, matched keys are
        replaced, new keys insert. Untouched partitions are never read or
        written — the partition-value list (bounded by the horizon, e.g.
        7 days) prunes the target scan.

        ``updates`` is evaluated once (pinned, see the module docstring);
        an empty ``updates`` writes nothing, so callers need no
        ``isEmpty`` check of their own. Each touched partition, the NULL
        one included, is rewritten as one file."""
        pinned = updates.localCheckpoint(eager=True)
        touched = collect_touched_partitions(pinned, self.partition_col)
        if not touched:
            return
        if not table_exists(self.path):
            self.write_full(pinned)
            return
        existing = self.read(spark).filter(
            _in_partitions(self.partition_col, touched)
        )
        aligned = existing.select(*pinned.columns)
        kept = aligned.join(pinned.select(*keys), list(keys), "left_anti")
        merged = kept.unionByName(pinned)
        # break lineage: the write replaces files the plan reads
        merged = merged.localCheckpoint(eager=True)
        self._write(merged, "dynamic")

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.path)


class AntiJoinMergeWriter:
    """Key-level upsert for un-partitioned targets: kept = target
    LEFT ANTI JOIN updates ON key; result = kept ∪ updates."""

    def __init__(self, path: str, keys: Sequence[str]) -> None:
        self.path = path
        self.keys = list(keys)

    def write_full(self, df: DataFrame) -> None:
        df.write.mode("overwrite").parquet(self.path)

    def merge(self, spark: SparkSession, updates: DataFrame) -> None:
        target = spark.read.parquet(self.path)
        kept = target.join(updates.select(*self.keys), self.keys, "left_anti")
        merged = kept.unionByName(updates)
        # break lineage before overwriting the files the plan reads
        # (same device as merge_upsert; no tmp-directory copy left behind)
        merged = merged.localCheckpoint(eager=True)
        merged.write.mode("overwrite").parquet(self.path)

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.path)


def incremental_merge(
    spark: SparkSession,
    writer: PartitionOverwriteMergeWriter,
    compute_full: "callable",
    compute_horizon: "callable",
) -> None:
    """The dbt incremental flow: full build if the target doesn't exist,
    else recompute the horizon and merge only its partitions."""
    if not table_exists(writer.path):
        writer.write_full(compute_full())
    else:
        writer.merge(compute_horizon())


def merge_apply(
    writer: PartitionOverwriteMergeWriter,
    spark: SparkSession,
    changes: DataFrame,
    keys: Sequence[str],
    op_col: str = "op",
) -> None:
    """Full MERGE semantics from a change feed: rows with ``op='delete'``
    remove their key, ``op='upsert'`` replaces-or-inserts — WHEN MATCHED
    THEN UPDATE/DELETE + WHEN NOT MATCHED THEN INSERT, the Delta
    ``MERGE INTO`` contract the reference's dbt strategy implies but
    never exercises (dbt merge only upserts).

    Same partition discipline as ``merge_upsert``: only partitions
    present in the change feed are read or rewritten; within them one
    anti-join on the full change-key set removes matched AND deleted
    rows, then upserts union back in.

    ``changes`` is evaluated once too (the op check reads the pin) and
    an empty feed writes nothing. Each touched partition is rewritten as
    one file; one left with no rows, the NULL one included, is removed.
    """
    from pyspark.sql import functions as F

    if op_col not in changes.columns:
        raise ValueError(
            f"merge_apply: change feed has no '{op_col}' column "
            f"(columns: {changes.columns})"
        )
    changes = changes.localCheckpoint(eager=True)
    bad_ops = (
        changes.select(op_col)
        .filter(~F.col(op_col).isin("upsert", "delete"))
        .limit(1)
        .collect()
    )
    if bad_ops:
        raise ValueError(
            f"merge_apply: unknown op {bad_ops[0][0]!r} — expected 'upsert' or "
            "'delete' (a silently ignored op would drop changes)"
        )
    pcol = writer.partition_col
    touched = collect_touched_partitions(changes, pcol)
    if not touched:
        return
    upserts = changes.filter(F.col(op_col) == "upsert").drop(op_col)
    if not table_exists(writer.path):
        writer.write_full(upserts)
        return
    existing = writer.read(spark).filter(_in_partitions(pcol, touched))
    aligned = existing.select(*upserts.columns)
    kept = aligned.join(changes.select(*keys).distinct(), list(keys), "left_anti")
    merged = kept.unionByName(upserts).localCheckpoint(eager=True)
    writer._write(merged, "dynamic")
    # dynamic partition overwrite only rewrites partitions PRESENT in the
    # output — a touched partition whose every row was deleted emits no
    # rows and would silently keep its old files. Drop those explicitly
    # (the set is bounded by the change feed's partition list).
    import shutil

    # surviving ⊆ touched partitions, so the same cap bounds this list
    surviving = {
        str(v)
        for v in collect_touched_partitions(merged, pcol, label="surviving")
    }
    for v in touched:
        if str(v) not in surviving:
            # Hive's directory for the NULL partition value
            name = "__HIVE_DEFAULT_PARTITION__" if v is None else v
            shutil.rmtree(os.path.join(writer.path, f"{pcol}={name}"), ignore_errors=True)
    # a merge that deleted EVERY remaining row leaves a directory with no
    # data files — unreadable (parquet cannot infer a schema). Write the
    # (empty, schema-bearing) merged frame flat so the table stays a
    # valid empty table; the next write_full/merge re-partitions it.
    if not any(
        f.endswith(".parquet")
        for _, _, files in os.walk(writer.path)
        for f in files
    ):
        merged.write.mode("overwrite").parquet(writer.path)


def table_diff(
    old: DataFrame, new: DataFrame, keys: Sequence[str], op_col: str = "op"
) -> DataFrame:
    """Change-data-feed generation: diff two table versions into the
    minimal change feed that ``merge_apply`` turns back into ``new`` —
    ``upsert`` rows for keys added or value-changed, ``delete`` rows for
    keys that vanished. Unchanged keys emit nothing.

    One full-outer join on the key columns (both sides shuffle once on
    the same key — co-partitioned); change detection is a null-safe
    comparison of every non-key column, evaluated map-side post-join.
    ``merge_apply(table_diff(old, new)) ≡ new`` is the round-trip
    contract (tested), which is exactly Delta's CDF → MERGE pipeline
    expressed on plain parquet.
    """
    from pyspark.sql import functions as F

    vals = [c for c in new.columns if c not in keys]
    o = old.select(
        *[F.col(k).alias(f"k_{k}") for k in keys],
        *[F.col(c).alias(f"o_{c}") for c in vals],
        F.lit(True).alias("in_old"),
    )
    n = new.select(
        *[F.col(k).alias(f"k_{k}") for k in keys],
        *[F.col(c).alias(f"n_{c}") for c in vals],
        F.lit(True).alias("in_new"),
    )
    joined = o.join(n, [f"k_{k}" for k in keys], "full_outer")
    changed = F.lit(False)
    for c in vals:
        changed = changed | ~F.col(f"o_{c}").eqNullSafe(F.col(f"n_{c}"))
    status = (
        F.when(F.col("in_new").isNull(), F.lit("delete"))
        .when(F.col("in_old").isNull() | changed, F.lit("upsert"))
        .otherwise(F.lit(None))
    )
    out_vals = [
        F.coalesce(F.col(f"n_{c}"), F.col(f"o_{c}")).alias(c) for c in vals
    ]
    return (
        joined.withColumn(op_col, status)
        .filter(F.col(op_col).isNotNull())
        .select(
            *[F.col(f"k_{k}").alias(k) for k in keys],
            *out_vals,
            op_col,
        )
    )


def backfill(
    writer: PartitionOverwriteMergeWriter,
    compute_for_partition: "callable",
    partition_values: Sequence,
) -> int:
    """Backfill orchestration: recompute and merge a list of partition
    values one at a time — the manual `airflow dags backfill` twin for
    the reference's catchup=False DAGs (reference
    ``airflow/dags/lakehouse_pipelines.py:107``: missed intervals are
    NOT auto-rerun, so history repair is an explicit backfill).

    Each partition merges independently and idempotently (dynamic
    per-write overwrite of exactly that partition), so a failed backfill
    resumes by re-running the remaining list — no state to clean. At
    warehouse scale, run slices concurrently from a driver pool; the
    writes land in disjoint partition directories. Returns the number of
    partitions written.
    """
    n = 0
    for v in partition_values:
        writer._write(compute_for_partition(v), "dynamic")
        n += 1
    return n

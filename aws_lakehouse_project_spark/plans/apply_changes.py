"""``APPLY CHANGES INTO`` — DLT's declarative SCD Type-2 statement,
re-derived on the transaction layer.

The reference maintains its dimension-shaped marts by full merge
(``dbt/models/marts/fct_daily_store_metrics.sql:1-5``); Delta Live
Tables' ``APPLY CHANGES INTO dim FROM src KEYS (...) STORED AS SCD
TYPE 2`` is the declarative form warehouses reach for next. This
module provides the statement's engine over two ``VersionedTable``s:
the SOURCE's row-level change feed (``changes`` — churn-proportional)
drives the fold ``scd2_apply_changes`` (the SCD2 kernel, also used
by ``operators/dimensions.py::q_scd2_from_cdf``), and the HISTORY advances via
``merge_apply`` keyed on ``(keys…, start_v)`` so only churned keys'
files rewrite — never the full history.

Contract:

- The history table's layout is ``keys + attrs + [start_v, end_v,
  is_current]`` with half-open ``[start_v, end_v)`` validity in commit
  ORDINALS (a counter of applied data commits — ordinals, not raw
  source versions, so best-effort maintenance commits like autoCompact
  never shift the timeline; same doctrine as ``q_scd2_from_cdf``).
- KEYS are the dimension's primary key: the source must hold at most
  one row per key (DLT's APPLY CHANGES makes the same demand absent a
  SEQUENCE BY). A multi-row key does not corrupt the history — the
  current rows still mirror the source exactly — but the key carries
  several concurrent open rows, so the one-open-interval-per-key
  reading of the timeline no longer applies. ``SEQUENCE BY c`` makes
  the engine enforce the discipline instead (``_sequence_filter``):
  per commit only the highest-``c`` row per key applies, and
  out-of-order (late) changes — additive or delete — are dropped
  rather than regressing the dimension.
- ``SCD TYPE 1`` (``apply_changes_scd1``) keeps only each key's latest
  row — same watermark machinery, no validity columns; deletes remove.
- The applied watermark (source version + next ordinal) rides the
  history table's commit meta (key ``apply_changes``) — a fresh handle
  or another process resumes exactly where the last APPLY stopped, and
  re-running the statement with no new source commits is a no-op.
- First APPLY (empty history): the source's CURRENT snapshot opens as
  ordinal-0 rows (``start_v=0, end_v=NULL, is_current=true``).
- Each subsequent data commit folds separately (one ordinal each):
  churned keys' CURRENT rows close at the ordinal, additive rows open
  new current rows — ``scd2_apply_changes`` on the history slice
  semi-joined to the commit's churned keys, so the fold and the merge
  are both churn-sized. Closed rows are immutable and never re-read.
- Feedless source commits (OPTIMIZE, constraint/bloom DDL, vacuum
  markers) are skipped without consuming an ordinal; a data commit
  whose net churn is empty (e.g. an UPDATE matching zero rows) is
  likewise skipped.

100 TB shape: per APPLY, work ∝ total churn since the watermark — the
changed-key close pass is an equi-join of current rows against a
churn-sized key set (AQE broadcasts it), the open pass is a union of
the churn, and the history commit is file-granular CoW on exactly the
touched keys' files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .versioned import _FEEDLESS_OPS, VersionedTable

_META_KEY = "apply_changes"


def scd2_apply_changes(
    hist: DataFrame,
    delta: DataFrame,
    keys: list[str],
    attrs: list[str],
    version: int,
    start_col: str = "start_v",
    end_col: str = "end_v",
    current_col: str = "is_current",
) -> DataFrame:
    """Fold ONE change-feed delta (``VersionedTable.changes`` output)
    into an SCD Type-2 history table — Delta Live Tables'
    ``APPLY CHANGES ... STORED AS SCD TYPE 2``, re-derived on the CDF:
    every key that appears in the delta has its current row CLOSED at
    ``version`` (``end_col`` set, ``current_col`` dropped), and every
    additive row (``insert`` / ``update_postimage``) OPENS a new
    current row starting there. A pure delete closes without opening;
    a brand-new key opens without closing (no current row exists); a
    delete+insert pair from a multi-commit net diff closes the old
    attribute row and opens the new one — the same motion as a paired
    update. Validity ranges are half-open ``[start_v, end_v)`` in
    commit-version space.

    ``hist`` columns must be exactly ``keys + attrs + [start_col,
    end_col, current_col]``. Keys must be non-null (a dimension's
    primary key); closed history rows are immutable thereafter.

    100 TB shape: the close pass is one equi-join of the history
    against the delta's DISTINCT keys (churn-sized — AQE broadcasts
    it) touching only ``current`` rows' flag columns, and the open
    pass is a union of the churn. Nothing rescans the base table, and
    stored as a versioned table partitioned on the key range the CoW
    rewrite is file-granular."""
    want = keys + attrs + [start_col, end_col, current_col]
    if list(hist.columns) != want:
        raise ValueError(
            f"scd2_apply_changes: history columns {hist.columns} != {want}"
        )
    additive = ("insert", "update_postimage")
    changed = delta.select(*keys).distinct().withColumn("__hit", F.lit(1))
    closing = F.col("__hit").isNotNull() & F.col(current_col)
    closed = (
        hist.join(changed, keys, "left")
        .select(
            *keys,
            *attrs,
            F.col(start_col),
            F.when(closing, F.lit(version).cast("long"))
            .otherwise(F.col(end_col))
            .alias(end_col),
            F.when(closing, F.lit(False))
            .otherwise(F.col(current_col))
            .alias(current_col),
        )
    )
    opened = (
        delta.filter(F.col("_change_type").isin(*additive))
        .select(*keys, *attrs)
        .distinct()
        .select(
            *keys,
            *attrs,
            F.lit(version).cast("long").alias(start_col),
            F.lit(None).cast("long").alias(end_col),
            F.lit(True).alias(current_col),
        )
    )
    return closed.unionByName(opened)


def _watermark(hist: VersionedTable) -> dict | None:
    """Most recent commit meta carrying the applied watermark
    (``VersionedTable.latest_meta`` — maintenance commits on the
    history table carry their own meta and must not brick the
    statement)."""
    return hist.latest_meta(_META_KEY)


def _restore_guard(hist: VersionedTable) -> None:
    """Refuse APPLY CHANGES after a RESTORE of the history/dim table
    itself — the same failure class ``matview._restore_guard`` blocks
    for MVs: RESTORE rolls the ROWS back but the restore commit
    carries no ``apply_changes`` meta, so ``_watermark`` walks past it
    to the PRE-restore watermark and the next APPLY would fold only
    post-watermark source changes onto rolled-back rows, committing a
    silently wrong dimension. One backward meta-only manifest walk —
    if a ``restore`` commit is newer than the newest commit carrying
    the apply watermark, demand a rebuild (drop/re-init) instead."""
    for v in reversed(hist.versions()):
        raw = hist._raw_manifest(v)  # noqa: SLF001
        if raw.get("meta", {}).get(_META_KEY) is not None:
            return
        if raw.get("op") == "restore":
            raise ValueError(
                f"{hist.path}: the APPLY CHANGES target was RESTOREd "
                f"(commit {v}) after its last apply — its rows no "
                "longer match the stored watermark, so applying would "
                "fold source changes onto rolled-back rows. Rebuild "
                "the dimension instead (drop the table and re-run "
                "APPLY CHANGES from scratch)"
            )


def _sequence_filter(
    delta: DataFrame,
    cur: DataFrame,
    keys: list[str],
    attrs: list[str],
    seq_col: str,
) -> DataFrame:
    """DLT's ``SEQUENCE BY`` discipline applied to one commit's change
    feed, returning a SYNTHESIZED feed the ordinary fold consumes:

    - of a key's additive rows, only the highest-``seq_col`` one
      survives (deterministic tiebreak on a hash of the attrs) — a
      multi-row key collapses to its latest version instead of opening
      several concurrent rows;
    - a surviving additive row is DROPPED as late if its sequence does
      not exceed the key's CURRENT row's (out-of-order arrivals never
      regress the dimension; an equal sequence is a replay);
    - a key whose delta is purely deletes closes only if the deleted
      row's sequence is at least the current row's (late deletes
      dropped);
    - a key whose every additive row was dropped as late contributes
      NOTHING — its paired preimage must not close the current row.

    NULL sequence values are REJECTED (DLT's contract): NULL orders
    against nothing, so accepting it would either silently drop the
    change as "late" or regress the ordering discipline — fail loudly
    instead. ``cur`` is left-semi pruned to the feed's keys before its
    ``(keys, seq)`` projection is read, so the per-commit cost is a
    broadcast semi join against a churn-sized key set — never a
    full-dimension shuffle (same shape as the SCD2 close pass).
    """
    from pyspark.sql import Window

    if not delta.where(F.col(seq_col).isNull()).isEmpty():
        raise ValueError(
            f"APPLY CHANGES: NULL value in SEQUENCE BY column "
            f"{seq_col!r} — sequence values must be non-null (a NULL "
            "cannot be ordered against the key's current sequence)"
        )
    cur = cur.join(delta.select(*keys).distinct(), keys, "left_semi")
    add = delta.filter(
        F.col("_change_type").isin("insert", "update_postimage")
    ).select(*keys, *attrs)
    w = Window.partitionBy(*keys).orderBy(
        F.col(seq_col).desc_nulls_last(),
        F.xxhash64(*attrs).desc(),
    )
    best = (
        add.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    cur_seq = cur.select(
        *keys, F.col(seq_col).alias("__cur_seq")
    )
    surviving = (
        best.join(cur_seq, keys, "left")
        .where(
            F.col("__cur_seq").isNull()
            | (F.col(seq_col) > F.col("__cur_seq"))
        )
        .drop("__cur_seq")
    )
    add_keys = add.select(*keys).distinct()
    dels = (
        delta.filter(~F.col("_change_type").isin(
            "insert", "update_postimage"
        ))
        .select(*keys, *attrs)
        .join(add_keys, keys, "left_anti")  # pure-delete keys only
        .withColumn(
            "__rn",
            F.row_number().over(w),
        )
        .where(F.col("__rn") == 1)
        .drop("__rn")
        .join(cur_seq, keys, "left")
        .where(
            F.col("__cur_seq").isNull()
            | (F.col(seq_col) >= F.col("__cur_seq"))
        )
        .drop("__cur_seq")
    )
    return surviving.select(
        F.lit("insert").alias("_change_type"), *keys, *attrs
    ).unionByName(
        dels.select(F.lit("delete").alias("_change_type"), *keys, *attrs)
    )


def _src_attrs(
    spark: SparkSession, src: VersionedTable, src_name: str, keys: list[str],
    seq_col: str | None,
    except_cols: list[str] | tuple = (),
) -> list[str]:
    cols = src.read(spark).columns
    missing = [k for k in keys if k not in cols]
    if missing:
        raise ValueError(
            f"APPLY CHANGES: KEYS {missing} not in source columns"
        )
    if seq_col is not None and seq_col not in cols:
        raise ValueError(
            f"APPLY CHANGES: SEQUENCE BY column {seq_col!r} not in "
            f"source columns {sorted(cols)}"
        )
    if seq_col in keys:
        raise ValueError(
            "APPLY CHANGES: SEQUENCE BY column cannot be a KEY"
        )
    ex = list(except_cols or ())
    missing_ex = [c for c in ex if c not in cols]
    if missing_ex:
        raise ValueError(
            f"APPLY CHANGES: COLUMNS * EXCEPT names {missing_ex} not in "
            f"source columns {sorted(cols)}"
        )
    bad = [c for c in ex if c in keys]
    if bad:
        raise ValueError(
            f"APPLY CHANGES: COLUMNS * EXCEPT cannot drop KEYS {bad}"
        )
    if seq_col is not None and seq_col in ex:
        # documented divergence from DLT: the stored sequence IS what
        # the late-arrival discipline compares each commit's changes
        # against — dropping it from the target would leave nothing to
        # order against across APPLYs
        raise ValueError(
            "APPLY CHANGES: COLUMNS * EXCEPT cannot drop the SEQUENCE "
            f"BY column {seq_col!r} (the stored sequence anchors the "
            "late-arrival check); project it away downstream instead"
        )
    return [c for c in cols if c not in keys and c not in ex]


def _coalesce_null_updates(
    feed: DataFrame,
    cur: DataFrame,
    keys: list[str],
    attrs: list[str],
) -> DataFrame:
    """``IGNORE NULL UPDATES`` (DLT): an additive change whose attr is
    NULL keeps the key's CURRENT value instead of overwriting it with
    NULL — partial-column CDC feeds merge column-wise. The current
    side is left-semi pruned to the additive keys first (churn-sized
    broadcast join, same shape as the sequence filter's prune); a key
    with no current row keeps its NULLs (nothing to preserve)."""
    add_t = F.col("_change_type").isin("insert", "update_postimage")
    add = feed.filter(add_t)
    others = feed.filter(~add_t)
    cur_p = cur.select(*keys, *attrs).join(
        add.select(*keys).distinct(), keys, "left_semi"
    )
    merged = (
        add.alias("n")
        .join(cur_p.alias("c"), keys, "left")
        .select(
            F.col("n._change_type").alias("_change_type"),
            *keys,
            *[
                F.coalesce(F.col(f"n.{a}"), F.col(f"c.{a}")).alias(a)
                for a in attrs
            ],
        )
    )
    return merged.unionByName(others)


def _split_track_history(
    feed: DataFrame,
    cur: DataFrame,
    keys: list[str],
    attrs: list[str],
    tracked: list[str],
) -> tuple[DataFrame, DataFrame]:
    """``TRACK HISTORY ON * EXCEPT (…)`` (DLT): an additive change
    whose TRACKED columns all null-safe-equal the key's current row
    updates that row IN PLACE (no close, no new history row) — only
    tracked-column changes open history. Returns ``(kernel_feed,
    inplace)``: the rows the ordinary close/open fold should still
    see, and the in-place rows (keys + new attrs; the caller re-joins
    the current row's ``start_v`` and merges on it). A key routed in
    place keeps its paired preimage OUT of the kernel feed — a leaked
    preimage would read as a pure delete and close the row. New keys
    (no current row) always route to the kernel (they open).

    Routing is per KEY, not per row: a commit carrying several
    additive rows for one key (legal without SEQUENCE BY) routes the
    WHOLE key to the kernel if ANY of its rows is a tracked change —
    per-row routing would emit contradictory merge rows for the same
    ``(keys, start_v)`` (an in-place rewrite AND a kernel close). A
    key whose rows are all untracked-only collapses to ONE in-place
    row (deterministic hash tiebreak, mirroring the sequence filter's
    multi-row discipline). A key carrying a REAL ``delete`` change row
    (not a paired ``update_preimage``) always routes to the kernel:
    a single-commit delete+insert pair is the documented close-old/
    open-new shape even when the insert is untracked-only, and the
    in-place residue drop below would otherwise silently lose the
    delete."""
    from functools import reduce
    from operator import or_

    from pyspark.sql import Window

    add_t = F.col("_change_type").isin("insert", "update_postimage")
    add = feed.filter(add_t)
    cur_k = cur.select(*keys, *attrs, F.lit(True).alias("__has_cur"))
    j = add.alias("n").join(cur_k.alias("c"), keys, "left")
    changed_tracked = (
        reduce(
            or_,
            [
                ~F.col(f"n.{a}").eqNullSafe(F.col(f"c.{a}"))
                for a in tracked
            ],
        )
        if tracked
        else F.lit(False)
    )
    route_normal = F.col("__has_cur").isNull() | changed_tracked
    normal_keys = (
        j.groupBy(*keys)
        .agg(F.max(route_normal.cast("int")).alias("__any"))
        .where(F.col("__any") == 1)
        .select(*keys)
        .unionByName(
            # a real delete row forces the kernel path: its key's
            # close-old/open-new must not degrade to an in-place
            # rewrite that drops the delete with the preimage residue
            feed.filter(F.col("_change_type") == "delete").select(*keys)
        )
        .distinct()
    )
    normal_add = add.join(normal_keys, keys, "left_semi")
    w = Window.partitionBy(*keys).orderBy(F.xxhash64(*attrs).desc())
    inplace = (
        j.join(normal_keys, keys, "left_anti")
        .select(*keys, *[F.col(f"n.{a}").alias(a) for a in attrs])
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    others = feed.filter(~add_t).join(
        inplace.select(*keys).distinct(), keys, "left_anti"
    )
    return normal_add.unionByName(others), inplace


def _snapshot_feed(
    delta: DataFrame,
    keys: list[str],
    attrs: list[str],
    src_name: str,
    version: int,
) -> DataFrame:
    """``FROM SNAPSHOT`` (DLT's second ingestion verb — the
    reference's actual cadence: full 6-hourly re-ingests,
    ``airflow/dags/lakehouse_pipelines.py:105``): the source commit is
    a full snapshot, so the change set is the KEY-level diff of
    consecutive snapshots. Built from the commit's netted multiset
    CDF (churn-proportional — unchanged rows cancel in the file diff,
    so a merge-ingested snapshot never re-reads the stable body): a
    key with any surviving additive row carries its NEW state (insert
    — the kernel closes+opens changed keys and plain-opens new ones);
    a key whose residue is purely removed rows left the snapshot
    (delete — close, or SCD1 remove). Snapshots must be KEY-UNIQUE
    (DLT's contract): a key with several distinct new rows in one
    snapshot is rejected loudly (a dup whose twin row is UNCHANGED
    from the prior snapshot nets away and is undetectable here — the
    init path's full check catches it when the history starts)."""
    add_t = F.col("_change_type").isin("insert", "update_postimage")
    add = delta.filter(add_t).select(*keys, *attrs)
    if not (
        add.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") > 1)
        .isEmpty()
    ):
        raise ValueError(
            f"APPLY CHANGES FROM SNAPSHOT: source {src_name!r} at "
            f"version {version} carries several distinct rows for one "
            "KEYS value — snapshots must be key-unique"
        )
    dels = (
        delta.filter(~add_t)
        .select(*keys, *attrs)
        .join(add.select(*keys).distinct(), keys, "left_anti")
        .dropDuplicates(keys)
    )
    return add.select(
        F.lit("insert").alias("_change_type"), *keys, *attrs
    ).unionByName(
        dels.select(F.lit("delete").alias("_change_type"), *keys, *attrs)
    )


def _snapshot_unique_guard(
    base: DataFrame, keys: list[str], src_name: str
) -> None:
    """Full key-uniqueness check of the INITIAL snapshot (one pass,
    once per history — per-commit checks then ride the netted diff)."""
    if not (
        base.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") > 1)
        .isEmpty()
    ):
        raise ValueError(
            f"APPLY CHANGES FROM SNAPSHOT: source {src_name!r}'s "
            "current snapshot carries several rows for one KEYS value "
            "— snapshots must be key-unique"
        )


def _apply_delete_when(delta: DataFrame, delete_when: str | None) -> DataFrame:
    """``APPLY AS DELETE WHEN cond`` (DLT): an ADDITIVE source change
    matching ``cond`` is a soft delete — reclassify it as a ``delete``
    of its key before the fold/sequence discipline sees the feed (the
    condition may reference columns later dropped by ``COLUMNS *
    EXCEPT``, the classic CDC ``op = 'D'`` marker pattern). NULL
    condition values never delete."""
    if delete_when is None:
        return delta
    add = F.col("_change_type").isin("insert", "update_postimage")
    cond = F.coalesce(F.expr(delete_when), F.lit(False))
    return delta.withColumn(
        "_change_type",
        F.when(add & cond, F.lit("delete")).otherwise(
            F.col("_change_type")
        ),
    )


def _check_wm(
    wm: dict, src_name: str, keys: list[str], seq_col: str | None,
    scd_type: int,
    delete_when: str | None = None,
    except_cols: list[str] | tuple = (),
    ignore_null_updates: bool = False,
    track_except: list[str] | tuple = (),
    src_from: str = "changes",
) -> None:
    if wm.get("from", "changes") != src_from:
        raise ValueError(
            f"APPLY CHANGES: history was built FROM "
            f"{wm.get('from', 'changes').upper()}, not "
            f"{src_from.upper()} — one ingestion verb per history"
        )
    if wm.get("src") != src_name:
        raise ValueError(
            f"APPLY CHANGES: history tracks source {wm.get('src')!r}, "
            f"not {src_name!r} — one history per source"
        )
    if list(wm.get("keys", [])) != list(keys):
        raise ValueError(
            f"APPLY CHANGES: history was built with KEYS "
            f"{wm.get('keys')}, not {list(keys)}"
        )
    if wm.get("seq_col") != seq_col:
        raise ValueError(
            f"APPLY CHANGES: history was built with SEQUENCE BY "
            f"{wm.get('seq_col')!r}, not {seq_col!r}"
        )
    if int(wm.get("scd_type", 2)) != scd_type:
        raise ValueError(
            f"APPLY CHANGES: history was built as SCD TYPE "
            f"{wm.get('scd_type', 2)}, not {scd_type}"
        )
    if wm.get("delete_when") != delete_when:
        raise ValueError(
            f"APPLY CHANGES: history was built with APPLY AS DELETE "
            f"WHEN {wm.get('delete_when')!r}, not {delete_when!r}"
        )
    if list(wm.get("except_cols", [])) != list(except_cols or ()):
        raise ValueError(
            f"APPLY CHANGES: history was built with COLUMNS * EXCEPT "
            f"{wm.get('except_cols', [])}, not {list(except_cols or ())}"
        )
    if bool(wm.get("ignore_null_updates", False)) != bool(
        ignore_null_updates
    ):
        raise ValueError(
            f"APPLY CHANGES: history was built with IGNORE NULL "
            f"UPDATES = {bool(wm.get('ignore_null_updates', False))}, "
            f"not {bool(ignore_null_updates)}"
        )
    if list(wm.get("track_except", [])) != list(track_except or ()):
        raise ValueError(
            f"APPLY CHANGES: history was built with TRACK HISTORY ON "
            f"* EXCEPT {wm.get('track_except', [])}, not "
            f"{list(track_except or ())}"
        )


def apply_changes_scd2(
    spark: SparkSession,
    hist: VersionedTable,
    src: VersionedTable,
    src_name: str,
    keys: list[str],
    seq_col: str | None = None,
    delete_when: str | None = None,
    except_cols: list[str] | tuple = (),
    ignore_null_updates: bool = False,
    track_except: list[str] | tuple = (),
    from_snapshot: bool = False,
) -> dict:
    """Advance ``hist`` (SCD2 history) to ``src``'s head. Returns
    ``{"version", "ordinals_applied", "mode"}`` where mode is
    ``init`` (first apply — snapshot opens), ``incremental`` (per-commit
    CDF folds), or ``noop`` (watermark already at head). With
    ``seq_col`` (SQL: ``SEQUENCE BY c``) each commit's feed passes the
    ``_sequence_filter`` discipline first — multi-row keys collapse to
    their latest version and out-of-order arrivals never regress the
    history (DLT's contract). ``delete_when`` (SQL: ``APPLY AS DELETE
    WHEN cond``) reclassifies matching additive changes as soft
    deletes — and drops matching rows from the initial snapshot;
    ``except_cols`` (SQL: ``COLUMNS * EXCEPT (...)``) keeps the named
    source columns out of the history (the delete condition may still
    reference them — the CDC ``op`` marker pattern);
    ``ignore_null_updates`` (SQL: ``IGNORE NULL UPDATES``) merges
    partial-column feeds column-wise — a NULL attr in an additive
    change keeps the key's current value (applied AFTER the sequence
    discipline resolves which row wins, matching DLT);
    ``track_except`` (SQL: ``TRACK HISTORY ON * EXCEPT (...)``)
    updates the current row IN PLACE when only the named untracked
    columns changed — history rows open only for tracked-column
    changes. ``from_snapshot`` (SQL: ``FROM SNAPSHOT src``) treats
    each source data commit as a FULL re-ingested snapshot and folds
    the KEY-level diff of consecutive snapshots (``_snapshot_feed``):
    a key present in snapshot N−1 and absent in N closes its history
    row; a re-appearing key opens a new one. CDC-feed clauses that
    presuppose change semantics (SEQUENCE BY, APPLY AS DELETE WHEN,
    IGNORE NULL UPDATES) are refused — snapshot order IS the sequence
    and absence IS the delete."""
    head = src.latest_version()
    if head is None:
        raise ValueError(f"APPLY CHANGES: source {src_name!r} has no commits")
    if from_snapshot and (
        seq_col is not None or delete_when is not None or ignore_null_updates
    ):
        raise ValueError(
            "APPLY CHANGES FROM SNAPSHOT: SEQUENCE BY, APPLY AS DELETE "
            "WHEN and IGNORE NULL UPDATES apply to change feeds only — "
            "snapshot order is the sequence and a key's absence is its "
            "delete"
        )
    attrs = _src_attrs(spark, src, src_name, keys, seq_col, except_cols)
    bad_track = [c for c in (track_except or ()) if c not in attrs]
    if bad_track:
        raise ValueError(
            f"APPLY CHANGES: TRACK HISTORY ON * EXCEPT names "
            f"{bad_track} are not stored attribute columns "
            f"(attrs: {sorted(attrs)})"
        )
    tracked = [a for a in attrs if a not in (track_except or ())]
    meta_base = {
        "src": src_name,
        "keys": list(keys),
        "seq_col": seq_col,
        "scd_type": 2,
        "delete_when": delete_when,
        "except_cols": list(except_cols or ()),
        "ignore_null_updates": bool(ignore_null_updates),
        "track_except": list(track_except or ()),
        "from": "snapshot" if from_snapshot else "changes",
    }
    wm = _watermark(hist)
    if wm is None:
        base = src.read(spark, head)
        if from_snapshot:
            _snapshot_unique_guard(base, keys, src_name)
        if delete_when is not None:
            # DLT: snapshot rows already matching the delete condition
            # never enter the dimension
            base = base.where(
                ~F.coalesce(F.expr(delete_when), F.lit(False))
            )
        if seq_col is not None:
            # SEQUENCE BY dedups the snapshot too: one (latest) row
            # per key from the start. NULL sequence values are rejected
            # up front (DLT) — a NULL-seq row admitted here would
            # order against nothing on every later commit.
            from pyspark.sql import Window

            if not base.where(F.col(seq_col).isNull()).isEmpty():
                raise ValueError(
                    f"APPLY CHANGES: NULL value in SEQUENCE BY column "
                    f"{seq_col!r} in the initial snapshot — sequence "
                    "values must be non-null"
                )
            w = Window.partitionBy(*keys).orderBy(
                F.col(seq_col).desc_nulls_last(),
                F.xxhash64(*attrs).desc(),
            )
            base = (
                base.withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") == 1)
                .drop("__rn")
            )
        snap = base.select(
            *keys,
            *attrs,
            F.lit(0).cast("long").alias("start_v"),
            F.lit(None).cast("long").alias("end_v"),
            F.lit(True).alias("is_current"),
        )
        v = hist.write_full(
            snap,
            meta={
                _META_KEY: {
                    **meta_base,
                    "src_version": head,
                    "next_ordinal": 1,
                }
            },
        )
        return {"version": v, "ordinals_applied": 1, "mode": "init"}
    _check_wm(
        wm, src_name, keys, seq_col, 2, delete_when, except_cols,
        ignore_null_updates, track_except,
        src_from="snapshot" if from_snapshot else "changes",
    )
    _restore_guard(hist)
    from_v = int(wm["src_version"])
    ordinal = int(wm["next_ordinal"])
    if head == from_v:
        return {
            "version": hist.latest_version(),
            "ordinals_applied": 0,
            "mode": "noop",
        }
    applied = 0
    hv = hist.latest_version()
    vers = [v for v in src.versions() if v > from_v]
    # manifest-classified up front (cheap meta reads), so each fold can
    # persist a watermark that already covers the feedless run right
    # AFTER it — a trailing OPTIMIZE/vacuum-marker run is then never
    # re-walked by later APPLYs. (An empty-churn DATA commit can't be
    # classified without reading its delta; a trailing one re-checks on
    # the next APPLY — one churn-sized isEmpty, rare shape.)
    feedless = {
        v
        for v in vers
        if src._manifest(v)["op"] in _FEEDLESS_OPS  # noqa: SLF001
    }
    for i, v in enumerate(vers):
        if v <= from_v:
            continue  # covered by a prior fold's feedless look-ahead
        if v in feedless:
            from_v = v
            continue
        # EAGER localCheckpoint, not persist: the per-ordinal delta
        # fans out into many downstream branches (feed shaping, guards,
        # the SCD kernel's close/open slices, merge_apply's discovery +
        # rewrite), and a persisted frame still carries its full logical
        # plan into every one of them — each action re-analyzes the
        # whole changes() tree. Truncating the lineage to the
        # materialized blocks cut q_scd1_sql/q_scd2_sql/
        # q_scd2_from_snapshot by 15-18% (r15 interleaved A/B). The
        # delta is churn-sized; block loss just fails the statement,
        # which the caller retries — same doctrine as the dedup
        # localCheckpoints.
        delta = src.changes(spark, v - 1, v).localCheckpoint()
        try:
            if delta.isEmpty():
                from_v = v
                continue
            wm_v = v
            for nxt in vers[i + 1:]:
                if nxt not in feedless:
                    break
                wm_v = nxt
            if from_snapshot:
                feed = _snapshot_feed(delta, keys, attrs, src_name, v)
            else:
                feed = _apply_delete_when(delta, delete_when).select(
                    "_change_type", *keys, *attrs
                )
            seq_feed = None
            if seq_col is not None:
                seq_feed = _sequence_filter(
                    feed,
                    hist.read(spark).where(F.col("is_current")),
                    keys,
                    attrs,
                    seq_col,
                ).persist()
                if seq_feed.isEmpty():
                    # every change in this commit was late/replayed —
                    # advance the watermark, consume no ordinal
                    seq_feed.unpersist()
                    from_v = wm_v
                    continue
                feed = seq_feed
            if ignore_null_updates:
                feed = _coalesce_null_updates(
                    feed,
                    hist.read(spark).where(F.col("is_current")),
                    keys,
                    attrs,
                )
            inplace = None
            if track_except:
                feed, inplace = _split_track_history(
                    feed,
                    hist.read(spark).where(F.col("is_current")),
                    keys,
                    attrs,
                    tracked,
                )
            changed = feed.select(*keys).distinct()
            slice_ = (
                hist.read(spark)
                .where(F.col("is_current"))
                .join(changed, keys, "left_semi")
            )
            upd = scd2_apply_changes(
                slice_,
                feed,
                keys=keys,
                attrs=attrs,
                version=ordinal,
            ).withColumn("__op", F.lit("upsert"))
            if inplace is not None:
                # untracked-only changes overwrite the CURRENT row at
                # its existing (keys, start_v) — no close, no new row
                cur_sv = (
                    hist.read(spark)
                    .where(F.col("is_current"))
                    .select(*keys, "start_v")
                )
                upd = upd.unionByName(
                    inplace.join(cur_sv, keys).select(
                        *keys,
                        *attrs,
                        F.col("start_v"),
                        F.lit(None).cast("long").alias("end_v"),
                        F.lit(True).alias("is_current"),
                        F.lit("upsert").alias("__op"),
                    )
                )
            # merge_apply pins `upd` once, so the history-slice joins
            # run once per ordinal
            hv = hist.merge_apply(
                spark,
                upd,
                keys=[*keys, "start_v"],
                op_col="__op",
                meta={
                    _META_KEY: {
                        **meta_base,
                        "src_version": wm_v,
                        "next_ordinal": ordinal + 1,
                    }
                },
            )
            if seq_feed is not None:
                seq_feed.unpersist()
            ordinal += 1
            applied += 1
            from_v = wm_v
        finally:
            pass  # delta blocks free on GC (localCheckpoint)
    return {
        "version": hv,
        "ordinals_applied": applied,
        "mode": "incremental" if applied else "noop",
    }


def apply_changes_scd1(
    spark: SparkSession,
    dim: VersionedTable,
    src: VersionedTable,
    src_name: str,
    keys: list[str],
    seq_col: str | None = None,
    delete_when: str | None = None,
    except_cols: list[str] | tuple = (),
    ignore_null_updates: bool = False,
    from_snapshot: bool = False,
) -> dict:
    """``APPLY CHANGES ... STORED AS SCD TYPE 1``: the dimension holds
    only each key's LATEST row — additive changes upsert, deletes
    remove, no validity columns. Same watermark machinery as the SCD2
    form (per-source watermark + applied-commit counter in the dim's
    commit meta; feedless/empty commits skipped; trailing-feedless
    look-ahead); with ``seq_col`` each commit's feed passes the same
    ``_sequence_filter`` late/duplicate discipline first;
    ``delete_when``/``except_cols`` behave as in the SCD2 form. The dim
    advances via file-granular ``merge_apply`` on the KEYS — cost ∝
    churn, never the dimension. ``from_snapshot`` folds the KEY-level
    diff of consecutive full snapshots instead of a CDC feed (same
    contract as the SCD2 form — absence deletes, snapshots must be
    key-unique, CDC-only clauses refused)."""
    head = src.latest_version()
    if head is None:
        raise ValueError(f"APPLY CHANGES: source {src_name!r} has no commits")
    if from_snapshot and (
        seq_col is not None or delete_when is not None or ignore_null_updates
    ):
        raise ValueError(
            "APPLY CHANGES FROM SNAPSHOT: SEQUENCE BY, APPLY AS DELETE "
            "WHEN and IGNORE NULL UPDATES apply to change feeds only — "
            "snapshot order is the sequence and a key's absence is its "
            "delete"
        )
    attrs = _src_attrs(spark, src, src_name, keys, seq_col, except_cols)
    meta_base = {
        "src": src_name,
        "keys": list(keys),
        "seq_col": seq_col,
        "scd_type": 1,
        "delete_when": delete_when,
        "except_cols": list(except_cols or ()),
        "ignore_null_updates": bool(ignore_null_updates),
        "from": "snapshot" if from_snapshot else "changes",
    }
    wm = _watermark(dim)
    if wm is None:
        base = src.read(spark, head)
        if from_snapshot:
            _snapshot_unique_guard(base, keys, src_name)
        if delete_when is not None:
            base = base.where(
                ~F.coalesce(F.expr(delete_when), F.lit(False))
            )
        if seq_col is not None:
            from pyspark.sql import Window

            if not base.where(F.col(seq_col).isNull()).isEmpty():
                raise ValueError(
                    f"APPLY CHANGES: NULL value in SEQUENCE BY column "
                    f"{seq_col!r} in the initial snapshot — sequence "
                    "values must be non-null"
                )
            w = Window.partitionBy(*keys).orderBy(
                F.col(seq_col).desc_nulls_last(),
                F.xxhash64(*attrs).desc(),
            )
            base = (
                base.withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") == 1)
                .drop("__rn")
            )
        v = dim.write_full(
            base.select(*keys, *attrs),
            meta={
                _META_KEY: {
                    **meta_base,
                    "src_version": head,
                    "next_ordinal": 1,
                }
            },
        )
        return {"version": v, "ordinals_applied": 1, "mode": "init"}
    _check_wm(
        wm, src_name, keys, seq_col, 1, delete_when, except_cols,
        ignore_null_updates,
        src_from="snapshot" if from_snapshot else "changes",
    )
    _restore_guard(dim)
    from_v = int(wm["src_version"])
    ordinal = int(wm["next_ordinal"])
    if head == from_v:
        return {
            "version": dim.latest_version(),
            "ordinals_applied": 0,
            "mode": "noop",
        }
    applied = 0
    dv = dim.latest_version()
    vers = [v for v in src.versions() if v > from_v]
    feedless = {
        v
        for v in vers
        if src._manifest(v)["op"] in _FEEDLESS_OPS  # noqa: SLF001
    }
    for i, v in enumerate(vers):
        if v <= from_v:
            continue
        if v in feedless:
            from_v = v
            continue
        # EAGER localCheckpoint, not persist: the per-ordinal delta
        # fans out into many downstream branches (feed shaping, guards,
        # the SCD kernel's close/open slices, merge_apply's discovery +
        # rewrite), and a persisted frame still carries its full logical
        # plan into every one of them — each action re-analyzes the
        # whole changes() tree. Truncating the lineage to the
        # materialized blocks cut q_scd1_sql/q_scd2_sql/
        # q_scd2_from_snapshot by 15-18% (r15 interleaved A/B). The
        # delta is churn-sized; block loss just fails the statement,
        # which the caller retries — same doctrine as the dedup
        # localCheckpoints.
        delta = src.changes(spark, v - 1, v).localCheckpoint()
        try:
            if delta.isEmpty():
                from_v = v
                continue
            wm_v = v
            for nxt in vers[i + 1:]:
                if nxt not in feedless:
                    break
                wm_v = nxt
            if from_snapshot:
                feed = _snapshot_feed(delta, keys, attrs, src_name, v)
            elif seq_col is not None:
                feed = _apply_delete_when(delta, delete_when).select(
                    "_change_type", *keys, *attrs
                )
                feed = _sequence_filter(
                    feed, dim.read(spark), keys, attrs, seq_col
                )
            else:
                feed = _apply_delete_when(delta, delete_when).select(
                    "_change_type", *keys, *attrs
                )
                # synthesize the same two-op shape the filter yields:
                # per key, any additive row upserts; pure-delete keys
                # delete (one representative row each)
                add = feed.filter(
                    F.col("_change_type").isin(
                        "insert", "update_postimage"
                    )
                ).select(*keys, *attrs).distinct()
                dels = (
                    feed.filter(
                        ~F.col("_change_type").isin(
                            "insert", "update_postimage"
                        )
                    )
                    .select(*keys, *attrs)
                    .join(add.select(*keys).distinct(), keys, "left_anti")
                    .dropDuplicates(keys)
                )
                feed = add.select(
                    F.lit("insert").alias("_change_type"), *keys, *attrs
                ).unionByName(
                    dels.select(
                        F.lit("delete").alias("_change_type"),
                        *keys,
                        *attrs,
                    )
                )
            if ignore_null_updates:
                feed = _coalesce_null_updates(
                    feed, dim.read(spark), keys, attrs
                )
            feed = feed.localCheckpoint()  # same doctrine as `delta`
            if feed.isEmpty():
                from_v = wm_v
                continue
            changes_df = feed.select(
                *keys,
                *attrs,
                F.when(
                    F.col("_change_type") == "insert", F.lit("upsert")
                )
                .otherwise(F.lit("delete"))
                .alias("__op"),
            )
            dv = dim.merge_apply(
                spark,
                changes_df,
                keys=keys,
                op_col="__op",
                meta={
                    _META_KEY: {
                        **meta_base,
                        "src_version": wm_v,
                        "next_ordinal": ordinal + 1,
                    }
                },
            )
            ordinal += 1
            applied += 1
            from_v = wm_v
        finally:
            pass  # delta blocks free on GC (localCheckpoint)
    return {
        "version": dv,
        "ordinals_applied": applied,
        "mode": "incremental" if applied else "noop",
    }

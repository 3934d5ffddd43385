"""Declarative materialized views over the transaction layer.

The reference's marts ARE materialized views maintained by scheduled
full/horizon merges (``dbt/models/marts/fct_daily_store_metrics.sql``);
this module gives the same artifact the maintenance story modern
lakehouses document (Databricks materialized views, pg_ivm,
Materialize): a SQL-declared aggregate whose REFRESH folds the base
table's change feed instead of recomputing — built on the pieces that
already exist here (``VersionedTable.changes`` for churn-proportional
deltas, the signed-fold algebra below — ``insert``/``update_postimage``
rows add, ``delete``/``update_preimage`` rows subtract — and
``merge_apply`` for file-granular CoW commits of only the touched
groups). It is the package's only incremental-view engine: the
``q_incremental_mv*``, ``q_stream_mv`` and ``q_materialized_view*``
demos all run on it.

Contract:

- The MV is itself a ``VersionedTable``; its definition and the BASE
  VERSION WATERMARK it reflects ride the MV's commit manifest ``meta``
  (the same channel replication watermarks use), so a fresh handle — or
  another process — can refresh it with no driver-side state. The
  definition is found by a BACKWARD walk over raw manifests (cheap
  meta-only reads), never just the head: maintenance commits on the MV
  table itself (OPTIMIZE, autoCompact, a vacuum horizon marker) carry
  their own meta and must not brick REFRESH.
- ``REFRESH`` folds ``base.changes(watermark, head)`` — one churn-sized
  scan however many base commits landed since — nets it per group
  (map-side combine), joins the net against ONLY the touched groups of
  the stored MV (LEFT SEMI prune), and commits via ``merge_apply``:
  groups whose maintained count reaches zero are DELETED, others
  upserted. Refresh cost ∝ churn at any table size; the base is never
  re-aggregated. The nets frame is cached for the duration of the
  refresh — it feeds the NULL-key guard, the semi prune, and the merge,
  and re-running the CDF pipeline per consumer would multiply the
  churn scan.
- Supported aggregates: ``SUM(<expr>) AS alias`` / ``COUNT(*) AS
  alias`` (self-maintainable: pure fold) and ``MIN/MAX(<expr>) AS
  alias`` with the BOUNDED rescan-on-retraction doctrine
  (``_merge_nets``): inserts fold
  join-free via least/greatest; only groups where a DELETED value
  ties-or-beats the maintained extremum are recomputed from the base —
  semi-joined down to exactly those keys, one rescan covering every
  MIN/MAX column of the group. A hidden ``__ivm_count`` column is
  maintained when the user didn't select COUNT(*) — retire-at-zero
  needs it (pg_ivm keeps the same hidden count).
- NULL-exact SUMs: each SUM column carries a hidden per-group
  NON-NULL VALUE COUNT (``__nn__<alias>`` — pg_ivm's construction).
  SQL's SUM is NULL exactly when a group has zero non-null values, and
  a (sum, row-count) pair cannot distinguish "all values NULL" from
  "values summing to 0" under deletes — the non-null count can: the
  published sum is NULL iff it reaches zero. This keeps the fold
  bit-identical to a recompute even when a delete removes a group's
  LAST non-null value.
- Exactness: folds are bit-identical to recomputes for decimal/integer
  measures (associative addition); double measures would drift exactly
  as they do in any engine's incremental plan — declare decimals.
- NULL group keys are REJECTED — at CREATE/FULL the guard runs on the
  aggregate BEFORE the MV commits (a poisoned-but-registered MV would
  silently never fold that group), and at refresh if one appears in
  the delta. The churn-keyed equi-joins underneath (``merge_apply``)
  use SQL equality, where NULL never matches. Loud refusal beats a
  silently stale MV.
- If VACUUM reclaimed the watermark version's history,
  ``VacuumedVersionError`` propagates — ``REFRESH ... FULL`` rebuilds
  from the current snapshot and re-arms the watermark (COUNT(DISTINCT)
  support tables rebuild with it). A RESTORE of the MV table itself is
  DETECTED (``_restore_guard``: a restore commit newer than the newest
  MV-meta commit): incremental refresh and streaming folds refuse with
  a pointer to ``REFRESH ... FULL``, because the restored rows no
  longer match the stored watermark and the support tables were not
  rolled back (Databricks MVs don't support restore at all; here it
  degrades to an explicit rebuild instead of wrong counts going
  unnoticed).
- ``COUNT(DISTINCT e) AS a``: not self-maintainable from (group,
  count) alone — a delete only lowers the count if it removed the
  group's LAST occurrence of the value — so each distinct column
  keeps a hidden SUPPORT table (pg_ivm / Materialize construction) at
  ``<mv>/_support/<a>``: one row per (group keys, value) with its
  multiplicity, maintained by the SAME signed fold (value promoted
  into the grouping key); a support row retiring at multiplicity zero
  IS the decrement. REFRESH recounts surviving support rows for ONLY
  the touched groups (key-pruned — churn-proportional). The support
  table carries its OWN watermark in its commit meta, so a crash
  between the support fold and the MV commit recovers without a
  double fold. UPDATE pairs that move a measure but not the value
  cancel in the fold; multi-occurrence deletes never over-decrement.
  Batch REFRESH only (streaming refuses).
- JOIN VIEWS: ``CREATE MATERIALIZED VIEW mv AS SELECT ... FROM a JOIN
  b USING (k) GROUP BY ...`` maintains an aggregate over a two-table
  equi-join with ONE watermark per base; REFRESH builds the join's own
  change feed from both bases' CDFs via the bilinear rule
  (``join_signed_delta`` — Δ(A⋈B) = ΔA⋈B₀ +
  A₀⋈ΔB + ΔA⋈ΔB, mixed terms semi-pruned to the other side's delta
  keys) and folds it through the SAME merge path as single-table
  views. MIN/MAX on a join view refreshes with the BOUNDED JOIN-SLICE
  rescan: retraction-triggered group keys semi-prune each base on the
  group keys that side carries (cross-pruning the other side through
  the join keys), so only the triggered groups' join slices recompute
  — never the full ``A ⋈ B``. COUNT(DISTINCT) on a join view keeps
  the SAME support construction: the bilinear delta is an exact
  signed multiset of joined rows, so it feeds the per-(group, value)
  multiplicity fold unchanged — the support watermark just carries
  both base versions (crash recovery rebuilds only the lag window's
  bilinear delta from the support's own watermarks).
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .versioned import _FEEDLESS_OPS, VersionedTable

#: Hidden per-group row count when the view didn't SELECT COUNT(*).
HIDDEN_COUNT = "__ivm_count"

_META_KEY = "materialized_view"
#: Meta key carrying a COUNT(DISTINCT) support table's own watermark.
_SUPPORT_META = "mv_support"
_ADDITIVE = ("insert", "update_postimage")


def _nn(alias: str) -> str:
    """Hidden non-null value count column for a SUM alias."""
    return f"__nn__{alias}"


def _avg_sum(alias: str) -> str:
    """Hidden exact-sum column backing an AVG alias."""
    return f"__avg_sum__{alias}"


def _eff_sums(d: dict) -> list[list[str]]:
    """The sums the fold actually maintains: the user's SUM columns
    plus one hidden exact sum per AVG (its non-null count comes from
    the same ``__nn__`` machinery — AVG divides by the non-null count,
    not the row count)."""
    return list(d["sums"]) + [
        [e, _avg_sum(a)] for e, a in d.get("avgs", [])
    ]


def _avg_publish_exprs(avgs: list[list[str]]) -> list:
    """Published AVG columns, derived from the hidden state with ONE
    fixed double division (deterministic on both engines; NULL when
    the group has zero non-null values)."""
    return [
        F.when(
            F.col(_nn(_avg_sum(a))) > 0,
            F.col(_avg_sum(a)).cast("double")
            / F.col(_nn(_avg_sum(a))).cast("double"),
        ).alias(a)
        for _, a in avgs
    ]


def definition(mv: VersionedTable) -> dict:
    """The stored MV definition: most recent commit whose meta carries
    one (raises if no commit does). ``latest_meta`` walk — meta-only,
    no snapshot replay — because maintenance commits on the MV table
    (OPTIMIZE / autoCompact / vacuum markers) carry their own meta."""
    d = mv.latest_meta(_META_KEY)
    if d:
        return d
    raise ValueError(
        f"{mv.path}: not a materialized view (no {_META_KEY!r} entry "
        "in any commit's meta)"
    )


def _with_key_exprs(df: DataFrame, d: dict) -> DataFrame:
    """Materialize EXPRESSION group keys (``GROUP BY date_trunc('month',
    dt)`` — the canonical rollup shape) as alias columns on a base/feed
    frame before it reaches any grouping, net, rescan, or support fold.
    ``d["key_exprs"]`` holds ``[expr, alias]`` per key; plain-column
    keys (expr == alias) are no-ops, and views created before the
    feature (no ``key_exprs`` in their stored definition) fall through
    untouched. On JOIN views each expression must be computable from
    ONE side's columns (``_side_stampable`` — the join-slice rescan
    prunes that base by materializing the expression on it); genuine
    cross-side expressions refuse at create."""
    for e, a in d.get("key_exprs", []):
        if e != a:
            df = df.withColumn(a, F.expr(e))
    return df


def _with_where(df: DataFrame, d: dict) -> DataFrame:
    """Apply the view-level WHERE predicate (``… AS SELECT k, SUM(v)
    FROM t WHERE p GROUP BY k`` — the reference's staging-then-
    aggregate composition, ``dbt/models/staging/stg_erp_orders.sql``
    feeding ``fct_daily_store_metrics.sql``, as ONE maintained view).
    Selection is LINEAR in the signed-fold algebra — ``Δσ_p(R) =
    σ_p(ΔR)`` — so filtering each feed/snapshot/rescan frame by ``p``
    before it reaches any net or fold IS the exact maintenance rule:
    an UPDATE pair that moves a row ACROSS the predicate boundary
    keeps exactly the signed row on the side it lands (preimage
    filtered out when the old row failed ``p``; postimage filtered
    out when the new one does), netting to a pure insert or delete of
    the group — precisely the recompute's answer. ``p`` references
    BASE columns only (SQL's WHERE scope: applied before the key-expr
    aliases materialize); views without a stored predicate fall
    through untouched."""
    w = d.get("where")
    return df.where(F.expr(w)) if w else df


def _validate_key_exprs(base_snap: DataFrame, ke: list[list[str]]) -> None:
    """Analyze each EXPRESSION group key against the base schema at
    CREATE time, so an unsupported aggregate that IS referenced in
    GROUP BY (``median(x) AS k``) or a typo'd column fails HERE with
    the offending item named — not later inside ``_with_key_exprs``'s
    ``withColumn`` with a raw AnalysisException and the view already
    half-armed. ``limit(0)`` + eager analysis: no job runs."""
    from pyspark.errors import AnalysisException

    probe = base_snap.limit(0)
    for e, a in ke:
        if e == a:
            continue
        try:
            probe.withColumn(a, F.expr(e)).schema  # noqa: B018
        except AnalysisException as exc:
            raise ValueError(
                f"materialized view GROUP BY expression {e!r} (AS {a}) "
                "is not a valid per-row expression over the base "
                f"columns {sorted(base_snap.columns)} — aggregate "
                "functions cannot be group keys and every referenced "
                f"column must exist ({exc.getCondition() or exc})"
            ) from None


def _expr_refs(spark: SparkSession, expr: str) -> set[str]:
    """Column names an expression references (lower-cased), from the
    SQL parser's unresolved tree — no analysis pass, so probing a side
    that lacks a column never emits a JVM-side AnalysisException log
    (the refresh-path probes run per side per expression)."""
    it = (
        spark._jsparkSession.sessionState()  # noqa: SLF001
        .sqlParser()
        .parseExpression(expr)
        .references()
        .iterator()
    )
    names: set[str] = set()
    while it.hasNext():
        names.add(it.next().name().lower())
    return names


def _side_stampable(side: DataFrame, expr: str, alias: str) -> bool:
    """Whether one JOIN side can materialize an expression group key:
    every column the expression references lives on that side
    (case-insensitive, Spark's default resolution)."""
    try:
        refs = _expr_refs(side.sparkSession, expr)
    except Exception:
        return False  # unparsable here — create-time validation names it
    return refs <= {c.lower() for c in side.columns}


def _stamp_side(
    side: DataFrame, ke: list[list[str]]
) -> tuple[DataFrame, list[str]]:
    """Materialize onto ONE join side every group key it can carry —
    plain columns it owns, plus expression keys whose referenced
    columns all live on it — returning ``(stamped_frame,
    prunable_key_aliases)``. The join-slice rescan semi-prunes the
    side on exactly those aliases."""
    stamped, cols = side, []
    for e, al in ke:
        if e == al:
            if al in side.columns:
                cols.append(al)
        elif _side_stampable(side, e, al):
            stamped = stamped.withColumn(al, F.expr(e))
            cols.append(al)
    return stamped, cols


def _validate_where(base_snap: DataFrame, where: str | None) -> None:
    """Analyze the view-level WHERE predicate against the base schema
    at CREATE time (``limit(0)`` — eager analysis, no job): aggregates
    in WHERE and unknown columns fail HERE with the predicate named,
    not later inside a refresh with the view already armed. Spark
    itself rejects aggregate/window functions in a WHERE clause, so
    the probe needs no function whitelist."""
    if not where:
        return
    from pyspark.errors import AnalysisException

    try:
        base_snap.limit(0).where(F.expr(where)).schema  # noqa: B018
    except AnalysisException as exc:
        raise ValueError(
            f"materialized view WHERE predicate {where!r} is not a "
            "valid row-level predicate over the base columns "
            f"{sorted(base_snap.columns)} — no aggregates, and every "
            f"referenced column must exist ({exc.getCondition() or exc})"
        ) from None


def _restore_guard(mv: VersionedTable) -> None:
    """Refuse incremental maintenance after a RESTORE of the MV table
    itself. RESTORE rolls the MV's ROWS back to a prior snapshot but
    the restore commit carries no ``materialized_view`` meta, so
    ``definition()`` still returns the PRE-restore watermark
    (``base_version`` = base head at the LAST refresh): an incremental
    refresh would fold only post-watermark base churn onto the stale
    restored rows and commit silently wrong aggregates (COUNT(DISTINCT)
    support tables aren't rolled back either). One backward meta-only
    manifest walk — if a ``restore`` commit is newer than the newest
    commit carrying MV meta, require ``REFRESH ... FULL`` (which
    rebuilds from the base head and re-arms the watermark)."""
    for v in reversed(mv.versions()):
        raw = mv._raw_manifest(v)  # noqa: SLF001
        if raw.get("meta", {}).get(_META_KEY) is not None:
            return
        if raw.get("op") == "restore":
            raise ValueError(
                f"{mv.path}: the materialized view was RESTOREd (commit "
                f"{v}) after its last refresh — its rows no longer match "
                "the stored watermark, so incremental refresh would "
                "commit wrong aggregates. Run REFRESH MATERIALIZED VIEW "
                "... FULL to rebuild and re-arm the watermark"
            )


def _null_key_guard(df: DataFrame, keys: list[str], where: str) -> None:
    has_null = reduce(
        lambda a, b: a | b, [F.col(k).isNull() for k in keys]
    )
    if not df.where(has_null).isEmpty():
        raise ValueError(
            f"materialized view {where}: NULL group key encountered — "
            "NULL keys don't survive the equality joins incremental "
            "maintenance uses; filter them in the base table"
        )


def _aggregate(
    snap: DataFrame,
    keys: list[str],
    sums: list[list[str]],
    count_col: str,
    mins: list[list[str]] = (),
    maxs: list[list[str]] = (),
    avgs: list[list[str]] = (),
    distincts: list[list[str]] = (),
) -> DataFrame:
    eff = list(sums) + [[e, _avg_sum(a)] for e, a in avgs]
    out = snap.groupBy(*keys).agg(
        *[F.sum(F.expr(e)).alias(a) for e, a in eff],
        *[F.min(F.expr(e)).alias(a) for e, a in mins],
        *[F.max(F.expr(e)).alias(a) for e, a in maxs],
        *[
            F.count_distinct(F.expr(e)).cast("long").alias(a)
            for e, a in distincts
        ],
        # COUNT(expr) counts exactly the non-null values — the hidden
        # state that makes SUM NULL-exact under deletes (and AVG's
        # denominator)
        *[F.count(F.expr(e)).cast("long").alias(_nn(a)) for e, a in eff],
        F.count(F.lit(1)).cast("long").alias(count_col),
    )
    if avgs:
        out = out.select("*", *_avg_publish_exprs(avgs))
    return out


def _validate_output_names(
    keys: list[str],
    sums: list[list[str]],
    mins: list[list[str]],
    maxs: list[list[str]],
    avgs: list[list[str]],
    count_col: str,
    distincts: list[list[str]] = (),
) -> None:
    """Reject colliding output names and user aliases under the
    reserved ``__`` prefix. Shared by BOTH entry points — the SQL
    parser (which re-raises with grammar help) and direct Python
    callers, who could otherwise declare an alias like ``__ivm_count``
    or a MIN alias equal to a SUM alias and silently corrupt the
    hidden maintenance columns (``__nn__<a>``, ``__avg_sum__<a>``,
    ``__ivm_count``)."""
    out_names = (
        list(keys)
        + [a for _, a in [*sums, *mins, *maxs, *avgs, *distincts]]
        + ([count_col] if count_col != HIDDEN_COUNT else [])
    )
    dupes = sorted({n for n in out_names if out_names.count(n) > 1})
    if dupes:
        raise ValueError(
            f"materialized view output names collide: {dupes} — every "
            "key and aggregate alias must be distinct"
        )
    reserved = sorted(n for n in out_names if n.startswith("__"))
    if reserved:
        raise ValueError(
            f"materialized view names {reserved} use the reserved "
            "'__' prefix (hidden maintenance state); pick different "
            "aliases"
        )


def _support_table(mv: VersionedTable, alias: str) -> VersionedTable:
    """The hidden support table for one COUNT(DISTINCT) column: a
    VersionedTable at ``<mv>/_support/<alias>`` — inside the MV's
    directory but OUTSIDE its ``data/`` root, so the MV's vacuum
    orphan walk never sees it (same placement rule as
    ``_change_data/``). One row per (group keys, distinct value) with
    its multiplicity; rows retire at multiplicity zero."""
    return VersionedTable(os.path.join(mv.path, "_support", alias))


def support_tables(mv: VersionedTable) -> list[VersionedTable]:
    """The hidden COUNT(DISTINCT) support tables of an MV — empty for
    non-MV tables and views without distinct columns. Maintenance
    entry points (SQL VACUUM / OPTIMIZE) cascade through this: every
    REFRESH lands one merge commit on each support table, so left
    unmaintained their logs and small files would grow without bound
    while staying invisible to the user."""
    d = mv.latest_meta(_META_KEY)
    if not d:
        return []
    out = []
    for _, a in d.get("distincts", []):
        t = _support_table(mv, a)
        if t.exists():
            out.append(t)
    return out


def _support_wm(sup: VersionedTable) -> dict:
    """The support table's own base-version watermark (``latest_meta``
    walk, same doctrine as ``definition``): stored SEPARATELY from the
    MV's so a crash between the support fold and the MV commit re-runs
    as a no-op support fold, never a double fold. ``{"watermark": v}``,
    plus ``"watermark_b"`` for JOIN views."""
    m = sup.latest_meta(_SUPPORT_META)
    if m:
        return {k: int(v) for k, v in m.items()}
    raise ValueError(
        f"{sup.path}: no {_SUPPORT_META!r} watermark in any commit meta"
    )


def _rebuild_supports(
    spark: SparkSession, snap: DataFrame, mv: VersionedTable, d: dict
) -> None:
    """(Re)build every distinct-support table from the base snapshot
    (single-table view) or the joined snapshot (JOIN view — the
    watermark then carries BOTH base versions). Runs BEFORE the MV
    commit: if the MV commit then crashes, the MV watermark lags the
    support watermark and the next refresh skips the already-advanced
    support fold (idempotent recovery)."""
    wm: dict = {"watermark": d["base_version"]}
    if "base_b_version" in d:
        wm["watermark_b"] = d["base_b_version"]
    for e, a in d.get("distincts", []):
        # NULL values never count toward COUNT(DISTINCT)
        _support_table(mv, a).write_full(
            snap.where(F.expr(e).isNotNull())
            .groupBy(*d["group_keys"], F.expr(e).alias("__dv"))
            .agg(F.count(F.lit(1)).cast("long").alias("__mult")),
            meta={_SUPPORT_META: wm},
        )


def _build_and_guard(
    spark: SparkSession,
    snap: DataFrame,
    mv: VersionedTable,
    d: dict,
    where: str,
) -> int:
    """Aggregate → NULL-key guard BEFORE the commit → write_full."""
    snap = _with_key_exprs(_with_where(snap, d), d)
    agg = _aggregate(
        snap,
        d["group_keys"],
        d["sums"],
        d["count_col"],
        d.get("mins", []),
        d.get("maxs", []),
        d.get("avgs", []),
        d.get("distincts", []),
    )
    _null_key_guard(agg, d["group_keys"], where)
    _rebuild_supports(spark, snap, mv, d)
    return mv.write_full(agg, meta={_META_KEY: d})


def create_materialized_view(
    spark: SparkSession,
    base_name: str,
    base: VersionedTable,
    mv: VersionedTable,
    keys: list[str],
    sums: list[list[str]],
    count_col: str = HIDDEN_COUNT,
    mins: list[list[str]] = (),
    maxs: list[list[str]] = (),
    avgs: list[list[str]] = (),
    distincts: list[list[str]] = (),
    at_version: int | None = None,
    key_exprs: list[list[str]] | None = None,
    where: str | None = None,
) -> int:
    """Build the MV from the base's CURRENT snapshot and stamp the
    definition + watermark into the commit meta. ``sums`` / ``mins`` /
    ``maxs`` / ``avgs`` / ``distincts`` are lists of ``[expr, alias]``
    pairs (expressions evaluate per base row). Each COUNT(DISTINCT)
    column additionally materializes a hidden support table (pg_ivm's
    construction — see ``_support_table``). ``at_version`` (SQL:
    ``FROM base VERSION AS OF n``) creates the view AS OF a historical
    snapshot — watermark included — so the first REFRESH folds
    everything committed since ``n``; besides time-travel ergonomics
    this lets many views share ONE committed base history instead of
    each mutating a private fixture. ``key_exprs`` (``[[expr, alias],
    …]``, aligned with ``keys``) declares EXPRESSION group keys —
    ``GROUP BY date_trunc('month', dt) AS month`` — materialized onto
    every frame the maintenance paths read (``_with_key_exprs``); an
    alias may not shadow a base column (measures would silently read
    the transformed value). ``where`` (SQL: ``… FROM t WHERE p GROUP
    BY k``) maintains the aggregate over the FILTERED base — selection
    is linear, so every maintenance frame (CDF delta, MIN/MAX rescan
    slice, support fold, streaming folded state) just filters by ``p``
    first (``_with_where``); the predicate references base columns
    only and is validated at create."""
    _validate_output_names(keys, sums, mins, maxs, avgs, count_col, distincts)
    base_v = base.latest_version() if at_version is None else int(at_version)
    ke = [list(p) for p in (key_exprs or [[k, k] for k in keys])]
    if [a for _, a in ke] != list(keys):
        raise ValueError(
            f"materialized view key_exprs aliases {[a for _, a in ke]} "
            f"must equal the group keys {list(keys)}"
        )
    base_snap = base.read(spark, base_v)
    base_cols = set(base_snap.columns)
    shadowed = sorted(a for e, a in ke if e != a and a in base_cols)
    if shadowed:
        raise ValueError(
            f"materialized view key aliases {shadowed} shadow base "
            "columns — pick aliases the base does not already use "
            "(aggregate expressions would read the transformed value)"
        )
    _validate_key_exprs(base_snap, ke)
    _validate_where(base_snap, where)
    d = {
        "base": base_name,
        "base_version": base_v,
        "group_keys": list(keys),
        "key_exprs": ke,
        "sums": [list(p) for p in sums],
        "mins": [list(p) for p in mins],
        "maxs": [list(p) for p in maxs],
        "avgs": [list(p) for p in avgs],
        "distincts": [list(p) for p in distincts],
        "count_col": count_col,
    }
    if where:
        d["where"] = where
    return _build_and_guard(spark, base.read(spark, base_v), mv, d, "create")


def create_materialized_join_view(
    spark: SparkSession,
    a_name: str,
    a: VersionedTable,
    b_name: str,
    b: VersionedTable,
    on: list[str],
    mv: VersionedTable,
    keys: list[str],
    sums: list[list[str]],
    count_col: str = HIDDEN_COUNT,
    avgs: list[list[str]] = (),
    mins: list[list[str]] = (),
    maxs: list[list[str]] = (),
    distincts: list[list[str]] = (),
    at_version: int | None = None,
    at_version_b: int | None = None,
    where: str | None = None,
    key_exprs: list[list[str]] | None = None,
) -> int:
    """Build an aggregate MV over ``a ⋈ b`` (equi-join USING ``on``)
    and stamp the two-watermark definition into the commit meta.
    MIN/MAX columns refresh with the bounded JOIN-SLICE rescan (see
    ``refresh_materialized_join_view``). COUNT(DISTINCT) columns keep
    the SAME hidden support table as single-table views — the join's
    bilinear signed delta is an exact multiset feed, so the per-(group,
    value) multiplicity fold is unchanged; the support watermark just
    carries both base versions. ``at_version[_b]`` create the view AS
    OF historical snapshots of either base (SQL: ``VERSION AS OF n``
    after the table name). ``where`` filters the JOINED rows (it may
    reference columns of either side) — the bilinear delta is a signed
    multiset of joined rows, so the same linear-selection rule applies
    to every maintenance frame. ``key_exprs`` declares EXPRESSION
    group keys; each expression must be computable from ONE side's
    columns (the join-slice rescan prunes that base by materializing
    the expression on it — ``_stamp_side``), so a genuine cross-side
    expression refuses here rather than degrading the rescan to a
    full ``A ⋈ B``."""
    _validate_output_names(keys, sums, mins, maxs, avgs, count_col, distincts)
    va = a.latest_version() if at_version is None else int(at_version)
    vb = b.latest_version() if at_version_b is None else int(at_version_b)
    ke = [list(p) for p in (key_exprs or [[k, k] for k in keys])]
    if [al for _, al in ke] != list(keys):
        raise ValueError(
            f"materialized view key_exprs aliases {[al for _, al in ke]} "
            f"must equal the group keys {list(keys)}"
        )
    d = {
        "base": a_name,
        "base_version": va,
        "base_b": b_name,
        "base_b_version": vb,
        "join_on": list(on),
        "group_keys": list(keys),
        "sums": [list(p) for p in sums],
        "mins": [list(p) for p in mins],
        "maxs": [list(p) for p in maxs],
        "avgs": [list(p) for p in avgs],
        "distincts": [list(p) for p in distincts],
        "count_col": count_col,
    }
    sa, sb = a.read(spark, va), b.read(spark, vb)
    joined = sa.join(sb, on)
    if any(e != al for e, al in ke):
        joined_cols = set(joined.columns)
        shadowed = sorted(
            al for e, al in ke if e != al and al in joined_cols
        )
        if shadowed:
            raise ValueError(
                f"materialized view key aliases {shadowed} shadow "
                "join columns — pick aliases neither base already uses"
            )
        _validate_key_exprs(joined, ke)
        cross = [
            f"{e} AS {al}"
            for e, al in ke
            if e != al
            and not (
                _side_stampable(sa, e, al) or _side_stampable(sb, e, al)
            )
        ]
        if cross:
            raise ValueError(
                f"expression GROUP BY keys {cross} reference columns "
                "of BOTH join sides — the join-slice rescan prunes "
                "each base by materializing the expression on one "
                "side, so a cross-side expression would degrade "
                "retraction rescans to a full join; group by per-side "
                "expressions or pre-materialize the combined column"
            )
        d["key_exprs"] = ke
    _validate_where(joined, where)
    if where:
        d["where"] = where
    return _build_and_guard(spark, joined, mv, d, "create")


def _nets_with_extrema(
    delta: DataFrame,
    keys: list[str],
    sums: list[list[str]],
    mins: list[list[str]],
    maxs: list[list[str]],
    cnt: str,
) -> DataFrame:
    """Per-group signed nets of one change feed: sum deltas, non-null
    value-count deltas and the row-count delta, plus the MIN/MAX
    maintenance columns — insert-side fold candidates (``__ins__a``) and
    deleted-side retraction probes (``__del__a``) per extremum column
    (none when ``mins``/``maxs`` are empty). The one nets builder of
    every fold: single-table and streaming refresh (base CDF), JOIN-view
    refresh (bilinear join delta) and COUNT(DISTINCT) support folds —
    all feeds carry ``_change_type``."""
    add = F.col("_change_type").isin(*_ADDITIVE)
    return (
        delta.select(
            *keys,
            F.when(add, 1).otherwise(-1).alias("__s"),
            add.alias("__add"),
            *[F.expr(e).alias(a) for e, a in sums],
            *[F.expr(e).alias(a) for e, a in mins],
            *[F.expr(e).alias(a) for e, a in maxs],
        )
        .groupBy(*keys)
        .agg(
            *[F.sum(F.col(a) * F.col("__s")).alias(a) for _, a in sums],
            *[
                F.sum(
                    F.when(F.col(a).isNotNull(), F.col("__s")).otherwise(0)
                )
                .cast("long")
                .alias(_nn(a))
                for _, a in sums
            ],
            # insert-side fold candidates and deleted-side retraction
            # probes, per extremum column
            *[
                F.min(F.when(F.col("__add"), F.col(a))).alias(f"__ins__{a}")
                for _, a in mins
            ],
            *[
                F.min(F.when(~F.col("__add"), F.col(a))).alias(f"__del__{a}")
                for _, a in mins
            ],
            *[
                F.max(F.when(F.col("__add"), F.col(a))).alias(f"__ins__{a}")
                for _, a in maxs
            ],
            *[
                F.max(F.when(~F.col("__add"), F.col(a))).alias(f"__del__{a}")
                for _, a in maxs
            ],
            F.sum("__s").cast("long").alias(cnt),
        )
    )


def _merged_sum_exprs(
    sums: list[list[str]], mv_types: dict
) -> tuple[list, list]:
    """The shared signed-fold merge expressions over an m/d-aliased
    full-outer join: NULL-exact sums (NULL iff the merged non-null
    value count reaches zero) and the hidden nn columns themselves."""
    sum_exprs = []
    nn_exprs = []
    for _, a in sums:
        nn_new = (
            F.coalesce(F.col(f"m.{_nn(a)}"), F.lit(0))
            + F.coalesce(F.col(f"d.{_nn(a)}"), F.lit(0))
        ).cast("long")
        sum_exprs.append(
            F.when(nn_new <= 0, F.lit(None))
            .otherwise(
                F.coalesce(F.col(f"m.{a}"), F.lit(0))
                + F.coalesce(F.col(f"d.{a}"), F.lit(0))
            )
            .cast(mv_types[a])
            .alias(a)
        )
        nn_exprs.append(nn_new.alias(_nn(a)))
    return sum_exprs, nn_exprs


def _merge_nets(
    spark: SparkSession,
    mv: VersionedTable,
    nets: DataFrame,
    keys: list[str],
    sums: list[list[str]],
    cnt: str,
    head_meta: dict,
    rescan_fn=None,
    mins: list[list[str]] = (),
    maxs: list[list[str]] = (),
    avgs: list[list[str]] = (),
    distincts: list[list[str]] = (),
    dist_df: DataFrame | None = None,
) -> int:
    """Fold cached per-group nets into the stored MV via merge_apply —
    ONE implementation shared by single-table and join refreshes. With
    ``mins``/``maxs``, retraction-triggered groups recompute from
    ``rescan_fn(trig_keys)`` — a callable returning the rows of exactly
    those groups (the base snapshot semi-pruned for single-table views;
    the bounded join slice for JOIN views). With ``distincts``,
    ``dist_df`` carries the recomputed ``__dist__<alias>`` counts for
    every touched group (from the support tables) and overwrites the
    published columns."""

    def _commit_changes(changes_df: DataFrame) -> int:
        # merge_apply pins its source once, so the fold joins (and the
        # MIN/MAX rescan subtree) run once per refresh
        return mv.merge_apply(
            spark, _publish_dists(changes_df), keys, op_col="__op",
            meta=head_meta,
        )

    def _publish_dists(changes_df: DataFrame) -> DataFrame:
        if dist_df is None:
            return changes_df
        out = changes_df.join(dist_df, keys, "left")
        for _, a in distincts:
            out = out.withColumn(
                a,
                F.coalesce(F.col(f"__dist__{a}"), F.lit(0)).cast("long"),
            ).drop(f"__dist__{a}")
        return out
    mv_types = {
        f.name: f.dataType
        for f in StructType.fromJson(mv._manifest()["schema"]).fields  # noqa: SLF001
    }
    current = mv.read(spark).join(
        nets.select(*keys).distinct(), keys, "left_semi"
    )
    merged = current.alias("m").join(nets.alias("d"), keys, "full_outer")
    new_cnt = (
        F.coalesce(F.col(f"m.{cnt}"), F.lit(0))
        + F.coalesce(F.col(f"d.{cnt}"), F.lit(0))
    ).cast("long")
    sum_exprs, nn_exprs = _merged_sum_exprs(sums, mv_types)
    if not (mins or maxs):
        changes_df = merged.select(
            *keys,
            *sum_exprs,
            *nn_exprs,
            new_cnt.alias(cnt),
            F.when(new_cnt > 0, F.lit("upsert"))
            .otherwise(F.lit("delete"))
            .alias("__op"),
        )
        if avgs:
            changes_df = changes_df.select("*", *_avg_publish_exprs(avgs))
        return _commit_changes(changes_df)
    # MIN/MAX path: a group needs a rescan only if it SURVIVES and a
    # deleted value ties-or-beats its maintained extremum (the bounded
    # rescan-on-retraction doctrine); dead groups delete,
    # fold-only groups take least/greatest join-free. NULL deleted
    # values never probe (MIN/MAX ignore NULLs). A group ABSENT from
    # the stored MV that still carries a delete-side probe must ALSO
    # rescan: a non-netted feed (the bilinear join delta emits
    # cancelling +1/−1 pairs instead of netting them) can land a
    # phantom pair in a brand-new group, and with no stored extremum
    # to probe against, least/greatest would adopt the phantom value
    # as the group's MIN/MAX (r14 q_materialized_view_join_exprkey
    # caught this — fine-grained expression keys make new groups
    # common; coarse plain-key views masked it).
    probes = [
        F.coalesce(F.col(f"d.__del__{a}") <= F.col(f"m.{a}"), F.lit(False))
        | (F.col(f"m.{cnt}").isNull() & F.col(f"d.__del__{a}").isNotNull())
        for _, a in mins
    ] + [
        F.coalesce(F.col(f"d.__del__{a}") >= F.col(f"m.{a}"), F.lit(False))
        | (F.col(f"m.{cnt}").isNull() & F.col(f"d.__del__{a}").isNotNull())
        for _, a in maxs
    ]
    trigger = reduce(lambda x, y: x | y, probes) & (new_cnt > 0)
    pre = merged.select(
        *keys,
        *sum_exprs,
        *nn_exprs,
        *[
            F.least(F.col(f"m.{a}"), F.col(f"d.__ins__{a}")).alias(a)
            for _, a in mins
        ],
        *[
            F.greatest(F.col(f"m.{a}"), F.col(f"d.__ins__{a}")).alias(a)
            for _, a in maxs
        ],
        new_cnt.alias(cnt),
        trigger.alias("__trig"),
    ).persist()
    try:
        trig_keys = pre.where(F.col("__trig")).select(*keys).distinct()
        rescan = rescan_fn(trig_keys).groupBy(*keys).agg(
            *[F.min(F.expr(e)).alias(f"__rs__{a}") for e, a in mins],
            *[F.max(F.expr(e)).alias(f"__rs__{a}") for e, a in maxs],
        )
        changes_df = pre.join(rescan, keys, "left").select(
            *keys,
            *[F.col(a) for _, a in sums],
            *[F.col(_nn(a)) for _, a in sums],
            *[
                F.when(F.col("__trig"), F.col(f"__rs__{a}"))
                .otherwise(F.col(a))
                .cast(mv_types[a])
                .alias(a)
                for _, a in mins + maxs
            ],
            F.col(cnt),
            F.when(F.col(cnt) > 0, F.lit("upsert"))
            .otherwise(F.lit("delete"))
            .alias("__op"),
        )
        if avgs:
            changes_df = changes_df.select("*", *_avg_publish_exprs(avgs))
        return _commit_changes(changes_df)
    finally:
        pre.unpersist()


def _fold_supports(
    spark: SparkSession,
    mv: VersionedTable,
    d: dict,
    delta: DataFrame,
    touched: DataFrame,
    mv_wm: dict,
    head_wm: dict,
    lag_delta,
) -> DataFrame:
    """Advance every COUNT(DISTINCT) support table to ``head_wm`` and
    return ``touched`` (the refresh's touched group keys) with one
    ``__dist__<alias>`` recount per distinct column — ONE support fold
    shared by single-table and JOIN refreshes. A support table at the
    MV's own watermark ``mv_wm`` folds the refresh's ``delta`` (the
    normal case); one left ahead of it by a crash between the support
    fold and the MV commit re-folds only ``lag_delta(support_wm)``, the
    feed from its own watermark; one already at ``head_wm`` folds
    nothing. Watermarks are ``_support_wm``-shaped dicts."""
    keys = d["group_keys"]
    dist_df = touched
    for e, a in d["distincts"]:
        sup = _support_table(mv, a)
        s_wm = _support_wm(sup)
        if s_wm != head_wm:
            sdelta = delta if s_wm == mv_wm else lag_delta(s_wm)
            snets = _nets_with_extrema(
                sdelta.where(F.expr(e).isNotNull()).select(
                    "_change_type", *keys, F.expr(e).alias("__dv")
                ),
                [*keys, "__dv"],
                [],
                [],
                [],
                "__mult",
            )
            _merge_nets(
                spark,
                sup,
                snets,
                [*keys, "__dv"],
                [],
                "__mult",
                head_meta={_SUPPORT_META: head_wm},
            )
        # published count = surviving support rows per touched group
        # (support is key-pruned: cost ∝ churned groups' distinct
        # values, never the base)
        dist_df = dist_df.join(
            sup.read(spark)
            .join(touched, keys, "left_semi")
            .groupBy(*keys)
            .agg(F.count(F.lit(1)).cast("long").alias(f"__dist__{a}")),
            keys,
            "left",
        )
    return dist_df


def refresh_materialized_view(
    spark: SparkSession,
    mv: VersionedTable,
    base: VersionedTable,
    full: bool = False,
) -> tuple[int, str]:
    """Advance the MV to the base's head. Returns ``(mv_version,
    mode)`` where mode is ``noop`` (watermark already at head),
    ``incremental`` (CDF fold), or ``full`` (rebuild requested)."""
    d = definition(mv)
    keys, cnt = d["group_keys"], d["count_col"]
    sums = _eff_sums(d)
    avgs = d.get("avgs", [])
    mins, maxs = d.get("mins", []), d.get("maxs", [])
    head = base.latest_version()
    # A successful advance to head subsumes any out-of-order exception
    # set a streaming run left behind — drop it from the stored meta.
    d_adv = {k: v for k, v in d.items() if k != "stream_folded"}
    if full:
        v = _build_and_guard(
            spark,
            base.read(spark, head),
            mv,
            {**d_adv, "base_version": head},
            "full refresh",
        )
        return v, "full"
    _restore_guard(mv)
    wm = d["base_version"]
    if head == wm:
        return mv.latest_version(), "noop"
    folded = {int(x) for x in d.get("stream_folded", ())}
    if folded:
        # A streaming run folded some above-floor versions out of
        # order; changes(wm, head) would double-fold them. Fold the
        # per-version feeds of ONLY the pending data commits — same
        # total churn, per-commit file diffs.
        pending = [
            v
            for v in base.versions()
            if wm < v <= head
            and v not in folded
            and base._manifest(v)["op"] not in _FEEDLESS_OPS  # noqa: SLF001
        ]
        if not pending:
            return mv.latest_version(), "noop"
        delta = reduce(
            DataFrame.unionByName,
            [base.changes(spark, v - 1, v) for v in pending],
        )
    else:
        delta = base.changes(spark, wm, head)
    delta = _with_key_exprs(_with_where(delta, d), d)
    nets = _nets_with_extrema(delta, keys, sums, mins, maxs, cnt).persist()
    touched = None
    try:
        _null_key_guard(nets, keys, "refresh")
        dists = d.get("distincts", [])
        dist_df = None
        if dists:
            touched = nets.select(*keys).distinct().persist()
            dist_df = _fold_supports(
                spark,
                mv,
                d,
                delta,
                touched,
                mv_wm={"watermark": wm},
                head_wm={"watermark": head},
                lag_delta=lambda s_wm: _with_key_exprs(
                    _with_where(
                        base.changes(spark, s_wm["watermark"], head), d
                    ),
                    d,
                ),
            )
        # No forced broadcast in the rescan semi-join: a bulk delete can
        # trigger millions of groups; AQE picks broadcast when trig_keys
        # is actually small (same doctrine as join_signed_delta's
        # mixed-term prunes).
        v = _merge_nets(
            spark,
            mv,
            nets,
            keys,
            sums,
            cnt,
            head_meta={_META_KEY: {**d_adv, "base_version": head}},
            rescan_fn=lambda trig: _with_key_exprs(
                _with_where(base.read(spark, head), d), d
            ).join(trig, keys, "left_semi"),
            mins=mins,
            maxs=maxs,
            avgs=avgs,
            distincts=dists,
            dist_df=dist_df,
        )
    finally:
        nets.unpersist()
        if touched is not None:
            touched.unpersist()
    return v, "incremental"


def join_signed_delta(
    a_old: DataFrame,
    da: DataFrame | None,
    b_old: DataFrame,
    db: DataFrame | None,
    on: list[str],
) -> DataFrame:
    """Change feed of the JOIN VIEW ``A ⋈ B`` from each base table's
    own change feed — the classic bilinear delta rule (DBSP / pg_ivm;
    the identity every incremental view maintenance engine uses):

        Δ(A ⋈ B) = ΔA ⋈ B₀  +  A₀ ⋈ ΔB  +  ΔA ⋈ ΔB

    where A₀/B₀ are the PRE-change snapshots and each delta is a signed
    multiset (``insert``/``update_postimage`` count +1, ``delete``/
    ``update_preimage`` −1; an update is algebraically a delete+insert
    pair, so signs multiply through the cross term). ``da``/``db`` are
    ``VersionedTable.changes`` frames carrying exactly their side's
    columns plus ``_change_type``; pass ``None`` for a side that did
    not change and its terms vanish. Returns the joined rows
    (``on`` keys + both sides' payload columns) with a ``_change_type``
    of ``insert``/``delete``, ready for the signed fold
    (``_nets_with_extrema``) — so a JOIN-view aggregate MV refreshes
    without ever re-running the join over the full base tables.

    Why this is the 100 TB shape: the only full-snapshot inputs are the
    two mixed terms, and each is LEFT SEMI pruned to the other side's
    delta keys BEFORE its join — ``A₀ ⋈ ΔB`` reads only the A rows
    whose join key appears in the (churn-sized) dim delta, which
    partition/stats pruning turns into a partial scan; no term is ever
    ``|A| × |B|``. AQE broadcasts the delta sides when they fit (no
    forced hint: a delta CAN be large after a bulk backfill, and the
    plan must survive that). Multiplicities are exact multiset algebra:
    one +1 fact-delta row matching k dim rows yields k +1 joined rows.
    """
    a_cols = [c for c in a_old.columns if c not in on]
    b_cols = [c for c in b_old.columns if c not in on]
    overlap = set(a_cols) & set(b_cols)
    if overlap:
        raise ValueError(
            f"join_signed_delta: non-key columns collide: {sorted(overlap)}"
            " — alias one side before differencing"
        )
    for side, delta, base in (("da", da, a_old), ("db", db, b_old)):
        if delta is None:
            continue
        want = set(base.columns) | {"_change_type"}
        got = set(delta.columns)
        if got != want:
            raise ValueError(
                f"join_signed_delta: {side} columns {sorted(got)} != "
                f"base columns + _change_type {sorted(want)}"
            )
    sign = F.when(F.col("_change_type").isin(*_ADDITIVE), 1).otherwise(-1)
    out = on + a_cols + b_cols
    terms: list[DataFrame] = []
    if da is not None:
        da_s = da.select(*on, *a_cols, sign.alias("__sa"))
        b_pruned = b_old.join(da_s.select(*on).distinct(), on, "left_semi")
        terms.append(
            da_s.join(b_pruned, on).select(*out, F.col("__sa").alias("__sign"))
        )
    if db is not None:
        db_s = db.select(*on, *b_cols, sign.alias("__sb"))
        a_pruned = a_old.join(db_s.select(*on).distinct(), on, "left_semi")
        terms.append(
            a_pruned.join(db_s, on).select(*out, F.col("__sb").alias("__sign"))
        )
    if da is not None and db is not None:
        terms.append(
            da_s.join(db_s, on).select(
                *out, (F.col("__sa") * F.col("__sb")).alias("__sign")
            )
        )
    if not terms:
        raise ValueError("join_signed_delta: both deltas are None")
    signed = reduce(DataFrame.unionByName, terms)
    return signed.select(
        *out,
        F.when(F.col("__sign") > 0, F.lit("insert"))
        .otherwise(F.lit("delete"))
        .alias("_change_type"),
    )


def refresh_materialized_join_view(
    spark: SparkSession,
    mv: VersionedTable,
    a: VersionedTable,
    b: VersionedTable,
    full: bool = False,
) -> tuple[int, str]:
    """Advance a JOIN-view MV to both bases' heads: the join's own
    change feed comes from the bilinear delta rule over the two CDFs,
    then folds through the SAME merge path as a single-table refresh.
    Returns ``(mv_version, mode)``.

    MIN/MAX retraction rescan uses the BOUNDED JOIN SLICE: triggered
    group keys semi-prune EACH base on the subset of group keys that
    side carries (and the un-pruned side through the pruned side's
    join keys), so only the triggered groups' join slices recompute —
    never ``A ⋈ B`` over the full bases."""
    d = definition(mv)
    keys, cnt = d["group_keys"], d["count_col"]
    sums = _eff_sums(d)
    avgs = d.get("avgs", [])
    mins, maxs = d.get("mins", []), d.get("maxs", [])
    on = d["join_on"]
    ha, hb = a.latest_version(), b.latest_version()
    if full:
        joined = a.read(spark, ha).join(b.read(spark, hb), on)
        v = _build_and_guard(
            spark,
            joined,
            mv,
            {**d, "base_version": ha, "base_b_version": hb},
            "full refresh",
        )
        return v, "full"
    _restore_guard(mv)
    wa, wb = d["base_version"], d["base_b_version"]
    if (ha, hb) == (wa, wb):
        return mv.latest_version(), "noop"

    def _delta_since(va: int, vb: int) -> DataFrame:
        """The join's signed change feed from base versions (va, vb) to
        the heads (ha, hb)."""
        return _with_key_exprs(
            _with_where(
                join_signed_delta(
                    a.read(spark, va),
                    a.changes(spark, va, ha) if ha != va else None,
                    b.read(spark, vb),
                    b.changes(spark, vb, hb) if hb != vb else None,
                    on=on,
                ),
                d,
            ),
            d,
        )

    delta = _delta_since(wa, wb)
    dists = d.get("distincts", [])
    if dists:
        # the bilinear delta feeds both the MV nets and each distinct
        # support fold — cache it once (churn-proportional by the
        # semi-pruned mixed terms)
        delta = delta.persist()
    nets = _nets_with_extrema(delta, keys, sums, mins, maxs, cnt).persist()

    def _join_slice(trig: DataFrame) -> DataFrame:
        """Rows of exactly the triggered groups' join slices at the new
        heads: semi-prune each base on the group keys it can CARRY —
        plain columns it owns plus expression keys stampable on it
        (``_stamp_side``) — cross-prune a side with no direct group
        key through the other side's join keys, then re-assert the
        full key set post-join (the per-side prunes are supersets when
        keys span both sides). No forced broadcasts — AQE sizes the
        churn-keyed semi joins."""
        sa, sb = a.read(spark, ha), b.read(spark, hb)
        ke = d.get("key_exprs", [[k, k] for k in keys])
        sa_st, ka = _stamp_side(sa, ke)
        sb_st, kb = _stamp_side(sb, ke)
        if ka:
            sa = sa_st.join(
                trig.select(*ka).distinct(), ka, "left_semi"
            ).select(*sa.columns)
        if kb:
            sb = sb_st.join(
                trig.select(*kb).distinct(), kb, "left_semi"
            ).select(*sb.columns)
        if ka and not kb:
            sb = sb.join(sa.select(*on).distinct(), on, "left_semi")
        if kb and not ka:
            sa = sa.join(sb.select(*on).distinct(), on, "left_semi")
        return _with_key_exprs(_with_where(sa.join(sb, on), d), d).join(
            trig, keys, "left_semi"
        )

    touched = None
    try:
        _null_key_guard(nets, keys, "refresh")
        dist_df = None
        if dists:
            touched = nets.select(*keys).distinct().persist()
            dist_df = _fold_supports(
                spark,
                mv,
                d,
                delta,
                touched,
                mv_wm={"watermark": wa, "watermark_b": wb},
                head_wm={"watermark": ha, "watermark_b": hb},
                lag_delta=lambda s_wm: _delta_since(
                    s_wm["watermark"], s_wm["watermark_b"]
                ),
            )
        v = _merge_nets(
            spark,
            mv,
            nets,
            keys,
            sums,
            cnt,
            head_meta={
                _META_KEY: {**d, "base_version": ha, "base_b_version": hb}
            },
            rescan_fn=_join_slice,
            mins=mins,
            maxs=maxs,
            avgs=avgs,
            distincts=dists,
            dist_df=dist_df,
        )
    finally:
        nets.unpersist()
        if dists:
            delta.unpersist()
        if touched is not None:
            touched.unpersist()
    return v, "incremental"


def _feed_has_rows(base: VersionedTable, version: int) -> bool | None:
    """Driver-side parquet-FOOTER check of one commit's materialized
    feed: True/False row presence if the feed dir exists, None if the
    commit never materialized one. Bounded metadata (one footer per
    feed file; feeds are one-file-per-commit), no Spark job."""
    d = base._cdf_version_dir(version)  # noqa: SLF001
    if not os.path.isdir(d):
        return None
    import pyarrow.parquet as pq

    total = 0
    for name in os.listdir(d):
        if name.endswith(".parquet"):
            total += pq.read_metadata(os.path.join(d, name)).num_rows
    return total > 0


def _fold_stream_batch(
    spark: SparkSession,
    mv: VersionedTable,
    base: VersionedTable,
    batch: DataFrame,
    batch_id: int,
    run_token: str,
) -> bool:
    """Fold ONE change-feed micro-batch into the MV; returns whether a
    commit happened. Module-level (not a closure) so tests can drive
    batches in an adversarial delivery order deterministically.

    Out-of-order delivery guard: the file source breaks mtime ties
    lexicographically (``_commit_version=10`` sorts before ``=9``), so
    a single high-watermark would mark 10 folded and later drop 9's
    rows as replay. Folded state is therefore a contiguous FLOOR
    (``base_version``: every data commit ≤ it is folded) plus an
    above-floor exception SET (``stream_folded``) — bounded by the
    delivery skew, not the history, because the floor advances through
    the base's commit sequence (feedless commits count as folded: they
    produce no feed rows by construction) and the set keeps only
    what's beyond the first unfolded gap. SUM/COUNT/AVG folds commute,
    so within-batch order never matters — only the replay filter does.
    """
    d = definition(mv)  # re-read: prior batches advanced it
    _restore_guard(mv)
    if d.get("distincts") or "base_b" in d:
        # stream_refresh_materialized_view refuses these up front; this
        # guard keeps a direct caller from folding past the distinct
        # support tables (or folding ONE feed into a join view) and
        # silently corrupting the view
        raise ValueError(
            "streaming fold supports single-table SUM/COUNT/AVG/MIN/MAX "
            "views only — COUNT(DISTINCT) and JOIN views need batch "
            "REFRESH"
        )
    keys, cnt = d["group_keys"], d["count_col"]
    sums, avgs = _eff_sums(d), d.get("avgs", [])
    mins, maxs = d.get("mins", []), d.get("maxs", [])
    if d.get("stream_run") == run_token and batch_id <= d.get(
        "stream_batch_id", -1
    ):
        return False  # within-run retry of an already-committed batch
    floor = d["base_version"]
    folded_set = {int(v) for v in d.get("stream_folded", ())}
    live = batch.where(F.col("_commit_version") > floor)
    if folded_set:
        live = live.where(~F.col("_commit_version").isin(*sorted(folded_set)))
    live = live.persist()
    try:
        # bounded collect: one row per commit version in this
        # micro-batch (feed files are one-per-commit)
        vs = {
            int(r[0])
            for r in live.select("_commit_version").distinct().collect()
        }
        if not vs:
            return False  # pure replay below the floor: nothing to fold
        new_set = folded_set | vs
        new_floor = floor
        for bv in base.versions():
            if bv <= new_floor:
                continue
            if bv in new_set:
                new_set.discard(bv)
                new_floor = bv
            elif base._manifest(bv)["op"] in _FEEDLESS_OPS:  # noqa: SLF001
                new_floor = bv  # no feed rows ever: implicitly folded
            elif _feed_has_rows(base, bv) is False:
                # a DATA commit whose net churn was empty (e.g. an
                # UPDATE matching zero rows): its feed file has no rows
                # to ever arrive, so without this the floor would stall
                # here and the exception set would grow per commit
                # forever
                new_floor = bv
            else:
                break  # first unfolded data commit: floor stops here
        live_k = _with_key_exprs(_with_where(live, d), d)
        nets = _nets_with_extrema(
            live_k, keys, sums, mins, maxs, cnt
        ).persist()

        def _folded_state_rows(trig: DataFrame) -> DataFrame:
            """Rows of exactly the retraction-triggered groups in the
            FOLDED state this commit publishes: the floor snapshot plus
            the above-floor EXCEPTION versions' feeds, netted at row
            level (signed multiset) with surviving rows kept once —
            MIN/MAX are multiplicity-blind, so the distinct survivors
            rescan exactly. With an empty exception set (in-order
            delivery, the common case) this is precisely the batch
            path's semi-pruned snapshot rescan at the new watermark."""
            base_cols = base.read(spark, new_floor).columns
            # expression keys are materialized BEFORE each semi-join
            # (trig carries alias columns) and re-derived after the
            # multiset net, which groups on the raw base columns only
            parts = [
                _with_key_exprs(
                    _with_where(base.read(spark, new_floor), d), d
                )
                .join(trig, keys, "left_semi")
                .select(*base_cols, F.lit(1).alias("__s"))
            ]
            for v in sorted(new_set):
                parts.append(
                    _with_key_exprs(
                        _with_where(base.changes(spark, v - 1, v), d), d
                    )
                    .join(trig, keys, "left_semi")
                    .select(
                        *base_cols,
                        F.when(
                            F.col("_change_type").isin(*_ADDITIVE), 1
                        )
                        .otherwise(-1)
                        .alias("__s"),
                    )
                )
            allr = reduce(DataFrame.unionByName, parts)
            return _with_key_exprs(
                allr.groupBy(*base_cols)
                .agg(F.sum("__s").alias("__m"))
                .where(F.col("__m") > 0)
                .drop("__m"),
                d,
            )

        try:
            _null_key_guard(nets, keys, "stream refresh")
            _merge_nets(
                spark,
                mv,
                nets,
                keys,
                sums,
                cnt,
                head_meta={
                    _META_KEY: {
                        **d,
                        "base_version": new_floor,
                        "stream_folded": sorted(new_set),
                        "stream_run": run_token,
                        "stream_batch_id": batch_id,
                    }
                },
                rescan_fn=_folded_state_rows if (mins or maxs) else None,
                mins=mins,
                maxs=maxs,
                avgs=avgs,
            )
        finally:
            nets.unpersist()
    finally:
        live.unpersist()
    return True


def stream_refresh_materialized_view(
    spark: SparkSession,
    mv: VersionedTable,
    base: VersionedTable,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    timeout_s: float = 300.0,
) -> int:
    """CONTINUOUS refresh (Delta Live Tables' mode): drain the base's
    materialized change feed (``stream_changes`` — exactly-once per
    feed file) with ``availableNow`` and fold every micro-batch into
    the MV through the SAME ``_merge_nets`` path as batch REFRESH.
    Returns the number of micro-batches that folded.

    Composes with batch REFRESH in both directions because each fold
    commit ADVANCES the stored ``base_version`` watermark to the
    highest ``_commit_version`` it folded: a later batch REFRESH folds
    only what streaming hasn't, and a later streaming run — even with
    a FRESH checkpoint, which replays the whole feed — drops every row
    at or below the watermark before folding (double-fold proof). Within
    a run, ``foreachBatch`` is at-least-once: a retried batch re-arrives
    under the same monotone ``batch_id``, and the last folded
    (run-token, id) pair rides the MV commit meta, so a retry of an
    already-committed batch is a no-op (the q_stream_mv idempotency
    doctrine, here enforced through the MV's own log instead of driver
    state). The guard is SCOPED to this run's token: Structured
    Streaming batch ids restart at 0 per checkpoint lineage, so a
    table-wide id comparison would silently skip a fresh-checkpoint
    run's early batches — new data included; across runs only the
    watermark filter decides.

    MIN/MAX views stream too: the insert-only fold is join-free
    (least/greatest inside ``_merge_nets``); a retraction batch that
    ties-or-beats a stored extremum falls back to the bounded rescan
    over the FOLDED state — the floor snapshot plus the above-floor
    folded exception feeds, netted at row level and semi-pruned to the
    triggered groups (``_folded_state_rows``), so an out-of-order
    delivery window never leaks unfolded commits into the rescan.

    Restrictions: single-table views only (JOIN views need both feeds —
    batch REFRESH handles the bilinear rule) and no COUNT(DISTINCT)
    (the support-table fold rides batch REFRESH).
    """
    d0 = definition(mv)
    if "base_b" in d0:
        raise ValueError(
            "streaming refresh of a JOIN view is not supported — the "
            "bilinear rule needs both bases' feeds; use batch REFRESH"
        )
    if d0.get("distincts"):
        raise ValueError(
            "streaming refresh with COUNT(DISTINCT) is not supported — "
            "the support-table fold rides batch REFRESH"
        )
    folded = [0]
    import uuid

    run_token = uuid.uuid4().hex

    def fold(batch: DataFrame, batch_id: int) -> None:
        if _fold_stream_batch(spark, mv, base, batch, batch_id, run_token):
            folded[0] += 1

    reader = base.stream_changes(
        spark, max_files_per_trigger=max_files_per_trigger
    )
    q = (
        reader.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"streaming refresh did not drain within {timeout_s}s"
        )
    return folded[0]

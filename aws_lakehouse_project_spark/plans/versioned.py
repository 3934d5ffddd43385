"""Manifest-versioned parquet tables — the portable transaction layer.

BASELINE.json's stated production stack is "Spark SQL + Delta/Iceberg";
neither jar is deployable in this environment (probes recorded in
BASELINE.md rounds 5-7), so MERGE has run on partition-overwrite
semantics. This module closes the remaining gap AS FAR AS A PLAIN
FILESYSTEM ALLOWS by re-implementing the small transactional core those
formats provide — the same design Delta's ``_delta_log`` and Iceberg's
metadata tree use, re-expressed minimally:

- **Atomic commits**: data files are immutable and written to a fresh
  per-commit directory; a commit is the atomic creation of one manifest
  file ``_log/{version:08d}.json`` listing the table's complete file set.
  Readers never observe a half-written table: either the manifest exists
  (all its files were fully written first) or it doesn't.
- **Snapshot isolation + time travel**: a reader resolves a manifest
  once and reads only the files it names; concurrent commits create NEW
  files and a NEW manifest, never touching files a snapshot references.
  ``read(version=N)`` is time travel for free.
- **File-granular copy-on-write MERGE/DELETE**: only files that actually
  contain matched keys/rows are rewritten (found with a semi-join on
  ``input_file_name``); untouched files are carried into the next
  manifest by reference. This is Delta's MERGE algorithm, and it is the
  property that makes upserts affordable at 100 TB — cost scales with
  the touched-file footprint, not the table.
- **Data skipping**: each commit records per-file row counts and
  min/max stats for requested columns (read from the new files' parquet
  footers); ``scan`` prunes the file list against simple
  range/equality predicates before Spark ever plans the read — the
  manifest-level half of partition pruning, which works on ANY column,
  not just the partition key.
- **OPTIMIZE / VACUUM**: ``optimize`` bin-packs only the undersized
  files into a new commit (op-level incremental compaction, unlike the
  whole-table rewrite in ``sources/writers.py::compact_table`` whose
  docstring promises exactly this manifest-based upgrade); ``vacuum``
  drops data files referenced only by expired versions.
- **Optimistic concurrency**: version N is claimed with an atomic
  ``os.link`` (fails if a competitor won). Blind appends rebase onto
  the CURRENT head on every claim attempt (the CAS alone can't catch a
  competitor that committed before our first claim — it would win a
  fresh version number with a stale file list); copy-on-write ops carry
  their snapshot version as ``expected_head`` and fail loudly with
  ``ConcurrentWriteError`` if ANY commit landed since — the caller must
  re-run on the new head.

Storage seam: the ONLY primitive the protocol needs is an atomic
create-if-absent of the manifest object, injected as a
``CommitClaimBackend`` — ``PosixLinkClaim`` (tmp + fsync + os.link) by
default, ``ConditionalPutClaim`` in the exact shape of S3's
``PUT If-None-Match: *`` / GCS ``ifGenerationMatch=0`` (a cloud
deployment swaps that one method), exactly as Delta-on-S3 does; every
other code path is object-store clean (immutable files, no renames of
data, no directory listings on the read path). The protocol tests run
against BOTH backends, including deterministically injected races.

Reference parity: the reference's dbt MERGE contract
(``dbt/models/marts/fct_daily_store_metrics.sql:1-5``) targets an
Athena/Glue table; this class is the engine-native table those models
would materialize into.
"""

from __future__ import annotations

import base64
import json
import math
import os
import struct
import zlib
import re
import shutil
import time
import uuid
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

__all__ = [
    "VersionedTable",
    "CommitClaimBackend",
    "PosixLinkClaim",
    "ConditionalPutClaim",
    "ConcurrentWriteError",
    "ConstraintViolationError",
    "TornManifestError",
    "VacuumedVersionError",
    "apply_changes",
    "replicate",
]


class ConcurrentWriteError(RuntimeError):
    """A copy-on-write commit lost the optimistic race: its snapshot is
    stale. Re-read the table head and re-run the logical operation."""


class VacuumedVersionError(FileNotFoundError):
    """Time travel below the vacuum horizon: the manifest (and its data
    files) were reclaimed by ``vacuum``."""


class ConstraintViolationError(ValueError):
    """A write contained rows that fail an active CHECK constraint; the
    commit was aborted and the table head is unchanged."""


class TornManifestError(RuntimeError):
    """A log manifest exists but does not parse: the claim backend
    violated its atomic-visibility contract (object observable without
    its full payload) or the file was externally truncated."""


_LOG_DIR = "_log"
_DATA_DIR = "data"
_CDF_DIR = "_change_data"


class CommitClaimBackend:
    """The ONE storage primitive the commit protocol needs: an atomic
    create-if-absent of a manifest object (compare-and-swap on the
    version number).

    Contract: ``claim(final, payload)`` returns True iff THIS call
    created ``final`` with ``payload``; False iff the object already
    existed (a competitor won that version). It must never return False
    for any other reason — transient storage errors must be resolved
    (retried, then existence-checked) inside the backend, because the
    caller treats False as "rebase onto the winner and move on"; a
    spurious False against an absent object would spin the append-retry
    loop on a version nobody owns. It must never overwrite.

    Visibility must be ATOMIC: ``final`` may never be observable
    without its complete payload. Concurrent writers list the log and
    parse the head manifest mid-race (the append rebase), so an
    object that exists empty for even a syscall's width hands them a
    torn manifest. S3/GCS/ADLS conditional PUTs give this for free —
    the object materializes only when the upload completes — but plain
    POSIX ``open(O_CREAT|O_EXCL)`` does NOT (found by the 8-writer
    stress flaking on ``json.load`` of an empty manifest): a faithful
    local model must publish a fully-written inode via ``link``.

    Everything else in the protocol (append rebase, ``expected_head``
    CAS for copy-on-write ops, constraint revalidation) is
    backend-independent — proven by running the test suite's commit
    protocol against both backends below."""

    def claim(self, final: str, payload: str) -> bool:
        raise NotImplementedError


class PosixLinkClaim(CommitClaimBackend):
    """Local-filesystem default: durable tmp write + ``os.link`` — the
    POSIX create-if-absent (link fails with EEXIST instead of
    overwriting, unlike rename). Crash-safe: the manifest appears only
    complete and fsynced."""

    def claim(self, final: str, payload: str) -> bool:
        tmp = final + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            fh.write(payload)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, final)
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)


class ConditionalPutClaim(CommitClaimBackend):
    """Object-store-shaped backend: ONE logical conditional-create call
    — exactly the S3 ``PUT If-None-Match: *`` / GCS
    ``ifGenerationMatch=0`` / ADLS ``If-None-Match`` shape a cloud
    deployment swaps in (the whole swap is this one method; an S3
    implementation issues the single conditional PUT and maps HTTP 412
    to False — no tmp objects, no rename, and atomic visibility comes
    free because the object materializes only when the upload
    completes).

    The LOCAL model must reproduce that atomic visibility explicitly:
    a first cut used ``open(O_CREAT|O_EXCL)`` + write, and the 8-writer
    stress caught concurrent rebase reads parsing the manifest in the
    exists-but-empty window between the two syscalls. POSIX can only
    publish a fully-written inode atomically via ``link`` of a hidden
    staged file, so the emulation stages under a dotfile name (invisible
    to ``versions()``'s ``.json`` listing) and links it in — the CAS
    and the payload become visible in the same syscall, which is the
    S3 semantic being modeled."""

    def claim(self, final: str, payload: str) -> bool:
        d, base = os.path.split(final)
        staged = os.path.join(d, f".put-{uuid.uuid4().hex}-{base}")
        with open(staged, "w") as fh:
            fh.write(payload)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(staged, final)
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(staged)


def _stat_json(v):
    """Min/max stat value → JSON-serializable, order-preserving form:
    numbers stay numbers (numeric compare), dates/timestamps become ISO
    strings (lexicographic == chronological), everything else str()."""
    if v is None or isinstance(v, (int, float, str, bool)):
        return v
    try:  # datetime/date → ISO; Decimal → float (pruning bounds only)
        return v.isoformat()
    except AttributeError:
        pass
    from decimal import Decimal

    if isinstance(v, Decimal):
        return float(v)
    return str(v)


def _bound_lt(a, b) -> bool:
    """Conservative 'a < b' across stat/probe values: numeric when both
    are numbers, lexicographic when both are strings; mixed or unknown
    types → False (never prune on an uncomparable pair)."""
    num = (int, float)
    if isinstance(a, num) and isinstance(b, num):
        return a < b
    if isinstance(a, str) and isinstance(b, str):
        return a < b
    return False


def _fmt_version(v: int) -> str:
    return f"{v:08d}.json"


# -- delta-encoded manifests ---------------------------------------------------
#
# A full manifest stores the table's COMPLETE file list and per-file
# stats, so a log of C commits over an F-file table costs O(C × F)
# bytes — at 100 TB (~1M files, ~100 MB per manifest) that is the one
# named scale-killer of the r8 design. Delta Lake solves it with
# add/remove ACTION DELTAS plus periodic CHECKPOINT snapshots; the same
# two-piece protocol lands here:
#
# - a commit manifest normally stores only its CHURN against version
#   N-1 ("base": N-1, add/remove file actions, dv churn); the small
#   metadata (schema, constraints, column mapping, op, ts, meta) rides
#   every manifest verbatim so version_at/history audits never replay.
# - every ``checkpoint_interval`` commits (and before vacuum drops a
#   delta's ancestry) the RESOLVED snapshot is written as a sidecar
#   ``{v:08d}.ckpt.json``; resolution walks back at most K steps to the
#   nearest checkpoint / full manifest / cache hit, then folds forward.
# - the encoder falls back to the FULL form whenever it serializes
#   smaller (an overwrite's delta is remove-everything — the full list
#   wins), so pathological shapes never pay the delta overhead, and
#   pre-r9 logs (all-full manifests) read unchanged.
#
# Log growth becomes O(C × churn + (C/K) × F): bytes per commit ∝ what
# the commit touched, exactly like the data plane.

_DELTA_META_KEYS = (
    "version", "op", "ts", "schema", "meta", "constraints",
    "column_mapping", "retired_cols", "bloom_cols", "vacuum_horizon",
    "change_feed",
)

# Ops whose commits change NO row data — layout rewrites and pure
# metadata — so their change feed is empty by construction. ONE list
# shared by materialize_changes (skip writing) and stream_changes'
# completeness guard (skip requiring): the two drifting apart breaks
# CDC streaming after any such commit (found when the vacuum
# horizon-marker op joined the family).
_FEEDLESS_OPS = (
    "optimize", "set_constraint", "drop_constraint",
    "rename_column", "drop_column", "set_bloom_index", "vacuum",
    "set_change_feed",
)

#: Reserved constraint-name prefix backing NOT NULL columns: rides the
#: CHECK channel (one enforcement pass, one drift check) but is
#: surfaced and managed as column DDL, not user CHECK constraints.
_NOTNULL_PREFIX = "__notnull__"


def _encode_delta(full: dict, parent: dict) -> dict:
    """``full`` (version N, files in canonical parent-relative order —
    ``_commit`` guarantees this) as an action delta against ``parent``
    (version N-1). ``_apply_delta(parent, delta)`` reconstructs ``full``
    exactly."""
    pfiles, ffiles = parent["files"], full["files"]
    pset, fset = set(pfiles), set(ffiles)
    delta = {k: full[k] for k in _DELTA_META_KEYS if k in full}
    delta["base"] = parent["version"]
    remove = [f for f in pfiles if f not in fset]
    if remove:
        delta["remove"] = remove
    add = [f for f in ffiles if f not in pset]
    if add:
        delta["add_files"] = add
    stats_add = {
        f: s
        for f in ffiles
        if (s := full["stats"].get(f)) is not None
        and parent["stats"].get(f) != s
    }
    if stats_add:
        delta["stats_add"] = stats_add
    pdv, fdv = parent.get("dvs", {}), full.get("dvs", {})
    dv_set = {f: d for f, d in fdv.items() if pdv.get(f) != d}
    dv_unset = [f for f in pdv if f in fset and f not in fdv]
    if dv_set:
        delta["dv_set"] = dv_set
        delta["dv_counts_set"] = {
            f: full.get("dv_counts", {})[f] for f in dv_set
        }
    if dv_unset:
        delta["dv_unset"] = dv_unset
    return delta


def _apply_delta(parent: dict, raw: dict) -> dict:
    """Fold one action delta onto its resolved parent snapshot."""
    removed = set(raw.get("remove", []))
    files = [f for f in parent["files"] if f not in removed]
    files += raw.get("add_files", [])
    stats = {
        f: s for f, s in parent["stats"].items() if f not in removed
    }
    stats.update(raw.get("stats_add", {}))
    full = {k: raw[k] for k in _DELTA_META_KEYS if k in raw}
    full["files"] = files
    full["stats"] = stats
    unset = removed | set(raw.get("dv_unset", []))
    dvs = {
        f: d for f, d in parent.get("dvs", {}).items() if f not in unset
    }
    dvs.update(raw.get("dv_set", {}))
    if dvs:
        counts = {
            f: c
            for f, c in parent.get("dv_counts", {}).items()
            if f in dvs
        }
        counts.update(raw.get("dv_counts_set", {}))
        full["dvs"] = dvs
        full["dv_counts"] = counts
    return full


def _violation_expr(expr: str) -> Column:
    """Per-row CHECK violation predicate, standard SQL semantics: only
    FALSE violates; NULL (unknown) passes."""
    return ~F.coalesce(F.expr(expr), F.lit(True))


def _violation_error(path: str, bad: dict) -> ConstraintViolationError:
    return ConstraintViolationError(
        f"write to {path} violates CHECK constraint(s) {bad} "
        "(violating-row counts); commit aborted"
    )


def _violation_counters(cons: dict) -> list[Column]:
    """One ``count_if`` per constraint, aliased ``v0, v1, ...`` in
    ``cons`` order — aggregated by ``_count_violations`` and observed on
    every commit's write by ``_write_commit_files``."""
    return [
        F.count_if(_violation_expr(e)).alias(f"v{i}")
        for i, e in enumerate(cons.values())
    ]


def _nonzero_violations(cons: dict, counts) -> dict:
    """{name: n_violations} for the constraints whose ``v{i}`` count in
    ``counts`` (a Row or an observed-metrics dict) is non-zero."""
    return {n: counts[f"v{i}"] for i, n in enumerate(cons) if counts[f"v{i}"] > 0}


def _count_violations(df: DataFrame, cons: dict) -> dict:
    """One aggregate over ``df`` counting violations of every active
    constraint; returns {name: n_violations} for the non-zero ones."""
    if not cons:
        return {}
    return _nonzero_violations(cons, df.agg(*_violation_counters(cons)).first())


class VersionedTable:
    """A versioned parquet table rooted at ``path`` (see module doc).

    ``stats_cols`` selects the columns whose per-file min/max are
    recorded at commit time for manifest-level data skipping; row counts
    are always recorded.
    """

    def __init__(
        self,
        path: str,
        stats_cols: Sequence[str] = (),
        change_feed: bool | None = None,
        claim_backend: CommitClaimBackend | None = None,
        checkpoint_interval: int = 20,
        bloom_cols: Sequence[str] | None = None,
        auto_compact: tuple[int, int] | None = None,
    ) -> None:
        self.path = path
        self.stats_cols = list(stats_cols)
        # per-file split-block Bloom sidecars for these columns (Delta's
        # bloom filter index shape): written at commit next to the data
        # files, consulted by scan(eq=...) for point-lookup file
        # skipping where min/max spans are non-selective. The choice is
        # TABLE metadata (persisted in the manifest like constraints):
        # None inherits the head's setting — a fresh handle keeps
        # writing sidecars on every commit — [] explicitly disables,
        # a list sets/updates it at this handle's next commit.
        self.bloom_cols = list(bloom_cols) if bloom_cols is not None else None
        # Delta's autoCompact: (min_small_files, target_rows_per_file).
        # After any commit that changes the file LAYOUT through this
        # handle (write_full / append / replace_where / merge_upsert /
        # merge_apply / write_audit_publish / copy-on-write delete &
        # update — merge-on-read commits only add deletion vectors,
        # never small files), if at
        # least min_small_files live files hold < target/2 rows, an
        # OPTIMIZE bin-pack lands as its own BEST-EFFORT follow-up
        # commit (lost races skipped; see _maybe_auto_compact) —
        # trickle appends (streaming sinks, CDC replication) stay
        # bounded in file count instead of degrading every later scan.
        # Policy is per-handle, like stats_cols.
        self.auto_compact = auto_compact
        # Change-feed enablement is TABLE metadata persisted in the
        # manifest (Delta's delta.enableChangeDataFeed table property,
        # same inheritance rule as bloom_cols): None inherits the
        # head's setting — a fresh handle on a CDF table keeps
        # materializing feeds — an explicit bool sets/updates it at
        # this handle's next commit. SQL: ALTER TABLE t SET CHANGE
        # FEED = true|false.
        self._change_feed = change_feed
        self._claim = claim_backend or PosixLinkClaim()
        # delta-log knobs: commits claim action deltas (see module-level
        # _encode_delta) and every `checkpoint_interval` versions the
        # resolved snapshot lands as a .ckpt.json sidecar, bounding
        # resolution to a K-step replay. Resolved manifests are
        # IMMUTABLE per version, so a small per-instance cache is safe.
        self.checkpoint_interval = int(checkpoint_interval)
        self._mcache: dict[int, dict] = {}
        # (head_version, watermark) memo for _last_replicated_version
        self._repl_wm_cache: tuple[int, int | None] | None = None
        # constraint set the most recent _write_commit_files validated
        # against; _commit compares it to the active set at claim time
        # so a concurrently-added constraint can't be bypassed
        self._validated_constraints: dict[str, str] | None = None
        os.makedirs(os.path.join(path, _LOG_DIR), exist_ok=True)
        os.makedirs(os.path.join(path, _DATA_DIR), exist_ok=True)
        if change_feed:
            os.makedirs(os.path.join(path, _CDF_DIR), exist_ok=True)

    @property
    def change_feed(self) -> bool:
        """Effective change-feed setting: this handle's explicit choice,
        else the persisted table property from the head manifest."""
        if self._change_feed is not None:
            return self._change_feed
        try:
            head = self.latest_version()
        except OSError:
            return False
        if head is None:
            return False
        return bool(self._manifest(head).get("change_feed", False))

    @change_feed.setter
    def change_feed(self, value: bool | None) -> None:
        self._change_feed = value

    # -- manifest plumbing --------------------------------------------------

    def _log_path(self, version: int) -> str:
        return os.path.join(self.path, _LOG_DIR, _fmt_version(version))

    def versions(self) -> list[int]:
        names = os.listdir(os.path.join(self.path, _LOG_DIR))
        return sorted(
            int(n[:-5]) for n in names if n.endswith(".json") and n[:-5].isdigit()
        )

    def latest_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def latest_meta(self, key: str):
        """Most recent commit whose ``meta`` carries ``key`` (backward
        raw-manifest walk — meta-only reads, no snapshot replay), or
        None. The shared lookup for every state that rides commit meta
        (MV definitions, support/apply-changes watermarks): maintenance
        commits carry their own meta and must not shadow it."""
        if self.exists():
            for v in reversed(self.versions()):
                m = self._raw_manifest(v).get("meta", {}).get(key)
                if m is not None:
                    return m
        return None

    def exists(self) -> bool:
        return self.latest_version() is not None

    def _raw_manifest(self, version: int) -> dict:
        """The manifest AS CLAIMED — a full snapshot or an action delta
        ("base" key present). Metadata fields (op, ts, meta, schema,
        constraints) ride both forms, so callers that only audit those
        (version_at, stream_changes' feed check, the replication
        watermark) read raw and never pay a replay."""
        p = self._log_path(version)
        if not os.path.exists(p):
            vs = self.versions()
            if vs and version < vs[0]:
                raise VacuumedVersionError(
                    f"version {version} of {self.path} was vacuumed "
                    f"(oldest retained: {vs[0]})"
                )
            raise FileNotFoundError(
                f"no version {version} in {self.path} (have: {vs})"
            )
        with open(p) as fh:
            try:
                return json.load(fh)
            except json.JSONDecodeError as exc:
                # a manifest that exists but does not parse means the
                # claim backend broke its atomic-visibility contract
                # (object observable without its full payload) or the
                # file was externally truncated — name the invariant
                # instead of surfacing a bare parse error
                raise TornManifestError(
                    f"manifest {p} exists but is not valid JSON "
                    f"({exc}); the commit-claim backend must publish "
                    "payload and object atomically (see "
                    "CommitClaimBackend contract)"
                ) from exc

    def _ckpt_path(self, version: int) -> str:
        return os.path.join(self.path, _LOG_DIR, f"{version:08d}.ckpt.json")

    def _write_checkpoint(self, manifest: dict) -> None:
        """Persist a resolved snapshot sidecar. Content is deterministic
        for a version (manifests are immutable), so racing writers
        produce identical bytes and the atomic replace is idempotent."""
        p = self._ckpt_path(manifest["version"])
        tmp = p + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            fh.write(json.dumps(manifest, sort_keys=True))
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, p)

    def _cache_manifest(self, m: dict) -> None:
        self._mcache[m["version"]] = m
        while len(self._mcache) > 32:
            self._mcache.pop(next(iter(self._mcache)))

    def _manifest(self, version: int | None = None) -> dict:
        """The RESOLVED snapshot manifest for ``version`` (default
        head): walk back from the version over action deltas until a
        cache hit, checkpoint sidecar, or full manifest — bounded by
        ``checkpoint_interval`` steps once the writer has checkpointed
        — then fold forward. Returned dicts are shared via the cache:
        treat them as immutable (every caller already does)."""
        if version is None:
            version = self.latest_version()
            if version is None:
                raise FileNotFoundError(f"versioned table at {self.path} is empty")
        elif not os.path.exists(self._log_path(version)):
            # the vacuum horizon guard must run BEFORE the cache: a warm
            # cache (or a stale checkpoint sidecar) of a vacuumed version
            # would otherwise resolve a manifest whose data files are
            # gone, deferring the failure to a confusing scan-time
            # PATH_NOT_FOUND — or worse, letting restore() publish a head
            # referencing deleted files. One os.stat per explicit-version
            # resolution; _raw_manifest raises VacuumedVersionError (below
            # the horizon) or FileNotFoundError (never existed).
            self._raw_manifest(version)
        cached = self._mcache.get(version)
        if cached is not None:
            return cached
        chain: list[dict] = []
        v = version
        full: dict | None = None
        while True:
            cached = self._mcache.get(v)
            if cached is not None:
                full = cached
                break
            cp = self._ckpt_path(v)
            if os.path.exists(cp):
                with open(cp) as fh:
                    try:
                        full = json.load(fh)
                    except json.JSONDecodeError as exc:
                        raise TornManifestError(
                            f"checkpoint {cp} exists but is not valid "
                            f"JSON ({exc})"
                        ) from exc
                break
            raw = self._raw_manifest(v)
            if "base" not in raw:
                full = raw
                break
            chain.append(raw)
            v = raw["base"]
        for raw in reversed(chain):
            full = _apply_delta(full, raw)
        self._cache_manifest(full)
        return full

    def _claim_version(self, manifest: dict, parent: dict | None = None) -> bool:
        """Atomically publish ``manifest`` as its version; False if a
        concurrent writer already claimed that version number. Delegates
        the create-if-absent to the injected ``CommitClaimBackend`` —
        ``PosixLinkClaim`` locally, ``ConditionalPutClaim`` for the
        object-store shape.

        With ``parent`` (the resolved version-minus-one snapshot), the
        payload is the ACTION DELTA when that serializes smaller than
        the full snapshot — bytes per commit ∝ churn, Delta's log
        protocol (see the module-level delta-manifest note)."""
        payload = json.dumps(manifest, sort_keys=True)
        if parent is not None and manifest["version"] == parent["version"] + 1:
            dp = json.dumps(_encode_delta(manifest, parent), sort_keys=True)
            if len(dp) < len(payload):
                payload = dp
        return self._claim.claim(self._log_path(manifest["version"]), payload)

    # -- data-file plumbing -------------------------------------------------

    def _head_mapping(self) -> dict:
        """The head's logical→physical column mapping ({} = identity).
        Physical names are immutable once a column's first file lands;
        RENAME/DROP COLUMN only edit this map, never data files."""
        if self.latest_version() is None:
            return {}
        return self._manifest().get("column_mapping", {})

    def _write_commit_files(
        self,
        df: DataFrame,
        version_hint: int,
        mapping: dict | None = None,
    ) -> tuple[list[str], dict]:
        """Materialize ``df`` into a fresh immutable commit directory;
        returns (relative file paths, per-file stats). This is the one
        place a commit's rows are checked and its stats taken:

        - every row written is counted against the head's active CHECK
          and NOT NULL constraints ON the write itself (observed
          metrics ride the write job — no extra Spark job); any
          violation deletes the just-written directory and raises
          ``ConstraintViolationError`` before a manifest can reference
          the files. The set is recorded for ``_commit``'s claim-time
          check;
        - stats come from the written files' parquet footers (a scan
          only where a footer stat is not provably exact).

        ``df`` arrives with LOGICAL column names; files are written
        with PHYSICAL names (per ``mapping``; None = the head's) so
        every file of every vintage agrees on physical names and one
        multi-file scan serves any logical schema."""
        if mapping is None:
            mapping = self._head_mapping()
        cons = self.constraints()
        observed = Observation() if cons else None
        if observed is not None:
            # attached BEFORE the physical rename: constraints name
            # logical columns (an unresolvable one raises here, before
            # anything is written)
            df = df.observe(observed, *_violation_counters(cons))
        if mapping:
            df = df.select(
                *[F.col(c).alias(mapping.get(c, c)) for c in df.columns]
            )
        commit_dir = f"c{version_hint:08d}-{uuid.uuid4().hex[:8]}"
        abs_dir = os.path.join(self.path, _DATA_DIR, commit_dir)
        # Pin no-truncation chunk statistics on every commit write: the
        # footer-stats fast path's string-exactness witness (`has_min_max`
        # ⇒ exact value) only holds under parquet-mr's default
        # statistics.truncate.length = Integer.MAX_VALUE; a session that
        # lowered it would otherwise record truncated bounds as exact
        # manifest stats (ADVICE r14).
        try:
            df.write.mode("overwrite").option(
                "parquet.statistics.truncate.length", str(2**31 - 1)
            ).parquet(abs_dir)
            if observed is not None:
                bad = _nonzero_violations(cons, observed.get)
                if bad:
                    raise _violation_error(self.path, bad)
            rel = [
                os.path.join(_DATA_DIR, commit_dir, n)
                for n in sorted(os.listdir(abs_dir))
                if n.endswith(".parquet")
            ]
            # the row counts, min/max and null counts are already in the
            # file metadata — re-scanning the data to recompute them is
            # a whole second read of every commit's bytes; any footer
            # surprise (missing/inexact stats, exotic type) falls back to
            # the scan, with identical manifest contents either way
            # (tests/test_footer_stats.py asserts parity)
            stats = self._footer_file_stats(rel, mapping)
            if stats is None:
                stats = self._file_stats(df.sparkSession, rel, mapping=mapping)
            self._write_bloom_sidecars(
                df.sparkSession, abs_dir, rel, stats, mapping
            )
        except BaseException:
            # constraint violation OR any write/stats failure: never
            # leave the staged directory orphaned
            shutil.rmtree(abs_dir, ignore_errors=True)
            raise
        self._validated_constraints = cons
        return rel, stats

    def constraints(self) -> dict[str, str]:
        """Active CHECK constraints (name → SQL expression) from the
        head manifest; empty for a new table."""
        if not self.exists():
            return {}
        return dict(self._manifest().get("constraints", {}))

    def _footer_file_stats(
        self, rel_files: list[str], mapping: dict
    ) -> dict | None:
        """``_file_stats`` computed from the just-written files' parquet
        FOOTERS — no Spark job, no second read of the data. Returns the
        same ``{rel: {"rows": n, phys: [min, max], "__nulls": {...}}}``
        dict the scan path builds, or ``None`` when any needed stat is
        not provably exact in the footer, in which case the caller runs
        the scan (correctness over speed: manifest stats answer
        metadata-only MIN/MAX/COUNT queries, so bounds are not enough).

        Exactness argument, per type (all verified against the scan in
        ``tests/test_footer_stats.py``):

        - int32/int64/date32/boolean: footer min/max are exact by spec.
        - float/double: parquet-mr folds NaN with java ``Math.min/max``
          ordering, which matches Spark's NaN-greatest aggregate
          ordering (verified incl. NaN and -0.0).
        - strings: parquet-mr either stores the EXACT value or DROPS
          min/max for oversized values (verified at 100 kB) — it never
          silently truncates chunk-level stats, so ``has_min_max`` is
          the exactness witness; byte-wise unsigned UTF-8 order equals
          Spark's UTF8String order.
        - decimals: decoded from the raw unscaled int/bytes.
        - INT96 timestamps carry no footer stats at all → scan.

        Only called for files THIS layer just wrote (Spark's parquet-mr
        writer); foreign files (``convert_from_parquet``) keep the scan
        path — their writer's stat behavior is not ours to vouch for."""
        import pyarrow.parquet as pq

        want_phys = [mapping.get(c, c) for c in (self.stats_cols or [])]

        # Footers are read sequentially: local footers are page-cache
        # hits (~80 µs each), and a thread pool measured slower at every
        # file count up to 1024 (0.085 s sequential vs 0.365 s pooled).
        out: dict = {}
        for f in rel_files:
            try:
                pf = pq.ParquetFile(os.path.join(self.path, f))
            except Exception:  # noqa: BLE001 — unreadable footer → scan
                return None
            md = pf.metadata
            if md.num_rows == 0:
                out[f] = {"rows": 0}
                continue
            ent: dict = {"rows": md.num_rows}
            nulls: dict = {}
            arrow = pf.schema_arrow
            names = arrow.names
            # row-group columns index flattened LEAF columns (a nested
            # field contributes one entry per leaf), so a stats column is
            # resolved by its leaf path, never by top-level position — a
            # struct column ahead of it would silently shift a positional
            # index onto the wrong column's stats (ADVICE r14).
            leaf_paths = [
                md.row_group(0).column(j).path_in_schema
                for j in range(md.num_columns)
            ]
            for phys in want_phys:
                if phys not in names:
                    continue  # column absent from this commit's schema
                if phys not in leaf_paths:
                    return None  # nested/repeated stats column → scan
                idx = leaf_paths.index(phys)
                typ = arrow.field(phys).type
                mm = self._fold_footer_col(md, idx, typ)
                if mm is None:
                    return None  # stats missing/inexact → scan path
                mn, mx, n_null = mm
                ent[phys] = [_stat_json(mn), _stat_json(mx)]
                nulls[phys] = n_null
            if nulls:
                ent["__nulls"] = nulls
            out[f] = ent
        return out

    @staticmethod
    def _fold_footer_col(md, idx: int, typ) -> tuple | None:
        """(min, max, null_count) of one column across all row groups of
        one file's footer, with Spark's aggregate ordering (NaN greatest)
        — or None when any row group's stats are absent for live rows."""
        import math

        import pyarrow as pa

        from decimal import Decimal

        is_dec = pa.types.is_decimal(typ)
        supported = is_dec or (
            pa.types.is_integer(typ)
            or pa.types.is_floating(typ)
            or pa.types.is_boolean(typ)
            or pa.types.is_date32(typ)
            or pa.types.is_string(typ)
            or pa.types.is_large_string(typ)
        )
        if not supported:
            return None

        def _lt(a, b) -> bool:  # Spark ordering: NaN is greatest
            if isinstance(a, float) and math.isnan(a):
                return False
            if isinstance(b, float) and math.isnan(b):
                return True
            return a < b

        mn = mx = None
        n_null = 0
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            col = rg.column(idx)
            st = col.statistics
            if st is None or not st.has_null_count:
                return None
            n_null += st.null_count
            if st.null_count == rg.num_rows:
                continue  # all-null row group: no min/max to fold
            if not st.has_min_max:
                return None  # live rows but no stats (e.g. huge strings)
            try:
                if is_dec:
                    v1, v2 = st.min_raw, st.max_raw
                    if isinstance(v1, bytes):
                        v1 = int.from_bytes(v1, "big", signed=True)
                        v2 = int.from_bytes(v2, "big", signed=True)
                    v1 = Decimal(int(v1)).scaleb(-typ.scale)
                    v2 = Decimal(int(v2)).scaleb(-typ.scale)
                else:
                    v1, v2 = st.min, st.max
            except Exception:  # noqa: BLE001 — undecodable → scan
                return None
            if mn is None or _lt(v1, mn):
                mn = v1
            if mx is None or _lt(mx, v2):
                mx = v2
        return mn, mx, n_null

    def _file_stats(
        self,
        spark: SparkSession,
        rel_files: list[str],
        mapping: dict | None = None,
        borrowed: frozenset | None = None,
    ) -> dict:
        """Per-file row counts + min/max + null counts of ``stats_cols``
        by one Spark aggregate over ``rel_files`` — the same dict
        ``_footer_file_stats`` reads from footers. Used only where
        footers cannot vouch for a stat: the footer fallback (e.g. INT96
        timestamps, nested columns) and ``convert_from_parquet``'s
        foreign files. It checks no constraints (``_write_commit_files``
        counts those on the write).

        Files carry PHYSICAL column names; the frame is renamed back to
        LOGICAL before the stats expressions run, and stat keys are
        stored under PHYSICAL names (immutable across renames, so stats
        never go stale)."""
        if not rel_files:
            return {}
        mapping = mapping or {}
        inv = {p: l for l, p in mapping.items()}
        abs_files = [os.path.join(self.path, f) for f in rel_files]

        def _logical(dfp: DataFrame) -> DataFrame:
            if not inv:
                return dfp
            return dfp.select(
                *[F.col(c).alias(inv.get(c, c)) for c in dfp.columns]
            )

        aggs = [F.count(F.lit(1)).alias("__rows")]
        present = set()
        if self.stats_cols:
            cols = set(_logical(spark.read.parquet(*abs_files)).columns)
            present = {c for c in self.stats_cols if c in cols}
            for c in present:
                aggs.append(F.min(c).alias(f"__min_{c}"))
                aggs.append(F.max(c).alias(f"__max_{c}"))
                # Delta's nullCount: rides the same single aggregate,
                # powers IS NULL file skipping and metadata COUNT(col)
                aggs.append(
                    F.count_if(F.col(c).isNull()).alias(f"__nulls_{c}")
                )
        rows = (
            spark.read.parquet(*abs_files)
            .withColumn("__file", F.input_file_name())
            .transform(_logical)
            .groupBy("__file")
            .agg(*aggs)
            .collect()
        )
        by_rel = {}
        for r in rows:
            rel = self._to_rel(r["__file"], borrowed)
            ent = {"rows": r["__rows"]}
            nulls = {}
            for c in present:
                ent[mapping.get(c, c)] = [
                    _stat_json(r[f"__min_{c}"]), _stat_json(r[f"__max_{c}"])
                ]
                nulls[mapping.get(c, c)] = r[f"__nulls_{c}"]
            if nulls:
                # keyed under "__nulls" (not a physical name: physical
                # names never start with __ on this layer's write path)
                ent["__nulls"] = nulls
            by_rel[rel] = ent
        # zero-row part files never surface in the aggregate (no rows to
        # tag with input_file_name) — record them explicitly so every
        # manifest file has a stats entry
        for f in rel_files:
            by_rel.setdefault(f, {"rows": 0})
        return by_rel

    def _borrowed_files(self) -> frozenset:
        """Absolute-path files the head manifest references — a shallow
        clone borrowing its source's data (see ``clone``). Empty for
        ordinary tables."""
        if not self.exists():
            return frozenset()
        return frozenset(f for f in self._manifest()["files"] if os.path.isabs(f))

    # -- per-file bloom sidecars (point-lookup data skipping) ---------------

    _BLOOM_BITS_PER_KEY = 10  # block load ≈ 60%/distinct-heavy, FP ≈ 2–5%

    def _bloom_sidecar_path(self, commit_dir_abs: str, phys: str) -> str:
        # physical column names are immutable (RENAME only edits the
        # logical→physical map), so a sidecar never goes stale on rename
        return os.path.join(commit_dir_abs, f"_bloom-{phys}.json")

    def _effective_bloom_cols(self) -> list[str]:
        """The bloom column set this commit should index: the handle's
        explicit choice when given, else the head manifest's persisted
        setting — so sidecar writing survives fresh instances."""
        if self.bloom_cols is not None:
            return self.bloom_cols
        if self.latest_version() is None:
            return []
        return list(self._manifest().get("bloom_cols", []))

    def _write_bloom_sidecars(
        self,
        spark: SparkSession,
        commit_dir_abs: str,
        rel_files: list[str],
        stats: dict,
        mapping: dict,
    ) -> None:
        """Write one split-block Bloom sidecar per ``bloom_cols`` entry
        into the commit directory, covering every file of this commit —
        Delta's bloom filter index shape. The build is ONE map-side-
        combining ``bit_or`` aggregate per column over the just-written
        (so page-cache-hot) files; the driver then packs the (file,
        block, bits) rows into a base64(zlib(little-endian
        u64[nblocks])) bitmap per file. The
        collect is bounded by the SIDECAR's own size (min(rows, nblocks)
        rows per file, 3 fields each) — ∝ commit churn × bits_per_key/64,
        never ∝ table size; it is the metadata artifact being written,
        not a data-path collect.

        ``nblocks`` is sized from the commit's largest file (power of
        two, ≥16) so every file in the commit shares one block space —
        smaller files just run at lower load (fewer false positives)."""
        bloom_cols = self._effective_bloom_cols()
        if not bloom_cols or not rel_files:
            return
        from ..functions.bloom import bloom_block_and_mask

        abs_files = [os.path.join(self.path, f) for f in rel_files]
        dfp = spark.read.parquet(*abs_files)
        max_rows = max(
            (stats.get(f, {}).get("rows", 0) for f in rel_files), default=0
        )
        if max_rows <= 0:
            return
        nblocks = 1 << max(
            int(max_rows * self._BLOOM_BITS_PER_KEY // 64).bit_length(), 4
        )
        base_by_rel = {os.path.basename(f): f for f in rel_files}
        for col in bloom_cols:
            phys = mapping.get(col, col)
            if phys not in dfp.columns:
                continue
            block, mask = bloom_block_and_mask(F.col(phys), nblocks)
            rows = (
                dfp.where(F.col(phys).isNotNull())
                .select(
                    F.input_file_name().alias("__f"),
                    block.alias("__b"),
                    mask.alias("__m"),
                )
                .groupBy("__f", "__b")
                .agg(F.bit_or("__m").alias("__bits"))
                .collect()
            )
            words: dict[str, bytearray] = {}
            for r in rows:
                base = os.path.basename(r["__f"])
                buf = words.setdefault(base, bytearray(8 * nblocks))
                struct.pack_into(
                    "<Q", buf, 8 * r["__b"], r["__bits"] & ((1 << 64) - 1)
                )
            payload = {
                "col": phys,
                "nblocks": nblocks,
                "files": {
                    base: base64.b64encode(zlib.compress(bytes(buf))).decode()
                    for base, buf in words.items()
                    if base in base_by_rel
                },
            }
            p = self._bloom_sidecar_path(commit_dir_abs, phys)
            tmp = p + f".tmp-{uuid.uuid4().hex}"
            with open(tmp, "w") as fh:
                fh.write(json.dumps(payload, sort_keys=True))
            os.replace(tmp, p)

    def _bloom_prune_files(
        self, spark: SparkSession, files: list[str], phys: str, value, dtype
    ) -> list[str]:
        """Drop candidate ``files`` whose bloom sidecar PROVES ``phys``
        never equals ``value`` — no false negatives (a file without a
        sidecar entry is kept). The probe's two raw xxhash64 values are
        computed by ONE one-row Spark job, launched only when at least
        one candidate dir has a sidecar (so the hash agrees with the
        JVM build side bit-for-bit, including the column type's hash
        layout); (block, mask) is then derived per sidecar in Python,
        because nblocks varies per commit. Sidecars are read lazily per
        COMMIT DIR (one small JSON per dir), so plan-time cost is
        bounded by the candidate dir count, not the table."""
        from ..functions.bloom import block_and_mask_from_hashes

        dirs = {}
        for f in files:
            dirs.setdefault(os.path.dirname(f), []).append(f)
        # probe hashes are computed LAZILY, on the first dir that
        # actually has a sidecar: a bloom-less table (e.g. every
        # point-lookup SELECT routed here by the SQL fast path before
        # any index exists) must not pay a driver→executor round trip
        # just to discover there is nothing to probe
        hashes: tuple | None = None
        keep: list[str] = []
        for d, fs in dirs.items():
            side = self._bloom_sidecar_path(
                d if os.path.isabs(d) else os.path.join(self.path, d), phys
            )
            try:
                with open(side) as fh:
                    payload = json.load(fh)
            except (OSError, json.JSONDecodeError):
                keep.extend(fs)  # no/unreadable sidecar → cannot prune
                continue
            if hashes is None:
                lit = F.lit(value).cast(dtype)
                hashes = (
                    spark.range(1)
                    .select(
                        F.xxhash64(lit, F.lit(1)), F.xxhash64(lit, F.lit(2))
                    )
                    .first()
                )
            h1, h2 = hashes
            nblocks = payload["nblocks"]
            blk, mask = block_and_mask_from_hashes(h1, h2, nblocks)
            for f in fs:
                enc = payload["files"].get(os.path.basename(f))
                if enc is None:
                    keep.append(f)
                    continue
                buf = zlib.decompress(base64.b64decode(enc))
                (word,) = struct.unpack_from("<Q", buf, 8 * blk)
                if word & mask == mask:
                    keep.append(f)
        return keep

    def _to_rel(self, file_uri: str, borrowed: frozenset | None = None) -> str:
        """Normalize an ``input_file_name()`` URI to its manifest key:
        root-relative for files this table owns; absolute ONLY for files
        the current manifest already borrows by absolute path (a shallow
        clone referencing its source — see ``clone``). Any other
        out-of-root file is a misconfigured path/symlink and fails
        loudly instead of silently minting an absolute manifest key."""
        p = file_uri
        if p.startswith("file:"):
            p = p[len("file:"):]
            while p.startswith("//"):
                p = p[1:]
        root = os.path.abspath(self.path) + os.sep
        p = os.path.abspath(p)
        if not p.startswith(root):
            if borrowed is None:
                borrowed = self._borrowed_files()
            if p in borrowed:
                return p
            raise ValueError(
                f"file {p} lies outside table root {self.path} and is "
                "not a borrowed clone file in the current manifest — "
                "refusing to commit an absolute manifest key (check for "
                "a misconfigured path or symlinked data directory)"
            )
        return p[len(root):]

    # -- commit -------------------------------------------------------------

    def _commit(
        self,
        op: str,
        files: list[str],
        stats: dict,
        schema_json: dict,
        meta: dict | None = None,
        retry_append_files: list[str] | None = None,
        read_m: dict | None = None,
        constraints: dict[str, str] | None = None,
        expected_head: int | None = None,
        dvs: tuple[dict, dict] | None = None,
        column_mapping: dict | None = None,
        retired_cols: list | None = None,
        cow: dict | None = None,
        vacuum_horizon: int | None = None,
    ) -> int:
        """Publish a new version. ``retry_append_files`` marks the commit
        as an append of exactly those files: it is rebased onto the
        CURRENT head on every attempt — not just after a failed claim —
        because the version-number CAS alone cannot catch a competitor
        that committed between this writer's snapshot read and its first
        claim (the claim would succeed at head+1 with a stale file list
        and silently drop the competitor's files — found by the 8-writer
        stress test). Non-append ops raise on any lost race.

        ``expected_head`` is the optimistic-concurrency token for
        copy-on-write ops: the version their read snapshot came from.
        If ANY commit landed since — even one that would get a fresh
        version number — the snapshot-derived file set is stale and the
        commit raises instead of silently clobbering the competitor.

        ``constraints=None`` inherits the head's CHECK constraints;
        add/drop_constraint pass the updated set explicitly.

        ``dvs=None`` inherits the head's deletion vectors pruned to the
        commit's file list (files carried by reference keep their DVs;
        rewritten files get fresh names, so their stale entries drop
        out); merge-on-read deletes, restore and clone pass the pair
        ``({data_file: dv_dir}, {data_file: n_dead_rows})`` explicitly.
        Counts are keyed by DATA FILE, not dv dir, so pruning a
        rewritten file's entry drops its dead count exactly — dir-level
        totals would go stale the moment one covered file is
        rewritten.

        ``column_mapping=None`` / ``retired_cols=None`` inherit the
        head's logical→physical map and retired-physical-name list;
        rename/drop/restore/clone/write_full pass them explicitly. The
        stored mapping is pruned to the commit's schema fields and to
        non-identity entries.

        ``cow`` enables FILE-LEVEL optimistic concurrency (Delta's
        WriteSerializable conflict rules) instead of the all-or-nothing
        ``expected_head`` CAS: ``{"read": <manifest the op's snapshot
        came from>, "touched": [files it read-and-replaced or
        DV-updated], "remove_touched": bool, "dv_updates": (dvs_delta,
        counts_delta) | None}``. ``files``/``stats`` then carry ONLY
        the commit's ADDED files; the full lists are recomposed from
        the CURRENT head on every attempt, so a racing append (or a
        CoW commit over disjoint files) no longer aborts this one. The
        commit still raises ``ConcurrentWriteError`` when the race is a
        REAL conflict: a touched file was rewritten/dropped, its
        deletion-vector entry changed since the snapshot read, or the
        schema / constraints / column mapping moved. (The documented
        WriteSerializable anomaly applies: rows appended concurrently
        are invisible to this op's predicate — it serializes BEFORE the
        append.)"""
        own_stats = (
            {f: stats[f] for f in retry_append_files if f in stats}
            if retry_append_files is not None
            else {}
        )
        # pin the CoW commit's own additions: `files`/`stats` are
        # recomposed from the live head on every loop iteration
        cow_added = (list(files), dict(stats)) if cow is not None else None
        while True:
            head = self.latest_version()
            version = 0 if head is None else head + 1
            if expected_head is not None and head != expected_head:
                raise ConcurrentWriteError(
                    f"{op} on {self.path}: snapshot read at version "
                    f"{expected_head} but head is now {head}; the "
                    "copy-on-write file set is stale — re-read the head "
                    "and re-run"
                )
            hm = self._manifest(head) if head is not None else None
            if retry_append_files is not None and hm is not None:
                if read_m is not None and head != read_m["version"]:
                    # the rebase may compose file lists over ANY disjoint
                    # commit, but never over a METADATA change: the
                    # append's evolve-time guards (physical-name 'taken'
                    # set, type alignment, schema-mismatch fail-fast)
                    # ran against read_m — merging into a head whose
                    # schema / column mapping / retired names moved
                    # could re-bind a renamed or dropped column's
                    # physical name and leak old files' values (Delta
                    # aborts this race with MetadataChangedException)
                    for field, dflt, what in (
                        ("schema", None, "the schema"),
                        ("column_mapping", {}, "the column mapping"),
                        ("retired_cols", [], "retired physical columns"),
                    ):
                        if hm.get(field, dflt) != read_m.get(field, dflt):
                            raise ConcurrentWriteError(
                                f"{op} on {self.path}: {what} changed "
                                f"concurrently (validated against "
                                f"version {read_m['version']}, head is "
                                f"now {head}); re-run the append against "
                                "the new head"
                            )
                # rebase the blind append onto whatever the head is NOW:
                # head files + ours, head stats + ours, schema union
                files = hm["files"] + retry_append_files
                stats = {**hm["stats"], **own_stats}
                schema_json = self._merge_schema(hm["schema"], schema_json)
            if cow is not None:
                read_m, touched = cow["read"], set(cow["touched"])
                if hm is None:
                    raise ConcurrentWriteError(
                        f"{op} on {self.path}: table log vanished under "
                        "a copy-on-write commit"
                    )
                if head != read_m["version"]:
                    self._check_cow_conflict(op, read_m, hm, touched)
                base_files = (
                    [f for f in hm["files"] if f not in touched]
                    if cow.get("remove_touched")
                    else list(hm["files"])
                )
                files = base_files + cow_added[0]
                stats = {
                    **{
                        f: hm["stats"][f]
                        for f in base_files
                        if f in hm["stats"]
                    },
                    **cow_added[1],
                }
                a_dvs = dict(hm.get("dvs", {}))
                a_dvn = dict(hm.get("dv_counts", {}))
                if cow.get("dv_updates"):
                    a_dvs.update(cow["dv_updates"][0])
                    a_dvn.update(cow["dv_updates"][1])
                dvs = (a_dvs, a_dvn)  # pruned to `files` below
            active = (
                constraints
                if constraints is not None
                else (dict(hm.get("constraints", {})) if hm is not None else {})
            )
            if dvs is not None:
                a_dvs, a_dvn = dict(dvs[0]), dict(dvs[1])
            elif hm is not None:
                a_dvs = dict(hm.get("dvs", {}))
                a_dvn = dict(hm.get("dv_counts", {}))
            else:
                a_dvs, a_dvn = {}, {}
            # prune to the commit's file list: rewritten/dropped files
            # shed their DV entries and their dead counts
            fset = set(files)
            a_dvs = {f: d for f, d in a_dvs.items() if f in fset}
            a_dvn = {f: c for f, c in a_dvn.items() if f in a_dvs}
            cm = (
                column_mapping
                if column_mapping is not None
                else (dict(hm.get("column_mapping", {})) if hm else {})
            )
            fields = {f["name"] for f in schema_json["fields"]}
            cm = {k: v for k, v in cm.items() if k in fields and k != v}
            retired = (
                list(retired_cols)
                if retired_cols is not None
                else (list(hm.get("retired_cols", [])) if hm else [])
            )
            bloom = (
                list(self.bloom_cols)
                if self.bloom_cols is not None
                else (list(hm.get("bloom_cols", [])) if hm else [])
            )
            cf = (
                self._change_feed
                if self._change_feed is not None
                else (bool(hm.get("change_feed", False)) if hm else False)
            )
            # the vacuum horizon (lowest restorable version) is monotone
            # and inherited by every commit, so any writer's head always
            # knows how far back a restore may legally reach — see
            # vacuum()'s marker commit and restore()'s guard
            vh = max(
                vacuum_horizon or 0,
                hm.get("vacuum_horizon", 0) if hm else 0,
            )
            if (
                constraints is None
                and self._validated_constraints is not None
                and active != self._validated_constraints
            ):
                # the files were constraint-checked against a set that a
                # concurrent set/drop_constraint has since changed — the
                # check may no longer cover the active set, so fail
                # loudly instead of publishing unvalidated data (this
                # also guards the append rebase path)
                raise ConcurrentWriteError(
                    f"{op} on {self.path}: CHECK constraints changed "
                    f"concurrently (validated against "
                    f"{sorted(self._validated_constraints)}, active now "
                    f"{sorted(active)}); re-run the operation"
                )
            if hm is not None:
                # canonical file order — parent retained order first,
                # additions appended — so the claimed action delta
                # reconstructs EXACTLY this manifest on every reader
                pset, fset2 = set(hm["files"]), set(files)
                files = [f for f in hm["files"] if f in fset2] + [
                    f for f in files if f not in pset
                ]
            manifest = {
                "version": version,
                "op": op,
                # commit wall-clock, Delta's commitInfo.timestamp: powers
                # TIMESTAMP AS OF time travel and history audit; never
                # part of any query result (determinism unaffected)
                "ts": time.time(),
                "files": files,
                "stats": stats,
                "schema": schema_json,
                "meta": meta or {},
                "constraints": active,
            }
            if a_dvs:
                manifest["dvs"] = a_dvs
                manifest["dv_counts"] = a_dvn
            if cm:
                manifest["column_mapping"] = cm
            if retired:
                manifest["retired_cols"] = retired
            if bloom:
                manifest["bloom_cols"] = bloom
            if cf:
                manifest["change_feed"] = True
            if vh:
                manifest["vacuum_horizon"] = vh
            if self._claim_version(manifest, parent=hm):
                if constraints is None:
                    # this commit consumed the pending validation record;
                    # explicit-constraint commits (set/drop/clone) leave
                    # it for the data commit that produced it
                    self._validated_constraints = None
                self._cache_manifest(manifest)
                ci = self.checkpoint_interval
                if ci > 0 and version > 0 and version % ci == 0:
                    # periodic checkpoint: bounds every reader's replay
                    # to < ci deltas. Written AFTER the claim — a crash
                    # in between only costs a longer walk until the
                    # next multiple lands (or vacuum backfills one).
                    self._write_checkpoint(manifest)
                return version
            if retry_append_files is None and cow is None:
                raise ConcurrentWriteError(
                    f"{op} on {self.path}: version {version} was claimed "
                    "by a concurrent writer; the copy-on-write snapshot "
                    "is stale — re-read the head and re-run"
                )
            # lost the claim: loop — the next iteration rebases (append)
            # or re-runs conflict detection (cow) against the winner's
            # head before trying the next version number

    def _check_cow_conflict(
        self, op: str, read_m: dict, hm: dict, touched: set
    ) -> None:
        """Delta WriteSerializable conflict detection for a CoW/MoR
        commit whose snapshot (``read_m``) is no longer the head
        (``hm``). A commit is REBASEABLE iff every file it logically
        replaced is still live with the exact deletion-vector state it
        read, under an unchanged schema / constraint set / column
        mapping; anything else raises."""

        def _bail(why: str) -> None:
            raise ConcurrentWriteError(
                f"{op} on {self.path}: snapshot read at version "
                f"{read_m['version']} conflicts with concurrent commits "
                f"up to {hm['version']}: {why}; re-read the head and "
                "re-run"
            )

        if hm["schema"] != read_m["schema"]:
            _bail("the schema changed")
        if hm.get("constraints", {}) != read_m.get("constraints", {}):
            _bail("CHECK constraints changed")
        if hm.get("column_mapping", {}) != read_m.get("column_mapping", {}):
            _bail("the column mapping changed")
        live = set(hm["files"])
        gone = sorted(touched - live)
        if gone:
            _bail(f"{len(gone)} touched file(s) were rewritten or dropped")
        dv_now, dv_read = hm.get("dvs", {}), read_m.get("dvs", {})
        churned = sorted(
            f for f in touched if dv_now.get(f) != dv_read.get(f)
        )
        if churned:
            _bail(
                f"deletion vectors changed on {len(churned)} touched "
                "file(s)"
            )

    @staticmethod
    def _schema_json(df: DataFrame) -> dict:
        return json.loads(df.schema.json())

    # -- public writes ------------------------------------------------------

    def write_full(self, df: DataFrame, meta: dict | None = None) -> int:
        """CREATE OR REPLACE: the new version references only the new
        files (old versions stay readable until vacuum). Defines a
        fresh schema, so any column mapping / retired-name history
        resets — physical names restart equal to logical ones."""
        hint = (self.latest_version() or 0) + 1
        files, stats = self._write_commit_files(df, hint, mapping={})
        v = self._commit(
            "overwrite", files, stats, self._schema_json(df), meta,
            column_mapping={}, retired_cols=[],
        )
        return self._maybe_auto_compact(
            df.sparkSession, self._maybe_cdf(df.sparkSession, v)
        )

    def append(self, df: DataFrame, meta: dict | None = None, evolve: bool = False) -> int:
        """Append-only commit: prior files carried by reference. With
        ``evolve=True`` new nullable columns are allowed (readers merge
        schemas); otherwise a column-set mismatch fails fast."""
        if not self.exists():
            return self.write_full(df, meta)
        cur = self._manifest()
        old_cols = {f["name"] for f in cur["schema"]["fields"]}
        new_cols = set(df.columns)
        if new_cols != old_cols and not evolve:
            raise ValueError(
                f"append schema mismatch on {self.path}: table has "
                f"{sorted(old_cols)}, append has {sorted(new_cols)} — "
                "pass evolve=True to add columns"
            )
        if evolve:
            # a new logical column may not take a physical name that
            # lives in data files under another (renamed or dropped)
            # column — old files would leak those values into it
            taken = set(cur.get("column_mapping", {}).values()) | set(
                cur.get("retired_cols", [])
            )
            bad = sorted((new_cols - old_cols) & taken)
            if bad:
                raise ValueError(
                    f"cannot evolve column(s) {bad}: the physical "
                    "name(s) are taken by a renamed or dropped column's "
                    "data files; pick different names"
                )
        if not old_cols <= new_cols and evolve:
            # evolution may add columns, never silently drop: absent old
            # columns become explicit nulls so the manifest schema stays
            # the union
            for c in sorted(old_cols - new_cols):
                typ = next(
                    f["type"] for f in cur["schema"]["fields"] if f["name"] == c
                )
                df = df.withColumn(
                    c, F.lit(None).cast(StructType.fromJson(cur["schema"])[c].dataType)
                )
        df = self._align_types(df, cur["schema"])
        hint = self.latest_version() + 1
        files, stats = self._write_commit_files(df, hint)
        merged_schema = self._merge_schema(cur["schema"], self._schema_json(df))
        v = self._commit(
            "append",
            cur["files"] + files,
            {**cur["stats"], **stats},
            merged_schema,
            meta,
            retry_append_files=files,
            read_m=cur,
        )
        return self._maybe_auto_compact(
            df.sparkSession, self._maybe_cdf(df.sparkSession, v)
        )

    def replace_where(
        self,
        spark: SparkSession,
        predicate: Column | str,
        df: DataFrame,
        meta: dict | None = None,
    ) -> int:
        """Atomic selective overwrite — Delta's ``INSERT OVERWRITE ...
        option("replaceWhere", ...)`` / the dbt incremental
        partition-overwrite contract: in ONE commit, delete every row
        matching the predicate and insert ``df``, whose rows must ALL
        satisfy the predicate (validated with a single aggregate before
        any file is written; Delta raises the same way, because a
        replacement leaking outside its window silently corrupts
        neighboring data). Cost ∝ touched files: files with no matching
        rows carry by reference, touched files rewrite keeping only
        their non-matching survivors (existing deletion vectors
        applied), and ``df`` appends — the exact shape of a daily
        partition re-load on a 100 TB fact, where one day's re-run
        touches one day's files."""
        if isinstance(predicate, str):
            predicate = F.expr(predicate)
        n_bad = df.filter(~F.coalesce(predicate, F.lit(False))).limit(1).count()
        if n_bad:
            raise ValueError(
                f"replace_where on {self.path}: replacement rows must all "
                "match the predicate (Delta replaceWhere contract)"
            )
        if not self.exists():
            return self.write_full(df, meta)
        m = self._manifest()
        schema = StructType.fromJson(m["schema"])
        if set(df.columns) != {f.name for f in schema.fields}:
            raise ValueError(
                f"replace_where schema mismatch on {self.path}: table has "
                f"{sorted(f.name for f in schema.fields)}, replacement has "
                f"{sorted(df.columns)}"
            )
        tagged = self._tagged_read(spark, m)
        touched = self._touched_files(tagged.filter(predicate))
        new_data = self._align_types(
            df.select(*[f.name for f in schema.fields]), m["schema"]
        )
        if touched:
            survivors = self._read_files(
                spark, touched, schema,
                dvs=m.get("dvs"), dv_counts=m.get("dv_counts"),
            ).filter(~F.coalesce(predicate, F.lit(False)))
            new_data = survivors.unionByName(new_data)
        hint = self.latest_version() + 1
        files, stats = self._write_commit_files(new_data, hint)
        v = self._commit(
            "replace_where",
            files,
            stats,
            m["schema"],
            {**(meta or {}), "touched_files": len(touched)},
            cow={"read": m, "touched": touched, "remove_touched": True},
        )
        return self._maybe_auto_compact(spark, self._maybe_cdf(spark, v))

    @staticmethod
    def _align_types(df: DataFrame, schema_json: dict) -> DataFrame:
        """Cast ``df``'s columns that exist in the table schema to the
        table's types (Delta INSERT's implicit store-assignment cast):
        without this, a SQL literal like ``9.0`` (DECIMAL(2,1)) appended
        next to a DOUBLE column poisons every later mergeSchema read.
        Columns NOT in the table schema (evolution) keep their own
        types."""
        cur = StructType.fromJson(schema_json)
        types = {f.name: f.dataType for f in cur.fields}
        have = {f.name: f.dataType for f in df.schema.fields}
        if all(have[c] == types[c] for c in have if c in types):
            return df
        return df.select(
            *[
                F.col(c).cast(types[c]).alias(c)
                if c in types and have[c] != types[c]
                else F.col(c)
                for c in df.columns
            ]
        )

    @staticmethod
    def _merge_schema(old: dict, new: dict) -> dict:
        have = {f["name"] for f in old["fields"]}
        fields = list(old["fields"]) + [
            f for f in new["fields"] if f["name"] not in have
        ]
        return {**old, "fields": fields}

    # -- reads --------------------------------------------------------------

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Snapshot read of one version (default: head). The file list is
        resolved driver-side once; the scan plans over exactly those
        immutable files, so concurrent commits cannot tear the read."""
        m = self._manifest(version)
        # project to the manifest schema: evolution-era files miss newer
        # columns; a post-evolution snapshot still exposes the full union
        return self._read_files(
            spark,
            m["files"],
            StructType.fromJson(m["schema"]),
            dvs=m.get("dvs"),
            dv_counts=m.get("dv_counts"),
            mapping=m.get("column_mapping", {}),
        )

    def version_at(self, ts: float) -> int:
        """TIMESTAMP AS OF resolution (Delta semantics): the latest
        version committed at or before ``ts``. Raises if the table's
        first retained commit is already later. Driver-side walk over
        the manifest list — O(history), no data read."""
        best = None
        for v in self.versions():
            m_ts = self._manifest(v).get("ts")
            if m_ts is not None and m_ts <= ts:
                best = v
        if best is None:
            raise ValueError(
                f"no version of {self.path} existed at timestamp {ts}"
            )
        return best

    def scan(
        self,
        spark: SparkSession,
        col: str,
        lo=None,
        hi=None,
        version: int | None = None,
        eq=None,
        is_null: bool = False,
    ) -> DataFrame:
        """Stats-pruned range scan: files whose [min,max] for ``col``
        cannot intersect [lo,hi] are dropped from the plan entirely
        (manifest-level data skipping); the residual filter still applies
        row-level. Pruning compares numerically for numeric stats and
        lexicographically for string/ISO-date stats, and never prunes an
        uncomparable pair (conservative by construction).

        ``eq=v`` is the point-lookup form (mutually exclusive with
        lo/hi): min/max pruning runs first with [v, v], then — when the
        table writes bloom sidecars for ``col`` (``bloom_cols``) — each
        surviving file's split-block Bloom is probed and files that
        provably lack the key are dropped too. On a high-cardinality
        key under a random layout, min/max spans are non-selective
        (every file covers nearly the full range) while the bloom
        prunes to ~the files actually holding the key plus the FP rate
        — Delta's bloom filter index shape. No false negatives: a file
        without a sidecar is simply kept."""
        if eq is not None:
            if lo is not None or hi is not None or is_null:
                raise ValueError(
                    "scan: eq is mutually exclusive with lo/hi/is_null"
                )
            lo = hi = eq
        m = self._manifest(version)
        mapping = m.get("column_mapping", {})
        phys = mapping.get(col, col)  # stats are keyed by physical name
        if is_null:
            if lo is not None or hi is not None:
                raise ValueError(
                    "scan: is_null is mutually exclusive with lo/hi/eq"
                )
            # null-count skipping (Delta's nullCount stat): a file whose
            # recorded null count for the column is ZERO cannot hold an
            # IS NULL row; files without the stat are kept (no false
            # negatives). DV'd files stay prunable — zero nulls among
            # all rows implies zero among the live subset.
            keep_n = [
                f
                for f in m["files"]
                if m["stats"].get(f, {}).get("__nulls", {}).get(phys) != 0
                and m["stats"].get(f, {}).get("rows", 1) != 0
            ]
            df = self._read_files(
                spark,
                keep_n,
                StructType.fromJson(m["schema"]),
                dvs=m.get("dvs"),
                dv_counts=m.get("dv_counts"),
                mapping=mapping,
            )
            return df.filter(F.col(col).isNull())
        lo_j, hi_j = _stat_json(lo), _stat_json(hi)
        keep = []
        for f in m["files"]:
            st = m["stats"].get(f, {}).get(phys)
            if st is None:
                keep.append(f)  # no stats → cannot prune, must read
                continue
            mn, mx = st
            if mn is None or mx is None:  # all-null file: range never matches
                continue
            if lo_j is not None and _bound_lt(mx, lo_j):
                continue
            if hi_j is not None and _bound_lt(hi_j, mn):
                continue
            keep.append(f)
        schema = StructType.fromJson(m["schema"])
        if eq is not None and keep:
            dtype = next(
                (fld.dataType for fld in schema.fields if fld.name == col),
                None,
            )
            if dtype is not None:
                keep = self._bloom_prune_files(spark, keep, phys, eq, dtype)
        df = self._read_files(
            spark, keep, schema, dvs=m.get("dvs"),
            dv_counts=m.get("dv_counts"), mapping=mapping,
        )
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col(col) >= F.lit(lo))
        if hi is not None:
            cond = cond & (F.col(col) <= F.lit(hi))
        return df.filter(cond)

    def _rel_to_uri(self, col: Column) -> Column:
        """Manifest file key → the ``file:`` URI parquet's
        ``_metadata.file_path`` reports for it (root-relative keys get
        the table root prefixed; absolute keys — borrowed clone files —
        just gain the scheme)."""
        root_uri = "file:" + os.path.abspath(self.path) + "/"
        return F.when(
            col.startswith("/"), F.concat(F.lit("file:"), col)
        ).otherwise(F.concat(F.lit(root_uri), col))

    def _uri_to_rel(self, col: Column) -> Column:
        """Inverse of ``_rel_to_uri``: a ``file:`` URI back to the
        manifest file key (root-relative inside the table, absolute for
        borrowed clone files)."""
        root_uri = "file:" + os.path.abspath(self.path) + "/"
        return F.when(
            col.startswith(root_uri),
            col.substr(F.lit(len(root_uri) + 1), F.length(col)),
        ).otherwise(col.substr(F.lit(6), F.length(col)))  # strip "file:"

    def _dv_frame(
        self, spark: SparkSession, dv_dirs: list[str], total: int
    ) -> DataFrame:
        """Dead ``(__fp, __pos)`` pairs carried by ``dv_dirs``.
        Broadcast when ``total`` (the manifest's per-file dead counts,
        summed by the caller) bounds the set small — the normal case
        (DVs are churn-sized, one compact file per delete commit); a
        pathological mass-delete falls back to a shuffle anti-join. A
        dv dir may carry positions for files outside the current scan
        subset; those rows simply match nothing (commit-dir file names
        are uuid-fresh, never reused), so no filter is needed for
        correctness."""
        df = spark.read.parquet(*[os.path.join(self.path, d) for d in dv_dirs])
        out = df.select(
            self._rel_to_uri(F.col("file")).alias("__fp"),
            F.col("pos").alias("__pos"),
        )
        # force the broadcast only while the estimated in-memory size
        # stays modest: each dead position is a (file-URI string, long)
        # row ≈ root-path length + file-key + object overhead. A
        # scattered mass-delete (hundreds of MB of positions) must NOT
        # be pushed to every executor — fall through and let AQE pick
        # the join strategy from observed sizes instead.
        est_row = len(os.path.abspath(self.path)) + 96
        if 0 < total * est_row <= 32 << 20:
            out = F.broadcast(out)
        return out

    def _read_files(
        self,
        spark: SparkSession,
        rel_files: list[str],
        schema: StructType,
        dvs: dict | None = None,
        dv_counts: dict | None = None,
        keep_meta: bool = False,
        mapping: dict | None = None,
    ) -> DataFrame:
        """Read exactly ``rel_files`` projected to ``schema`` (absent
        evolution-era columns become explicit nulls), applying any
        deletion vectors: files with a DV entry scan with parquet's
        ``_metadata.row_index`` and anti-join their dead (file, pos)
        set — merge-on-read, Delta/Iceberg deletion-vector semantics.
        Files without a DV take the plain join-free scan and the two
        branches union, so a DV-free table pays ZERO overhead and a
        100 TB table with a churn-sized DV pays one broadcast anti-join
        over only the DV'd files. ``keep_meta=True`` keeps ``__fp`` /
        ``__pos`` (file URI + row position) on the output for
        position-deriving callers (the merge-on-read delete).

        ``schema`` is LOGICAL; files carry PHYSICAL names, so each
        field projects through ``mapping`` (None = head's; physical
        names are immutable so one mapping serves files of every
        vintage)."""
        if mapping is None:
            mapping = self._head_mapping()
        fset = set(rel_files)
        dvs = {f: d for f, d in (dvs or {}).items() if f in fset}
        if not rel_files:
            df = spark.createDataFrame([], schema)
            if keep_meta:
                df = df.withColumn("__fp", F.lit(None).cast("string"))
                df = df.withColumn("__pos", F.lit(None).cast("long"))
            return df

        # Explicit PHYSICAL read schema instead of mergeSchema footer
        # inference: mergeSchema launches a distributed footer-merge job
        # on EVERY snapshot/changes/tagged read (guide §1.2/§6 — pure
        # metadata overhead, paid per read at any scale). The manifest
        # already knows the union schema, evolution never re-types a
        # column (_merge_schema keeps the old field; _align_types casts
        # incoming writes), and physical names are immutable — so the
        # reader's per-file reconciliation (absent column → null) gives
        # byte-identical results to the merged-footer path with ZERO
        # inference jobs.
        phys_schema = StructType(
            [
                StructField(
                    mapping.get(f.name, f.name), f.dataType, True
                )
                for f in schema.fields
            ]
        )

        def _scan(files: list[str], with_meta: bool) -> DataFrame:
            df = spark.read.schema(phys_schema).parquet(
                *[os.path.join(self.path, f) for f in files]
            )
            cols = [
                F.col(mapping.get(f.name, f.name)).alias(f.name)
                for f in schema.fields
            ]
            if with_meta:
                cols += [
                    F.col("_metadata.file_path").alias("__fp"),
                    F.col("_metadata.row_index").alias("__pos"),
                ]
            return df.select(*cols)

        out_cols = [f.name for f in schema.fields] + (
            ["__fp", "__pos"] if keep_meta else []
        )
        clean = [f for f in rel_files if f not in dvs]
        dirty = [f for f in rel_files if f in dvs]
        parts = []
        if clean:
            parts.append(_scan(clean, keep_meta))
        if dirty:
            dv = self._dv_frame(
                spark,
                sorted(set(dvs.values())),
                sum((dv_counts or {}).get(f, 0) for f in dirty),
            )
            parts.append(
                _scan(dirty, True)
                .join(dv, ["__fp", "__pos"], "left_anti")
                .select(*out_cols)
            )
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df

    def changes(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int | None = None,
    ) -> DataFrame:
        """Row-level change feed between two versions (Delta CDF's
        ``table_changes``), computed from the manifests' FILE diff: only
        files added or removed between the versions are read — commits
        carry untouched files by reference, so the scan cost is
        proportional to the churn, never the table. At 100 TB an upsert
        touching 0.1% of files yields a change feed that reads 0.2% of
        the data (removed + rewritten), not two full snapshots.

        Returns the net multiset diff with a ``_change_type`` column
        carrying Delta CDF's full vocabulary: rows present at
        ``to_version`` but not ``from_version`` are ``insert``; rows
        gone are ``delete`` — EXCEPT when the diff spans exactly one
        MERGE commit, whose manifest records its ``merge_keys``: then a
        key present on both sides is an update, and its delete/insert
        pair is tagged ``update_preimage`` / ``update_postimage``
        (consumers ported from Delta can distinguish an update from an
        unrelated delete+insert). Multi-version diffs keep the plain
        insert/delete net-diff semantics — pairing across several
        commits has no single key contract. Survivor rows copied
        verbatim into rewritten files cancel out in the count diff; a
        pure-layout commit (OPTIMIZE) produces an empty feed by
        construction.

        NET-STATE semantics (since the r10 re-plan): file-level diffs
        and deletion-vector diffs net against each other in ONE
        multiset count — a row value removed at file level and
        simultaneously resurrected via a DV change cancels to NO event
        (the pre-r10 shape emitted a delete+insert pair for that case).
        The feed describes the net state transition between the two
        versions, not the union of per-mechanism edits; consumers
        comparing against a pre-r10 feed will see the quieter form.
        """
        m_from = self._manifest(from_version)
        m_to = self._manifest(to_version)
        from_set, to_set = set(m_from["files"]), set(m_to["files"])
        added = [f for f in m_to["files"] if f not in from_set]
        removed = [f for f in m_from["files"] if f not in to_set]
        # the to-version schema is the union after any evolution
        schema = StructType.fromJson(m_to["schema"])
        # each side's DVs apply to ITS files: a row dead at from_version
        # is not a "delete" when its file is rewritten, and never
        # resurrects as an "insert". BOTH sides project through the
        # TO-version column mapping: physical names are immutable, so
        # the newer logical names read the older files directly and a
        # rename never fakes a row-level change.
        cmap = m_to.get("column_mapping", {})
        added_rows = self._read_files(
            spark, added, schema, dvs=m_to.get("dvs"),
            dv_counts=m_to.get("dv_counts"), mapping=cmap,
        )
        removed_rows = self._read_files(
            spark, removed, schema, dvs=m_from.get("dvs"),
            dv_counts=m_from.get("dv_counts"), mapping=cmap,
        )
        # ONE count-based multiset diff instead of a pair of exceptAlls:
        # +1 per added-side row, -1 per removed-side row, group on the
        # full row, keep non-zero nets, re-expand |net| copies. Exactly
        # exceptAll's algebra (net>0 ⇔ added exceptAll removed; NULLs
        # group as equal on both paths) but the churned data shuffles
        # ONCE — the old shape shuffled each exceptAll separately and
        # the merge-keys tagging then re-evaluated both subtrees in
        # three plan branches (intersect + two joins), the dominant
        # cost of every CDF materialization (r10 q_table_replicate A/B).
        names = [f.name for f in schema.fields]
        diff = added_rows.withColumn("__w", F.lit(1)).unionByName(
            removed_rows.withColumn("__w", F.lit(-1))
        )
        dv_ins, dv_del = self._dv_diff_rows(spark, m_from, m_to, schema)
        if dv_ins is not None:
            diff = diff.unionByName(
                dv_ins.withColumn("__w", F.lit(1))
            ).unionByName(dv_del.withColumn("__w", F.lit(-1)))
        net = (
            diff.groupBy(*names)
            .agg(F.sum("__w").alias("__n"))
            .filter(F.col("__n") != 0)
        )
        single = m_to["version"] == m_from["version"] + 1
        keys = m_to["meta"].get("merge_keys") if single else None
        if single and m_to["op"] == "update":
            # an UPDATE commit contains nothing but update pairs (every
            # preimage produced exactly one postimage), so the CDF
            # vocabulary needs no key to pair by
            ct = F.when(
                F.col("__n") > 0, F.lit("update_postimage")
            ).otherwise(F.lit("update_preimage"))
        elif keys:
            # a key present on BOTH sides of the diff = an update pair
            # (∝ churn: the window shuffles only the net diff). NULL
            # keys never pair — Delta's join-on-keys semantics, and what
            # the pre-r10 null-unsafe tagging join did.
            from pyspark.sql import Window

            w = Window.partitionBy(*[F.col(k) for k in keys])
            paired = (
                (F.max(F.when(F.col("__n") > 0, 1).otherwise(0)).over(w) == 1)
                & (F.max(F.when(F.col("__n") < 0, 1).otherwise(0)).over(w) == 1)
            )
            for k in keys:
                paired = paired & F.col(k).isNotNull()
            net = net.withColumn("__upd", paired)
            ct = F.when(
                F.col("__n") > 0,
                F.when(F.col("__upd"), F.lit("update_postimage")).otherwise(
                    F.lit("insert")
                ),
            ).otherwise(
                F.when(F.col("__upd"), F.lit("update_preimage")).otherwise(
                    F.lit("delete")
                )
            )
        else:
            ct = F.when(F.col("__n") > 0, F.lit("insert")).otherwise(
                F.lit("delete")
            )
        return (
            net.withColumn("_change_type", ct)
            .withColumn(
                "__i", F.explode(F.sequence(F.lit(1), F.abs(F.col("__n"))))
            )
            .select("_change_type", *names)
        )

    def _dv_diff_rows(
        self, spark: SparkSession, m_from: dict, m_to: dict, schema: StructType
    ) -> tuple[DataFrame | None, DataFrame | None]:
        """Deletion-vector churn's row-level contribution to the change
        feed, as ``(inserts, deletes)``: positions dead at ``to`` but
        live at ``from`` — within files present on BOTH sides — are
        deletes; positions un-deadened (a RESTORE across a merge-on-read
        delete) are inserts. Files only on one side are covered by the
        file diff. Cost ∝ DV churn: only files the position diff
        actually names are read (driver file list bounded by the
        manifest, same contract as ``_touched_files``); the position
        sets are churn-sized and broadcast into the semi-joins."""
        common = set(m_from["files"]) & set(m_to["files"])
        dv_f = {f: d for f, d in m_from.get("dvs", {}).items() if f in common}
        dv_t = {f: d for f, d in m_to.get("dvs", {}).items() if f in common}
        if not dv_f and not dv_t:
            return None, None

        def _rows(dv_map: dict) -> DataFrame:
            if not dv_map:
                return spark.createDataFrame([], "file string, pos long")
            # restrict each dir's rows to the files THIS side's manifest
            # maps to THAT EXACT dir — not just to file names the side
            # maps anywhere: one dv dir can cover several files, and a
            # later fold re-dirs a strict subset, so the superseded dir
            # stays live for its untouched files while repeating the
            # folded file's old positions. Filtering by name alone would
            # count those positions twice on one side and re-emit
            # already-dead rows into the change feed (r8 ADVICE high).
            by_dir: dict[str, list[str]] = {}
            for f, d in dv_map.items():
                by_dir.setdefault(d, []).append(f)
            parts = [
                spark.read.parquet(os.path.join(self.path, d))
                .filter(F.col("file").isin(sorted(fs)))
                .select("file", "pos")
                for d, fs in sorted(by_dir.items())
            ]
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return out

        rows_f, rows_t = _rows(dv_f), _rows(dv_t)
        newly_dead = rows_t.exceptAll(rows_f)
        newly_live = rows_f.exceptAll(rows_t)
        affected = sorted(
            r["file"]
            for r in newly_dead.select("file")
            .union(newly_live.select("file"))
            .distinct()
            .collect()
        )
        if not affected:
            return None, None
        meta_rows = self._read_files(
            spark, affected, schema, keep_meta=True,
            mapping=m_to.get("column_mapping", {}),
        )

        def _pick(pos_df: DataFrame) -> DataFrame:
            pos = pos_df.select(
                self._rel_to_uri(F.col("file")).alias("__fp"),
                F.col("pos").alias("__pos"),
            )
            return meta_rows.join(
                F.broadcast(pos), ["__fp", "__pos"], "left_semi"
            ).select(*[f.name for f in schema.fields])

        return _pick(newly_live), _pick(newly_dead)

    # -- change-data feed ---------------------------------------------------

    def _cdf_version_dir(self, version: int) -> str:
        return os.path.join(self.path, _CDF_DIR, f"_commit_version={version}")

    def materialize_changes(self, spark: SparkSession, version: int) -> str | None:
        """Persist ``version``'s row-level change feed under
        ``_change_data/_commit_version=N/`` (Delta's
        ``enableChangeDataFeed`` layout: the partition directory carries
        the commit version; files carry ``_change_type`` + data columns).

        Cost ∝ churn: the feed is ``changes(N-1, N)``, which reads only
        the files the commit added or removed — never a snapshot. The
        write is idempotent (overwrite into the version's own
        directory), so a crash between commit and feed write is repaired
        by re-calling with the same version. Layout-only commits
        (OPTIMIZE) have an empty feed by construction and write nothing
        (returns None); version 0's feed is the initial snapshot as
        inserts.

        Each version's feed is coalesced to a SINGLE parquet file: a
        Structured Streaming file source assigns whole files to
        micro-batches, so one-file-per-version guarantees a commit can
        never split across batches (a split could deliver a key's
        delete-preimage after its insert-postimage was already applied
        — a replica would permanently lose the row). A commit's feed is
        churn-sized, not table-sized, so one file holds it comfortably;
        ``replicate`` additionally folds by whole-version ranges and is
        correct even for a sharded feed."""
        m = self._manifest(version)
        if m["op"] in _FEEDLESS_OPS:
            return None  # layout/metadata-only: empty feed by construction
        if version == 0:
            feed = self.read(spark, 0).select(
                F.lit("insert").alias("_change_type"), "*"
            )
        else:
            feed = self.changes(spark, version - 1, version)
        out = self._cdf_version_dir(version)
        feed.coalesce(1).write.mode("overwrite").parquet(out)
        return out

    def _maybe_cdf(self, spark: SparkSession | None, version: int) -> int:
        if self.change_feed:
            if spark is None:
                raise ValueError(
                    f"change_feed is enabled on {self.path}: this "
                    "operation needs a SparkSession to materialize the "
                    "version's change feed"
                )
            self.materialize_changes(spark, version)
        return version

    def changes_schema(self, version: int | None = None) -> StructType:
        """Schema of the change feed: ``_change_type`` + the table's
        columns + the ``_commit_version`` partition column."""
        base = StructType.fromJson(self._manifest(version)["schema"])
        return StructType(
            [
                StructField("_change_type", StringType(), False),
                *base.fields,
                StructField("_commit_version", LongType(), True),
            ]
        )

    def stream_changes(
        self,
        spark: SparkSession,
        max_files_per_trigger: int | None = None,
        starting_version: int | None = None,
    ) -> DataFrame:
        """Structured-Streaming CDC *source* over the materialized change
        feed — the read-side twin of the ``q_stream_merge`` CDC sink.

        Implemented as a plain JVM-side parquet file stream over
        ``_change_data/`` (no Python in the data plane): each commit's
        feed directory is a partition ``_commit_version=N``, new commits
        surface as new files, and the file source's checkpoint gives
        exactly-once delivery per file. Consumers order by
        ``_commit_version`` — a micro-batch may split or coalesce
        commits (same contract as Delta's CDF stream read), but every
        change row arrives exactly once and versions arrive
        monotonically within a single-writer table's directory listing.
        """
        if not self.change_feed:
            raise ValueError(
                f"versioned table at {self.path} has change_feed=False; "
                "construct with change_feed=True (and backfill via "
                "materialize_changes) before streaming"
            )
        # completeness guard: every data commit at or above the start
        # must have a materialized feed, else the replay contract would
        # silently drop rows (e.g. a shallow clone's version 0, which is
        # metadata-only by design — backfill with materialize_changes(
        # spark, 0) or skip it with starting_version)
        start = starting_version or 0
        missing = [
            v
            for v in self.versions()
            if v >= start
            and self._manifest(v)["op"] not in _FEEDLESS_OPS
            and not os.path.isdir(self._cdf_version_dir(v))
        ]
        if missing:
            raise ValueError(
                f"versions {missing} of {self.path} have no materialized "
                "change feed (commits made with change_feed=False, or a "
                "clone's metadata-only version 0): backfill each with "
                "materialize_changes(spark, v) or skip them with "
                "starting_version"
            )
        root = os.path.join(self.path, _CDF_DIR)
        reader = spark.readStream.schema(self.changes_schema()).option(
            "basePath", root
        )
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
        out = reader.parquet(root)
        if starting_version is not None:
            # Delta's startingVersion: the predicate lands on the
            # _commit_version PARTITION column, so pruned feed files are
            # checkpointed without their data ever being read
            out = out.filter(F.col("_commit_version") >= F.lit(starting_version))
        return out

    def restore(
        self,
        version: int,
        meta: dict | None = None,
        spark: SparkSession | None = None,
    ) -> int:
        """RESTORE TABLE ... TO VERSION AS OF: roll the head back to a
        prior snapshot as a NEW commit that references the old version's
        files verbatim — metadata-only, so restoring a 100 TB table is
        one manifest write. History is preserved (the bad versions stay
        time-travelable until vacuum); raises ``VacuumedVersionError``
        if the target's files were already reclaimed. With
        ``change_feed`` enabled pass ``spark`` so the rollback's
        re-insert/delete rows reach the feed (cost ∝ the diff being
        undone, not the table).

        If CHECK constraints are active, the restored snapshot is
        RE-VALIDATED against them (the target version may predate a
        constraint) — this is the one restore that costs a scan; it is
        the price of the no-manifest-references-violating-files
        invariant. Pass ``spark`` whenever constraints are active."""
        head = self.latest_version()
        if head is not None:
            # the vacuum horizon rides every manifest (raised by
            # vacuum()'s marker commit): restoring below it would
            # resurrect file references a concurrent/completed vacuum is
            # entitled to reclaim — even when this handle still has the
            # target manifest warm in its cache. The expected_head CAS
            # below forces any restore racing the marker back through
            # this check.
            hz = self._manifest(head).get("vacuum_horizon", 0)
            if version < hz:
                raise VacuumedVersionError(
                    f"cannot restore {self.path} to version {version}: "
                    f"below the vacuum horizon {hz} — its files may "
                    "already be reclaimed"
                )
        if self.change_feed and spark is None:
            # validate BEFORE committing: a post-commit failure would
            # leave a published version with no feed entry
            raise ValueError(
                f"change_feed is enabled on {self.path}: restore needs "
                "spark= to materialize the rollback's change feed"
            )
        cons = self.constraints()
        if cons:
            if spark is None:
                raise ValueError(
                    f"CHECK constraints {sorted(cons)} are active on "
                    f"{self.path}: restore needs spark= to re-validate "
                    "the restored snapshot against them"
                )
            bad = _count_violations(self.read(spark, version), cons)
            if bad:
                raise ConstraintViolationError(
                    f"cannot restore {self.path} to version {version}: "
                    f"the snapshot violates active CHECK constraint(s) "
                    f"{bad} — drop the constraint first or restore to a "
                    "clean version"
                )
        m = self._manifest(version)
        # the snapshot was just validated against `cons`; the commit-time
        # check then catches a constraint added concurrently, and
        # expected_head catches any other commit racing the rollback.
        # `head` is the SAME head the vacuum-horizon check above read:
        # re-reading latest_version() here would let a vacuum marker
        # slip between the check and the claim, and this restore would
        # resurrect files that vacuum is already reclaiming.
        self._validated_constraints = cons
        v = self._commit(
            "restore",
            m["files"],
            m["stats"],
            m["schema"],
            {**(meta or {}), "restored_version": version},
            expected_head=head,
            # roll deletion vectors back with the snapshot (restoring
            # across a merge-on-read delete un-deletes its rows; the
            # change feed reports them as inserts via _dv_diff_rows),
            # and the column mapping with it (a restore across a rename
            # restores the old logical names)
            dvs=(m.get("dvs", {}), m.get("dv_counts", {})),
            column_mapping=dict(m.get("column_mapping", {})),
            retired_cols=list(m.get("retired_cols", [])),
        )
        return self._maybe_cdf(spark, v)

    @classmethod
    def convert_from_parquet(
        cls,
        spark: SparkSession,
        src_dir: str,
        dest_path: str,
        stats_cols: Sequence[str] = (),
        **kw,
    ) -> "VersionedTable":
        """Delta's ``CONVERT TO DELTA``, in its non-destructive form:
        register an EXISTING plain-parquet directory as version 0 of a
        new VersionedTable without copying or moving a byte — the v0
        manifest borrows the source files by absolute path (the
        shallow-clone mechanism), and ONE stats pass over them records
        the per-file row counts, min/max and null counts that power
        metadata-only COUNT/MIN/MAX and scan pruning from the first
        read. The source directory is never written to (bloom-sidecar
        backfill skips borrowed files for the same reason); later
        commits land in the new table's own ``data/`` via the ordinary
        copy-on-write paths, and the new table's vacuum walks only its
        own directory, so it can never reclaim source data.

        Hive-partitioned layouts (``key=value`` subdirectories) are
        rejected: the partition column lives in the directory name, not
        the files, so a file-level borrow would silently drop it —
        rewrite such data through ``write_full`` instead."""
        src_abs = os.path.abspath(src_dir)
        files: list[str] = []
        if os.path.isfile(src_abs):
            files = [src_abs]
        else:
            for dirpath, _dirnames, names in os.walk(src_abs):
                rel_dir = os.path.relpath(dirpath, src_abs)
                if any(
                    "=" in part
                    for part in rel_dir.split(os.sep)
                    if part not in (".",)
                ):
                    raise ValueError(
                        f"convert_from_parquet: {src_dir} is hive-"
                        "partitioned (key=value directories); the "
                        "partition column is not in the files — load "
                        "and write_full instead"
                    )
                files.extend(
                    os.path.join(dirpath, n)
                    for n in sorted(names)
                    if n.endswith(".parquet")
                )
        if not files:
            raise ValueError(f"no parquet files under {src_dir}")
        dest = cls(dest_path, stats_cols=stats_cols, **kw)
        if dest.exists():
            raise ValueError(
                f"convert destination {dest_path} already has a table"
            )
        schema_json = dest._schema_json(spark.read.parquet(*files))
        stats = dest._file_stats(
            spark, files, borrowed=frozenset(files)
        )
        v = dest._commit(
            "convert",
            files,
            stats,
            schema_json,
            {"source": src_abs, "converted_files": len(files)},
        )
        assert v == 0
        return dest

    def clone(
        self,
        dest_path: str,
        shallow: bool = True,
        version: int | None = None,
        stats_cols: Sequence[str] | None = None,
        change_feed: bool | None = None,
    ) -> "VersionedTable":
        """CREATE TABLE ... CLONE (Delta semantics).

        ``shallow=True`` is metadata-only: the clone's version-0 manifest
        references the source snapshot's data files BY ABSOLUTE PATH —
        cloning a 100 TB table writes one JSON manifest and zero data.
        The clone then evolves independently: copy-on-write MERGE/DELETE
        rewrite touched files into the clone's own ``data/`` directory
        while untouched source files stay borrowed by reference, and the
        clone's ``vacuum`` only ever walks the clone's own directory, so
        it can never reclaim source data. The one caveat is Delta's own:
        vacuuming the SOURCE table can remove files a shallow clone
        still references — deep-clone (or avoid source vacuum) when the
        clone must outlive the source's retention.

        ``shallow=False`` copies the snapshot's data files byte-for-byte
        into the clone (same layout, fully independent lifecycle).

        The clone starts a fresh history (its version 0 is the clone
        commit, ``meta.source``/``meta.source_version`` record
        provenance); source stats carry over so data skipping works
        immediately. Table properties inherit like Delta CLONE copies
        ``delta.enableChangeDataFeed``: ``change_feed=None`` (default)
        carries the SOURCE snapshot's flag into the clone's version-0
        manifest, so streams against a CDF-enabled clone keep working;
        pass an explicit bool to override.
        """
        m = self._manifest(version)
        src_version = m["version"]
        if change_feed is None:
            change_feed = bool(m.get("change_feed", False))
        dest = VersionedTable(
            dest_path,
            stats_cols=self.stats_cols if stats_cols is None else stats_cols,
            change_feed=change_feed,
            claim_backend=self._claim,
        )
        if dest.exists():
            raise ValueError(f"clone destination {dest_path} already has a table")
        if shallow:
            files = [
                f if os.path.isabs(f) else os.path.abspath(os.path.join(self.path, f))
                for f in m["files"]
            ]
            stats = {
                nf: m["stats"][f]
                for f, nf in zip(m["files"], files)
                if f in m["stats"]
            }
        else:
            files, stats = [], {}
            for f in m["files"]:
                src = f if os.path.isabs(f) else os.path.join(self.path, f)
                rel = os.path.join(
                    _DATA_DIR, "c00000000-clone", f"{uuid.uuid4().hex}.parquet"
                )
                dst = os.path.join(dest_path, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                shutil.copyfile(src, dst)
                files.append(rel)
                if f in m["stats"]:
                    stats[rel] = m["stats"][f]
        key_map = dict(zip(m["files"], files))
        dv_pair = self._clone_dvs(m, dest_path, key_map)
        v = dest._commit(
            "clone",
            files,
            stats,
            m["schema"],
            {
                "source": os.path.abspath(self.path),
                "source_version": src_version,
                "shallow": shallow,
            },
            constraints=dict(m.get("constraints", {})),
            dvs=dv_pair,
            column_mapping=dict(m.get("column_mapping", {})),
            retired_cols=list(m.get("retired_cols", [])),
        )
        assert v == 0
        return dest

    def _clone_dvs(
        self, m: dict, dest_path: str, key_map: dict
    ) -> tuple[dict, dict]:
        """Copy the snapshot's deletion-vector sidecars into a clone,
        rewriting each dead position's file key through ``key_map``
        (source manifest key → clone manifest key: absolute for shallow
        clones' borrowed files, fresh relative names for deep copies).
        DV sidecars are churn-sized, so even a metadata-only shallow
        clone of a 100 TB table copies kilobytes here — done with
        pyarrow to keep ``clone`` Spark-free."""
        dvs = m.get("dvs", {})
        if not dvs:
            return {}, {}
        import pyarrow as pa
        import pyarrow.parquet as pq

        new_dvs: dict = {}
        new_counts: dict = {}
        for src_dir in sorted(set(dvs.values())):
            covered = {f for f, d in dvs.items() if d == src_dir}
            tbl = pq.read_table(os.path.join(self.path, src_dir))
            out_f, out_p = [], []
            for fk, p in zip(
                tbl.column("file").to_pylist(), tbl.column("pos").to_pylist()
            ):
                if fk in covered:  # drop stale rows for rewritten files
                    out_f.append(key_map[fk])
                    out_p.append(p)
            rel = os.path.join(
                _DATA_DIR, f"c00000000-clone-{uuid.uuid4().hex[:8]}-dv"
            )
            out_dir = os.path.join(dest_path, rel)
            os.makedirs(out_dir, exist_ok=True)
            pq.write_table(
                pa.table({"file": out_f, "pos": pa.array(out_p, pa.int64())}),
                os.path.join(out_dir, "part-00000.parquet"),
            )
            for f in covered:
                new_dvs[key_map[f]] = rel
                new_counts[key_map[f]] = sum(
                    1 for nf in out_f if nf == key_map[f]
                )
        return new_dvs, new_counts

    # -- CHECK constraints + write-audit-publish ----------------------------

    def add_constraint(self, spark: SparkSession, name: str, expr: str) -> int:
        """ALTER TABLE ... ADD CONSTRAINT ... CHECK (expr): validates the
        EXISTING head data in one aggregate (rejecting if any row
        violates, like Delta), then publishes the constraint as a
        metadata-only commit. Every later commit checks every row it
        writes on the write itself and takes its stats from the written
        files' footers (``_write_commit_files``)."""
        if name.startswith(_NOTNULL_PREFIX):
            raise ValueError(
                f"constraint names under {_NOTNULL_PREFIX!r} are "
                "reserved for NOT NULL columns — use ALTER TABLE … "
                "ALTER COLUMN c SET NOT NULL"
            )
        m = self._manifest()
        cons = dict(m.get("constraints", {}))
        if name in cons:
            raise ValueError(f"constraint {name!r} already exists: {cons[name]!r}")
        bad = _count_violations(self.read(spark), {name: expr})
        if bad:
            raise ConstraintViolationError(
                f"cannot add CHECK constraint {name!r} ({expr}): "
                f"{bad[name]} existing row(s) violate it"
            )
        cons[name] = expr
        return self._commit(
            "set_constraint",
            m["files"],
            m["stats"],
            m["schema"],
            {"constraint": name, "expr": expr},
            constraints=cons,
            expected_head=m["version"],
        )

    def set_bloom_cols(
        self, spark: SparkSession, cols: Sequence[str], backfill: bool = False
    ) -> int:
        """Delta's ``CREATE/DROP BLOOMFILTER INDEX``: persist the bloom
        column set as a metadata-only commit (``[]`` drops the index).
        New commits index their files from then on — any handle, since
        the setting rides the manifest. ``backfill=True`` additionally
        writes sidecars for the EXISTING head files (idempotent atomic
        writes, one aggregate per column per commit dir; borrowed
        absolute-path clone files are skipped — their directories
        belong to the source table). Without backfill, pre-existing
        files simply never prune (no false negatives either way)."""
        m = self._manifest()
        cols = list(cols)
        fields = {f["name"] for f in m["schema"]["fields"]}
        missing = [c for c in cols if c not in fields]
        if missing:
            raise ValueError(
                f"bloom columns not in schema: {missing} (have {sorted(fields)})"
            )
        prev_bloom = self.bloom_cols
        self.bloom_cols = cols  # explicit: _commit persists it
        try:
            v = self._commit(
                "set_bloom_index",
                m["files"],
                m["stats"],
                m["schema"],
                {"bloom_cols": cols},
                expected_head=m["version"],
            )
        except BaseException:
            # a failed DDL must not linger on this handle: _commit reads
            # self.bloom_cols, so leaving the new value would silently
            # persist the "failed" index at the next data commit
            self.bloom_cols = prev_bloom
            raise
        if backfill and cols:
            mapping = self._head_mapping()
            by_dir: dict[str, list[str]] = {}
            for f in m["files"]:
                if os.path.isabs(f):
                    continue  # borrowed clone file: not our directory
                by_dir.setdefault(os.path.dirname(f), []).append(f)
            for d, fs in by_dir.items():
                self._write_bloom_sidecars(
                    spark, os.path.join(self.path, d), fs, m["stats"], mapping
                )
        return v

    def set_change_feed(
        self, spark: SparkSession, enabled: bool, backfill: bool = False
    ) -> int:
        """Delta's ``delta.enableChangeDataFeed`` table property as DDL
        (SQL: ``ALTER TABLE t SET CHANGE FEED = true|false [WITH
        BACKFILL]``): persist enablement as a metadata-only commit so
        EVERY later handle — any process — materializes each commit's
        row-level feed. Like Delta, enablement covers commits from the
        DDL on; ``backfill=True`` additionally materializes the feed
        for every RETAINED earlier data commit (version 0 as
        snapshot-inserts — idempotent overwrites, cost ∝ retained
        churn), letting ``stream_changes`` start from version 0
        instead of ``starting_version``."""
        m = self._manifest()
        prev = self._change_feed
        self._change_feed = bool(enabled)  # explicit: _commit persists it
        if enabled:
            os.makedirs(os.path.join(self.path, _CDF_DIR), exist_ok=True)
        try:
            v = self._commit(
                "set_change_feed",
                m["files"],
                m["stats"],
                m["schema"],
                {"change_feed": bool(enabled)},
                expected_head=m["version"],
            )
        except BaseException:
            # a failed DDL must not linger on this handle (same doctrine
            # as set_bloom_cols)
            self._change_feed = prev
            raise
        if enabled and backfill:
            for bv in self.versions():
                if bv > v:
                    break
                if self._manifest(bv)["op"] in _FEEDLESS_OPS:
                    continue
                if not os.path.isdir(self._cdf_version_dir(bv)):
                    self.materialize_changes(spark, bv)
        return v

    def drop_constraint(self, name: str) -> int:
        """ALTER TABLE ... DROP CONSTRAINT: metadata-only commit."""
        if name.startswith(_NOTNULL_PREFIX):
            raise ValueError(
                f"{name!r} backs a NOT NULL column — use ALTER TABLE … "
                "ALTER COLUMN c DROP NOT NULL"
            )
        m = self._manifest()
        cons = dict(m.get("constraints", {}))
        if name not in cons:
            raise ValueError(f"no constraint {name!r} (have: {sorted(cons)})")
        del cons[name]
        return self._commit(
            "drop_constraint",
            m["files"],
            m["stats"],
            m["schema"],
            {"constraint": name},
            constraints=cons,
            expected_head=m["version"],
        )

    # -- NOT NULL column constraints (Delta ships these beside CHECK) --------

    def set_not_null(self, spark: SparkSession, col: str) -> int:
        """``ALTER TABLE … ALTER COLUMN col SET NOT NULL``: validates
        the EXISTING head data (rejecting if any row is NULL, like
        Delta), then persists the invariant as a reserved-name entry
        (``__notnull__<col>``) in the SAME constraint channel CHECK
        uses — so every later commit checks it on the rows it adds
        (see ``add_constraint``), and the OCC drift check covers it."""
        m = self._manifest()
        fields = [f["name"] for f in m["schema"]["fields"]]
        if col not in fields:
            raise ValueError(f"no column {col!r} (have: {fields})")
        name = _NOTNULL_PREFIX + col
        cons = dict(m.get("constraints", {}))
        if name in cons:
            raise ValueError(f"column {col!r} is already NOT NULL")
        expr = f"{col} IS NOT NULL"
        bad = _count_violations(self.read(spark), {name: expr})
        if bad:
            raise ConstraintViolationError(
                f"cannot set column {col!r} NOT NULL: {bad[name]} "
                "existing row(s) are NULL"
            )
        cons[name] = expr
        return self._commit(
            "set_constraint",
            m["files"],
            m["stats"],
            m["schema"],
            {"constraint": name, "expr": expr, "not_null": col},
            constraints=cons,
            expected_head=m["version"],
        )

    def drop_not_null(self, col: str) -> int:
        """``ALTER TABLE … ALTER COLUMN col DROP NOT NULL``:
        metadata-only commit removing the invariant."""
        m = self._manifest()
        name = _NOTNULL_PREFIX + col
        cons = dict(m.get("constraints", {}))
        if name not in cons:
            raise ValueError(
                f"column {col!r} is not declared NOT NULL "
                f"(not-null columns: {self.not_null_cols()})"
            )
        del cons[name]
        return self._commit(
            "drop_constraint",
            m["files"],
            m["stats"],
            m["schema"],
            {"constraint": name, "not_null": col},
            constraints=cons,
            expected_head=m["version"],
        )

    def not_null_cols(self) -> list[str]:
        """Columns declared NOT NULL (from the head manifest's
        constraint channel — metadata-only)."""
        return sorted(
            n[len(_NOTNULL_PREFIX):]
            for n in self.constraints()
            if n.startswith(_NOTNULL_PREFIX)
        )

    # -- column mapping (rename/drop without rewrite) ------------------------

    def _check_constraint_refs(self, m: dict, col: str, what: str) -> None:
        cons = {
            n: e
            for n, e in m.get("constraints", {}).items()
            if re.search(rf"\b{re.escape(col)}\b", e)
        }
        if cons:
            raise ValueError(
                f"cannot {what} column {col!r}: referenced by CHECK "
                f"constraint(s) {sorted(cons)} — drop them first"
            )

    def rename_column(self, old: str, new: str, meta: dict | None = None) -> int:
        """ALTER TABLE ... RENAME COLUMN — metadata-only (Delta column
        mapping): the logical name changes in the manifest schema while
        the column's PHYSICAL name (its name at first write) stays
        frozen in every data file, so renaming a column on a 100 TB
        table is one manifest write. Readers of any version project
        physical→logical through that version's mapping; stats stay
        keyed by physical name so file skipping never goes stale.
        Raises if a CHECK constraint references the old name (its
        expression text would silently stop matching rows)."""
        m = self._manifest()
        fields = [f["name"] for f in m["schema"]["fields"]]
        if old not in fields:
            raise ValueError(f"no column {old!r} (have: {fields})")
        if new in fields:
            raise ValueError(f"column {new!r} already exists")
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", new):
            raise ValueError(f"invalid column name {new!r}")
        self._check_constraint_refs(m, old, "rename")
        cm = dict(m.get("column_mapping", {}))
        phys = cm.pop(old, old)
        cm[new] = phys
        # the new logical name must not shadow a physical name that
        # lives in data files under a DIFFERENT logical column
        taken = set(cm.values()) | set(m.get("retired_cols", []))
        if new in taken - {phys}:
            raise ValueError(
                f"cannot rename to {new!r}: a data-file column of that "
                "physical name already exists (rename it further or "
                "rewrite via OPTIMIZE first)"
            )
        schema = {
            **m["schema"],
            "fields": [
                {**f, "name": new} if f["name"] == old else f
                for f in m["schema"]["fields"]
            ],
        }
        return self._commit(
            "rename_column",
            m["files"],
            m["stats"],
            schema,
            {**(meta or {}), "from": old, "to": new},
            expected_head=m["version"],
            column_mapping=cm,
        )

    def drop_column(self, col: str, meta: dict | None = None) -> int:
        """ALTER TABLE ... DROP COLUMN — metadata-only: the field leaves
        the manifest schema; data files keep the bytes (readers project
        them away), so dropping a column from a 100 TB table is one
        manifest write and a RESTORE across the drop un-drops the data.
        The physical name is RETIRED: schema evolution may never re-add
        a column under it, because old files would leak stale values
        into the reborn column. ``optimize(rewrite_all=True)`` after a
        drop physically sheds the bytes."""
        m = self._manifest()
        fields = [f["name"] for f in m["schema"]["fields"]]
        if col not in fields:
            raise ValueError(f"no column {col!r} (have: {fields})")
        if len(fields) == 1:
            raise ValueError("cannot drop the only column")
        self._check_constraint_refs(m, col, "drop")
        cm = dict(m.get("column_mapping", {}))
        phys = cm.pop(col, col)
        if self.stats_cols and col in self.stats_cols:
            self.stats_cols = [c for c in self.stats_cols if c != col]
        schema = {
            **m["schema"],
            "fields": [f for f in m["schema"]["fields"] if f["name"] != col],
        }
        return self._commit(
            "drop_column",
            m["files"],
            m["stats"],
            schema,
            {**(meta or {}), "column": col},
            expected_head=m["version"],
            column_mapping=cm,
            retired_cols=sorted({*m.get("retired_cols", []), phys}),
        )

    def write_audit_publish(
        self,
        spark: SparkSession,
        df: DataFrame,
        audits: Sequence,
        mode: str = "overwrite",
        meta: dict | None = None,
    ) -> int:
        """Iceberg's write-audit-publish (WAP) pattern on the manifest
        layer: the data is STAGED (files written — constraint-checked on
        the write, stats from their footers — but referenced by no
        manifest, so readers cannot see it), each
        audit callable runs against exactly the staged files, and only
        if every audit passes is the snapshot PUBLISHED as an atomic
        commit. A failing audit deletes the staged files and re-raises
        — the table head never moves, which is the whole point: bad
        data is rejected before visibility, not rolled back after.

        ``audits`` are callables taking the staged DataFrame; raise to
        reject (compose with ``quality.expectations.validate`` for
        GE-style suites). ``mode`` is ``overwrite`` or ``append``.
        """
        if mode not in ("overwrite", "append"):
            raise ValueError(f"write_audit_publish mode must be overwrite|append, got {mode!r}")
        audits = list(audits)  # may be a one-shot iterable
        hint = (self.latest_version() or 0) + 1
        files, stats = self._write_commit_files(df, hint)
        staged = self._read_files(spark, files, df.schema)
        try:
            for audit in audits:
                audit(staged)
        except Exception:
            # one staged commit dir by construction — remove it
            commit_dir = os.path.dirname(os.path.join(self.path, files[0])) if files else None
            if commit_dir:
                shutil.rmtree(commit_dir, ignore_errors=True)
            raise
        if mode == "append" and self.exists():
            cur = self._manifest()
            v = self._commit(
                "wap_append",
                cur["files"] + files,
                {**cur["stats"], **stats},
                self._merge_schema(cur["schema"], self._schema_json(df)),
                {**(meta or {}), "audits": len(audits)},
                retry_append_files=files,
                read_m=cur,
            )
        else:
            v = self._commit(
                "wap_overwrite",
                files,
                stats,
                self._schema_json(df),
                {**(meta or {}), "audits": len(audits)},
            )
        return self._maybe_auto_compact(spark, self._maybe_cdf(spark, v))

    def history(self) -> list[dict]:
        out = []
        for v in self.versions():
            m = self._manifest(v)
            n_dead = sum(m.get("dv_counts", {}).values())
            entry = {
                "version": v,
                "op": m["op"],
                "ts": m.get("ts"),
                "n_files": len(m["files"]),
                # physical rows minus deletion-vector dead positions =
                # logical row count (dv rows are exact, never stale:
                # rewrites shed their files' entries at commit)
                "n_rows": sum(
                    m["stats"].get(f, {}).get("rows", 0) for f in m["files"]
                )
                - n_dead,
                "meta": m["meta"],
            }
            if n_dead:
                entry["n_dv_rows"] = n_dead
            out.append(entry)
        return out

    def row_count(self, version: int | None = None) -> int:
        """Logical row count from manifest stats ALONE — zero data I/O
        at any table size (Delta's metadata-only ``COUNT(*)``): every
        committed file carries an exact ``rows`` stat (zero-row part
        files included, ``_collect_stats``'s invariant) and deletion
        vectors carry exact per-file dead counts. Strict: a file
        without a rows stat raises rather than silently undercounting
        (unreachable for tables this layer wrote; guards hand-edited
        manifests)."""
        m = self._manifest(version)
        total = 0
        for f in m["files"]:
            st = m["stats"].get(f)
            if st is None or "rows" not in st:
                raise ValueError(
                    f"file {f!r} of {self.path} v{m['version']} has no "
                    "rows stat; metadata-only count unavailable"
                )
            total += st["rows"]
        return total - sum(m.get("dv_counts", {}).values())

    def col_min_max(self, col: str, version: int | None = None) -> tuple:
        """Whole-table (MIN, MAX) for ``col`` from manifest stats ALONE
        — zero data I/O at any table size (Delta's stats-based query
        answering; the MIN/MAX twin of ``row_count``). Exact because
        per-file stats are exact aggregates, and MIN/MAX over files is
        MIN/MAX of per-file extrema. REFUSES with ``ValueError``
        whenever metadata cannot GUARANTEE the answer:

        * the version carries deletion vectors (a dead row could be the
          stored extremum — file stats include DV'd rows);
        * ``col`` is not a stats column of every non-empty file;
        * ``col`` is decimal (stats store pruning-grade floats — see
          ``_stat_json`` — so the exact value is not recoverable).

        Values come back in the stat plane: numbers, or ISO strings for
        date/timestamp columns (cast with the schema type for typed
        use). NULL-only columns answer (None, None) — SQL MIN/MAX
        ignore NULLs."""
        m = self._manifest(version)
        if m.get("dvs"):
            raise ValueError(
                "metadata-only MIN/MAX unavailable: version "
                f"{m['version']} carries deletion vectors"
            )
        dtype = next(
            (
                f["type"]
                for f in m["schema"]["fields"]
                if f["name"] == col
            ),
            None,
        )
        if dtype is None:
            raise ValueError(f"no column {col!r} at version {m['version']}")
        if isinstance(dtype, str) and dtype.startswith("decimal"):
            raise ValueError(
                "metadata-only MIN/MAX unavailable for decimal columns "
                "(stats store pruning-grade floats)"
            )
        phys = m.get("column_mapping", {}).get(col, col)
        mins: list = []
        maxs: list = []
        for f in m["files"]:
            st = m["stats"].get(f)
            if st is None or "rows" not in st:
                # a file with NO stats entry is unknown, not empty —
                # skipping it could return extrema narrower than the
                # truth, violating the refuse-don't-guess contract
                raise ValueError(
                    f"file {f!r} has no stats entry; metadata-only "
                    "MIN/MAX unavailable"
                )
            if st["rows"] == 0:
                continue  # empty part file contributes nothing
            if phys not in st:
                raise ValueError(
                    f"file {f!r} has no {col!r} stat; metadata-only "
                    "MIN/MAX unavailable"
                )
            mn, mx = st[phys]
            if mn is not None:
                mins.append(mn)
                maxs.append(mx)
        if not mins:
            return (None, None)
        return (min(mins), max(maxs))

    def col_non_null_count(self, col: str, version: int | None = None) -> int:
        """Metadata-only ``COUNT(col)`` (non-null count) from the
        per-file null-count stats — ``row_count``'s column twin.
        REFUSES when metadata cannot guarantee the answer: deletion
        vectors at the version (how many dead rows were null is
        unrecorded) or a file lacking the column's null stat (written
        before the column joined ``stats_cols``)."""
        m = self._manifest(version)
        if m.get("dvs"):
            raise ValueError(
                "metadata-only COUNT(col) unavailable: version "
                f"{m['version']} carries deletion vectors"
            )
        if all(f["name"] != col for f in m["schema"]["fields"]):
            raise ValueError(f"no column {col!r} at version {m['version']}")
        phys = m.get("column_mapping", {}).get(col, col)
        total = 0
        for f in m["files"]:
            st = m["stats"].get(f)
            if st is None or "rows" not in st:
                raise ValueError(
                    f"file {f!r} has no rows stat; metadata-only "
                    "COUNT(col) unavailable"
                )
            if st["rows"] == 0:
                continue
            nulls = st.get("__nulls", {}).get(phys)
            if nulls is None:
                raise ValueError(
                    f"file {f!r} has no null-count stat for {col!r}; "
                    "metadata-only COUNT(col) unavailable"
                )
            total += st["rows"] - nulls
        return total

    # -- copy-on-write ops --------------------------------------------------

    def _tagged_read(self, spark: SparkSession, m: dict) -> DataFrame:
        """Snapshot read of manifest ``m`` carrying ``__file`` (the row's
        source-file URI) for touched-file discovery. Uses parquet's
        ``_metadata.file_path``, NOT ``input_file_name()`` — the latter
        fails on multi-source plans, which a DV'd table's read is (data
        scan ⋈ dv sidecar)."""
        return self._read_files(
            spark,
            m["files"],
            StructType.fromJson(m["schema"]),
            dvs=m.get("dvs"),
            dv_counts=m.get("dv_counts"),
            keep_meta=True,
        ).withColumnRenamed("__fp", "__file").drop("__pos")

    def _touched_files(self, matched: DataFrame) -> list[str]:
        """Distinct manifest-relative files present in ``matched`` (a
        frame carrying ``__file`` = the source-file URI). Driver-side
        list bounded by the manifest's own file count."""
        borrowed = self._borrowed_files()
        return sorted(
            {
                self._to_rel(r["__file"], borrowed)
                for r in matched.select("__file").distinct().collect()
            }
        )

    def _maybe_auto_compact(self, spark: SparkSession, v: int) -> int:
        """Post-commit autoCompact hook (see ``__init__``): when at
        least ``min_small_files`` live files hold fewer than
        ``target_rows_per_file // 2`` rows, an OPTIMIZE bin-pack lands
        as its own follow-up commit. Decided from manifest stats alone
        (zero extra scans); returns the optimize commit's version, or
        ``v`` untouched when compaction isn't due.

        BEST-EFFORT (Delta's autoCompact semantics): the caller's data
        commit ``v`` is already durable when this runs, so losing the
        follow-up OPTIMIZE to a concurrent writer must NOT fail the
        parent write — a caller retrying on ``ConcurrentWriteError``
        would re-land the same rows. The lost compaction simply runs
        after a later commit (the small-file condition persists)."""
        if not self.auto_compact:
            return v
        min_small, target = self.auto_compact
        m = self._manifest()
        small = [
            f
            for f in m["files"]
            if m["stats"].get(f, {}).get("rows", 0) < target // 2
        ]
        if len(small) < min_small:
            return v
        try:
            return self.optimize(
                spark, target_rows_per_file=target, meta={"auto_compact": True}
            )
        except ConcurrentWriteError:
            return v

    def merge_upsert(
        self,
        spark: SparkSession,
        updates: DataFrame,
        keys: Sequence[str],
        meta: dict | None = None,
        audits: Sequence = (),
    ) -> int:
        """Key-level MERGE (WHEN MATCHED UPDATE ALL / NOT MATCHED INSERT
        ALL), file-granular copy-on-write:

        0. the source is PINNED once (eager ``localCheckpoint``, Delta's
           ``merge.materializeSource``): every step below reads the
           churn-sized pinned rows, never re-runs the source's plan,
        1. ``audits`` (callables taking the pinned frame; raise to
           reject — ``write_audit_publish``'s shape) run before any file
           is written,
        2. semi-join target × update-keys tagged with input_file_name →
           the touched-file set (only files actually holding matched keys),
        3. rewrite = (touched-file rows ANTI JOIN keys) ∪ updates,
        4. commit = untouched files by reference + rewritten files; the
           rewrite's rows are counted against the CHECK constraints on
           the write itself (a violation removes the staged files and
           raises) and stats come from its parquet footers.

        Scale: step 2 shuffles only the key columns; step 3 reads only
        touched files. An upsert hitting 0.1% of files costs 0.1% of a
        rewrite — the Delta MERGE cost model.
        """
        if not self.exists():
            for audit in audits:
                audit(updates)
            return self.write_full(updates, meta)
        m = self._manifest()
        keys = list(keys)
        updates = self._align_types(updates, m["schema"]).localCheckpoint(
            eager=True
        )
        for audit in audits:
            audit(updates)
        tagged = self._tagged_read(spark, m)
        upd_keys = updates.select(*keys).distinct()
        touched = self._touched_files(
            tagged.join(upd_keys, keys, "left_semi")
        )
        if touched:
            # DV-aware: a touched file's dead rows must not resurrect
            # into the rewrite
            touched_rows = self._read_files(
                spark,
                touched,
                StructType.fromJson(m["schema"]),
                dvs=m.get("dvs"),
                dv_counts=m.get("dv_counts"),
            ).select(*updates.columns)
            survivors = touched_rows.join(upd_keys, keys, "left_anti")
            new_data = survivors.unionByName(updates)
        else:
            new_data = updates
        hint = self.latest_version() + 1
        files, stats = self._write_commit_files(new_data, hint)
        v = self._commit(
            "merge",
            files,
            stats,
            m["schema"],
            {
                **(meta or {}),
                "touched_files": len(touched),
                "total_files": len(m["files"]),
                "merge_keys": keys,
            },
            cow={"read": m, "touched": touched, "remove_touched": True},
        )
        return self._maybe_auto_compact(spark, self._maybe_cdf(spark, v))

    def delete_where(
        self,
        spark: SparkSession,
        predicate: Column | str,
        meta: dict | None = None,
        mode: str = "copy_on_write",
    ) -> int:
        """DELETE FROM ... WHERE: rows where the predicate is NULL are
        kept (SQL DELETE semantics).

        ``mode="copy_on_write"`` (default) rewrites only files
        containing matching rows. ``mode="merge_on_read"`` writes a
        DELETION VECTOR instead — a churn-sized (file, row-position)
        sidecar; data files are untouched and readers anti-join the
        dead positions (Delta/Iceberg DV semantics). At 100 TB this is
        the write-amplification fix: deleting 1k rows scattered over 1k
        full-size files costs one tiny parquet write, not a 1k-file
        rewrite. ``optimize(purge_dvs=True)`` compacts DVs away."""
        if mode not in ("copy_on_write", "merge_on_read"):
            raise ValueError(
                f"delete_where: unknown mode {mode!r} (expected "
                "'copy_on_write' or 'merge_on_read')"
            )
        if isinstance(predicate, str):
            predicate = F.expr(predicate)
        if mode == "merge_on_read":
            return self._delete_mor(spark, predicate, meta)
        m = self._manifest()
        tagged = self._tagged_read(spark, m)
        touched = self._touched_files(tagged.filter(predicate))
        if not touched:
            return self.latest_version()  # no-op delete: no new version
        schema = StructType.fromJson(m["schema"])
        survivors = self._read_files(
            spark, touched, schema, dvs=m.get("dvs"), dv_counts=m.get("dv_counts")
        ).filter(~F.coalesce(predicate, F.lit(False)))
        hint = self.latest_version() + 1
        files, stats = self._write_commit_files(survivors, hint)
        v = self._commit(
            "delete",
            files,
            stats,
            m["schema"],
            {**(meta or {}), "touched_files": len(touched)},
            cow={"read": m, "touched": touched, "remove_touched": True},
        )
        return self._maybe_auto_compact(spark, self._maybe_cdf(spark, v))

    def _delete_mor(
        self, spark: SparkSession, predicate: Column, meta: dict | None
    ) -> int:
        """Merge-on-read DELETE: record matching rows' (file, position)
        pairs in a deletion-vector sidecar; zero data files touched.

        Matching reads the table with existing DVs applied (a dead row
        can never re-match), keeping ``_metadata.row_index`` positions.
        Each affected data file maps to exactly ONE dv dir — a second
        delete on an already-DV'd file folds the old positions into the
        new commit's sidecar, so readers never chase DV chains. The
        sidecar is coalesced to one file per commit, mirroring Delta's
        one-compact-bitmap-per-file design; a delete large enough to
        make that file big is exactly the delete that should use
        copy-on-write instead (Delta's own guidance).

        Min/max file stats are NOT rewritten: with rows removed the true
        range can only shrink, so stats-based pruning (``scan``) stays
        conservative-correct."""
        m = self._manifest()
        schema = StructType.fromJson(m["schema"])
        dvs = m.get("dvs", {})
        dv_counts = m.get("dv_counts", {})
        tagged = self._read_files(
            spark, m["files"], schema, dvs=dvs, dv_counts=dv_counts, keep_meta=True
        )
        new_dead = (
            tagged.filter(F.coalesce(predicate, F.lit(False)))
            .select(
                self._uri_to_rel(F.col("__fp")).alias("file"),
                F.col("__pos").alias("pos"),
            )
            .localCheckpoint(eager=True)  # pin: positions must not be
            # re-derived after the commit lands (self-referential read)
        )
        folded = self._fold_dvs(spark, new_dead, m)
        if folded is None:
            return self.latest_version()  # no-op delete: no new version
        dv_delta, cnt_delta, n_dead, n_affected = folded
        v = self._commit(
            "delete",
            [],
            {},
            m["schema"],
            {
                **(meta or {}),
                "mode": "merge_on_read",
                "dv_files": n_affected,
                "dv_rows_total": n_dead,
            },
            cow={
                "read": m,
                "touched": sorted(dv_delta),
                "remove_touched": False,
                "dv_updates": (dv_delta, cnt_delta),
            },
        )
        return self._maybe_cdf(spark, v)

    def _fold_dvs(
        self, spark: SparkSession, new_dead: DataFrame, m: dict
    ) -> tuple[dict, dict, int, int] | None:
        """Write one commit's deletion-vector sidecar: ``new_dead`` is a
        pinned ``(file, pos)`` frame of newly-dead positions; prior
        positions of re-touched files fold forward so each file keeps a
        single dv dir (readers never chase chains). Returns the DELTA
        ``(dvs, dv_counts)`` pair — entries for the affected files only,
        composed onto the live head by ``_commit(cow=...)`` — plus
        totals, or None when nothing matched (caller no-ops)."""
        dvs = m.get("dvs", {})
        # churn-bounded driver list, same contract as _touched_files
        affected = sorted(
            r["file"] for r in new_dead.select("file").distinct().collect()
        )
        if not affected:
            return None
        # carry each affected file's prior positions from the dir the
        # MANIFEST maps for it — a (file, dir) pair, not a name filter:
        # a superseded dir (an earlier fold re-dir'd a subset) still
        # holds stale copies of a re-dir'd file's positions, and a
        # name-only filter would fold them in twice (dv_counts would
        # overcount and the duplicate rows would surface as phantom
        # deletes in the change feed's exceptAll)
        carry: dict[str, list[str]] = {}
        for f in affected:
            if f in dvs:
                carry.setdefault(dvs[f], []).append(f)
        all_dead = new_dead
        for d, fs in sorted(carry.items()):
            all_dead = all_dead.unionByName(
                spark.read.parquet(os.path.join(self.path, d))
                .filter(F.col("file").isin(sorted(fs)))
                .select("file", "pos")
            )
        hint = self.latest_version() + 1
        dv_rel = os.path.join(
            _DATA_DIR, f"c{hint:08d}-{uuid.uuid4().hex[:8]}-dv"
        )
        all_dead.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(self.path, dv_rel)
        )
        # per-file dead totals (bounded by the affected-file count)
        per_file = {
            r["file"]: r["n"]
            for r in all_dead.groupBy("file").agg(F.count("*").alias("n")).collect()
        }
        n_dead = sum(per_file.values())
        return (
            {f: dv_rel for f in affected},
            per_file,
            n_dead,
            len(affected),
        )

    def update_where(
        self,
        spark: SparkSession,
        predicate: Column | str,
        set_exprs: dict[str, Column | str],
        meta: dict | None = None,
        mode: str = "copy_on_write",
    ) -> int:
        """UPDATE ... SET col = expr WHERE: rows where the predicate is
        NULL are untouched (SQL UPDATE semantics). ``set_exprs`` values
        evaluate against the row's OLD values (standard UPDATE: ``SET a
        = b, b = a`` swaps) and are cast to the column's existing type —
        an UPDATE never changes the schema; new columns are ``append(
        evolve=True)``'s job, and an unknown column raises.

        ``mode="copy_on_write"`` rewrites only files containing matched
        rows (Delta UPDATE's cost model: ∝ touched files). ``mode=
        "merge_on_read"`` is Delta's DV-based update: matched rows'
        positions become a deletion-vector sidecar and the rewritten
        rows APPEND as churn-sized new files in the same atomic commit —
        at 100 TB, updating 1k rows scattered across 1k full-size files
        costs one sidecar plus one small data file, not a 1k-file
        rewrite. Either mode commits op='update'; the change feed tags
        its rows ``update_preimage``/``update_postimage`` (Delta CDF's
        UPDATE vocabulary) without needing a key column, because an
        update commit contains nothing but update pairs."""
        if mode not in ("copy_on_write", "merge_on_read"):
            raise ValueError(
                f"update_where: unknown mode {mode!r} (expected "
                "'copy_on_write' or 'merge_on_read')"
            )
        if isinstance(predicate, str):
            predicate = F.expr(predicate)
        m = self._manifest()
        schema = StructType.fromJson(m["schema"])
        types = {f.name: f.dataType for f in schema.fields}
        unknown = [c for c in set_exprs if c not in types]
        if unknown:
            raise ValueError(
                f"update_where: SET targets not in schema: {unknown} "
                f"(schema columns: {sorted(types)})"
            )
        sets = {
            c: (F.expr(e) if isinstance(e, str) else e).cast(types[c])
            for c, e in set_exprs.items()
        }
        pred = F.coalesce(predicate, F.lit(False))
        if mode == "merge_on_read":
            return self._update_mor(spark, pred, sets, m, schema, meta)
        tagged = self._tagged_read(spark, m)
        touched = self._touched_files(tagged.filter(pred))
        if not touched:
            return self.latest_version()  # no-op update: no new version
        rewritten = self._read_files(
            spark, touched, schema, dvs=m.get("dvs"), dv_counts=m.get("dv_counts")
        ).select(
            *[
                F.when(pred, sets[f.name]).otherwise(F.col(f.name)).alias(f.name)
                if f.name in sets
                else F.col(f.name)
                for f in schema.fields
            ]
        )
        hint = self.latest_version() + 1
        files, stats = self._write_commit_files(rewritten, hint)
        v = self._commit(
            "update",
            files,
            stats,
            m["schema"],
            {**(meta or {}), "touched_files": len(touched)},
            cow={"read": m, "touched": touched, "remove_touched": True},
        )
        return self._maybe_auto_compact(spark, self._maybe_cdf(spark, v))

    def _update_mor(
        self,
        spark: SparkSession,
        pred: Column,
        sets: dict[str, Column],
        m: dict,
        schema: StructType,
        meta: dict | None,
    ) -> int:
        """Merge-on-read UPDATE: one atomic commit that (a) marks the
        matched rows' positions dead in a deletion-vector sidecar and
        (b) appends their rewritten postimages as new data files. The
        matched set is pinned (``localCheckpoint``) before either write
        so positions and postimages come from the same snapshot and are
        never re-derived against the table's own new commit."""
        matched = (
            self._read_files(
                spark,
                m["files"],
                schema,
                dvs=m.get("dvs"),
                dv_counts=m.get("dv_counts"),
                keep_meta=True,
            )
            .filter(pred)
            .localCheckpoint(eager=True)
        )
        new_dead = matched.select(
            self._uri_to_rel(F.col("__fp")).alias("file"),
            F.col("__pos").alias("pos"),
        )
        folded = self._fold_dvs(spark, new_dead, m)
        if folded is None:
            return self.latest_version()  # no-op update: no new version
        dv_delta, cnt_delta, n_dead, n_affected = folded
        post = matched.select(
            *[
                sets[f.name].alias(f.name) if f.name in sets else F.col(f.name)
                for f in schema.fields
            ]
        )
        hint = self.latest_version() + 1
        try:
            files, stats = self._write_commit_files(post, hint)
        except BaseException:
            # a rejected rewrite (e.g. a CHECK violation) must not
            # orphan the deletion-vector sidecar written above
            dv_dir = next(iter(dv_delta.values()))
            shutil.rmtree(os.path.join(self.path, dv_dir), ignore_errors=True)
            raise
        v = self._commit(
            "update",
            files,
            stats,
            m["schema"],
            {
                **(meta or {}),
                "mode": "merge_on_read",
                "dv_files": n_affected,
                "dv_rows_total": n_dead,
                "updated_rows": n_dead,
            },
            cow={
                "read": m,
                "touched": sorted(dv_delta),
                "remove_touched": False,
                "dv_updates": (dv_delta, cnt_delta),
            },
        )
        return self._maybe_cdf(spark, v)

    def merge_apply(
        self,
        spark: SparkSession,
        changes: DataFrame,
        keys: Sequence[str],
        op_col: str = "op",
        meta: dict | None = None,
    ) -> int | None:
        """Full MERGE from a change feed (op='upsert'|'delete') — the
        same contract as ``plans.merge.merge_apply``, executed
        copy-on-write: ``changes`` is pinned once (eager
        ``localCheckpoint``), then one touched-file discovery over ALL
        change keys, one rewrite dropping matched rows, upserts unioned
        back in; the rewrite is constraint-checked on the write and
        takes footer stats (see ``merge_upsert``). Callers need not pin
        ``changes`` themselves.

        Returns the new version, or None when the table does not exist
        yet AND the batch carries no upserts (a delete-only feed against
        a missing table — e.g. replication started past the initial
        load — must not publish an empty version-0 overwrite)."""
        if op_col not in changes.columns:
            raise ValueError(
                f"merge_apply: change feed has no '{op_col}' column "
                f"(columns: {changes.columns})"
            )
        keys = list(keys)
        changes = changes.localCheckpoint(eager=True)
        upserts = changes.filter(F.col(op_col) == "upsert").drop(op_col)
        if not self.exists():
            if upserts.isEmpty():
                return None
            return self.write_full(upserts, meta)
        m = self._manifest()
        tagged = self._tagged_read(spark, m)
        all_keys = changes.select(*keys).distinct()
        touched = self._touched_files(tagged.join(all_keys, keys, "left_semi"))
        if touched:
            touched_rows = self._read_files(
                spark,
                touched,
                StructType.fromJson(m["schema"]),
                dvs=m.get("dvs"),
                dv_counts=m.get("dv_counts"),
            ).select(*upserts.columns)
            survivors = touched_rows.join(all_keys, keys, "left_anti")
            new_data = survivors.unionByName(upserts)
        else:
            new_data = upserts
        hint = self.latest_version() + 1
        files, stats = self._write_commit_files(new_data, hint)
        v = self._commit(
            "merge",
            files,
            stats,
            m["schema"],
            {**(meta or {}), "touched_files": len(touched), "merge_keys": keys},
            cow={"read": m, "touched": touched, "remove_touched": True},
        )
        return self._maybe_auto_compact(spark, self._maybe_cdf(spark, v))

    # -- maintenance --------------------------------------------------------

    def optimize(
        self,
        spark: SparkSession,
        target_rows_per_file: int,
        sort_within: Sequence = (),
        meta: dict | None = None,
        rewrite_all: bool = False,
        purge_dvs: bool = False,
        where: tuple | None = None,
    ) -> int:
        """Incremental OPTIMIZE: bin-pack only files below the target
        into fewer right-sized files; full-sized files carry over by
        reference. Content-identical by construction (pure rewrite), so
        the new version's logical table equals the old one — readers of
        old snapshots are untouched. ``sort_within`` restores cluster
        locality inside the rewritten files — column names OR Column
        expressions (pass ``sources.writers.zorder_value(...)`` for a
        Delta OPTIMIZE ZORDER BY: range-partitioning on the interleaved
        key gives every rewritten file a narrow range in EVERY z-order
        dimension, which is what manifest min/max skipping then prunes
        on).

        ``where=(col, lo, hi)`` scopes the pass (Delta's ``OPTIMIZE ...
        WHERE``, stats-plane form): only candidate files whose manifest
        [min, max] for ``col`` could intersect [lo, hi] are rewritten —
        compacting one hot day of a 100 TB fact never touches the cold
        files. Conservative by construction: a file with no stat for
        the column stays IN scope (it might intersect, and rewriting it
        is content-preserving either way); an all-null file is provably
        outside any range. ``None`` bounds are open-ended.

        ``rewrite_all=True`` rewrites EVERY file, not just undersized
        ones — Delta's OPTIMIZE ZORDER semantics, where re-clustering is
        the point and a full-sized-but-badly-clustered file must not be
        carried by reference; ``target_rows_per_file`` then only sizes
        the output.

        ``purge_dvs=True`` additionally rewrites every file carrying a
        deletion vector regardless of size — Delta's ``REORG TABLE ...
        APPLY (PURGE)``: dead rows are physically dropped and the DV
        entries shed, returning the table to join-free scans."""
        m = self._manifest()
        dvd = set(m.get("dvs", {})) if purge_dvs else set()
        small = [
            f
            for f in m["files"]
            if rewrite_all
            or f in dvd
            or m["stats"].get(f, {}).get("rows", 0) < target_rows_per_file
        ]
        if where is not None:
            w_col, w_lo, w_hi = where
            phys = m.get("column_mapping", {}).get(w_col, w_col)
            lo_j, hi_j = _stat_json(w_lo), _stat_json(w_hi)

            def _in_scope(f: str) -> bool:
                st = m["stats"].get(f, {}).get(phys)
                if st is None:
                    return True  # unknown: may intersect — keep in scope
                mn, mx = st
                if mn is None or mx is None:
                    return False  # all-null file: outside any range
                if lo_j is not None and _bound_lt(mx, lo_j):
                    return False
                if hi_j is not None and _bound_lt(hi_j, mn):
                    return False
                return True

            small = [f for f in small if _in_scope(f)]
        if len(small) <= 1 and not any(f in dvd for f in small):
            return self.latest_version()  # nothing to pack
        rows = sum(m["stats"].get(f, {}).get("rows", 0) for f in small)
        n_out = max(1, math.ceil(rows / target_rows_per_file))
        schema = StructType.fromJson(m["schema"])
        # DV-aware: rewriting a DV'd file drops its dead rows for good
        # (the rewritten file sheds its DV entry at commit), so OPTIMIZE
        # doubles as DV compaction — Delta's REORG ... APPLY (PURGE)
        df = self._read_files(
            spark, small, schema, dvs=m.get("dvs"), dv_counts=m.get("dv_counts")
        )
        if sort_within:
            df = df.repartitionByRange(n_out, *sort_within).sortWithinPartitions(
                *sort_within
            )
        else:
            df = df.repartition(n_out)
        hint = self.latest_version() + 1
        files, stats = self._write_commit_files(df, hint)
        # no _maybe_cdf: a layout-only commit's change feed is empty by
        # construction (materialize_changes would no-op anyway)
        scope = (
            {"where": [where[0], str(where[1]), str(where[2])]}
            if where is not None
            else {}
        )
        return self._commit(
            "optimize",
            files,
            stats,
            m["schema"],
            {
                **(meta or {}),
                **scope,
                "packed_files": len(small),
                "packed_into": len(files),
            },
            cow={"read": m, "touched": small, "remove_touched": True},
        )

    def vacuum(
        self,
        retain_last: int = 1,
        dry_run: bool = False,
        retain_hours: float | None = None,
        now: float | None = None,
        min_file_age_s: float = 3600.0,
        retain_recent_s: float | None = None,
    ) -> dict:
        """Reclaim data files referenced ONLY by dropped versions;
        expired manifests are dropped too (time travel below the
        horizon raises ``VacuumedVersionError``). Never touches files
        any retained version references, so readers of retained
        snapshots are safe.

        CONCURRENCY CONTRACT (safe under concurrent writers): commits
        stage data files under ``data/`` BEFORE claiming a version
        (``_write_commit_files`` → ``_commit``), so a file referenced
        by NO manifest may be another writer's in-flight commit. Two
        reclaim classes therefore apply:

        * files referenced by a DROPPED manifest were provably claimed
          (never in-flight) — reclaimed at any age;
        * ORPHANS (referenced by no manifest, live or dropped) are
          reclaimed only when older than ``min_file_age_s`` (mtime
          floor, Delta's semantics; default 1 h vastly exceeds any
          stage→claim window). Younger orphans are reported as
          ``skipped_inflight_files`` and left for a later vacuum.

        In-flight READERS get a time horizon (Delta's retention
        duration): versions committed within ``retain_recent_s`` of
        ``now`` are ALWAYS retained — a snapshot read or CoW rewrite
        that began within that window never loses its files to a
        concurrent vacuum. ``None`` (default) inherits
        ``min_file_age_s``, so a default vacuum is safe against any
        concurrent operation shorter than an hour; pass ``0.0`` only
        when no concurrent readers can exist (single-writer
        maintenance) — the moral equivalent of disabling Delta's
        ``retentionDurationCheck``. ``retain_last`` alone is a COUNT
        horizon and provides no such time guarantee.

        A concurrent RESTORE is serialized through the log itself:
        before unlinking anything, vacuum lands a metadata-only
        ``"vacuum"`` marker commit (Delta's VACUUM START log entry)
        that raises the table's ``vacuum_horizon`` — the lowest
        restorable version, inherited by every later manifest. A
        restore that committed before the marker is folded into the
        live set (its file references survive); one that races the
        marker loses the ``expected_head`` CAS and, on re-run, hits
        ``restore()``'s horizon guard with ``VacuumedVersionError``.
        Either way no head can ever reference a reclaimed file. The
        marker only lands when dropped versions actually release data
        files, so no-op vacuums (and maintenance loops whose drops are
        manifest-only) never grow the log.

        Crash ordering: the retained-horizon checkpoint is written and
        the expired manifests/checkpoints are unlinked BEFORE any data
        file is deleted, so a crash mid-vacuum leaves only orphaned
        data (reclaimed by a re-run via the age-floored orphan path) —
        never a below-horizon manifest referencing deleted files.

        Retention is the UNION of two horizons: the last
        ``retain_last`` versions by count, and — when ``retain_hours``
        is given (Delta's ``VACUUM ... RETAIN n HOURS``) — every
        version committed within that window of ``now`` (wall clock by
        default; injectable for tests). The commit timestamp is read
        from the RAW manifest (``ts`` rides both the full and
        action-delta forms), so the age scan never pays a delta
        replay. The head is always retained.

        ``dry_run=True`` (Delta's ``VACUUM ... DRY RUN``) reports the
        exact reclaim set — file paths, versions, change-feed dirs —
        without touching anything, so an operator can audit the blast
        radius before an irreversible delete."""
        if retain_last < 1:
            raise ValueError("vacuum must retain at least the head version")
        if retain_hours is not None and retain_hours < 0:
            raise ValueError("retain_hours must be non-negative")
        if min_file_age_s < 0:
            raise ValueError("min_file_age_s must be non-negative")
        if retain_recent_s is None:
            retain_recent_s = min_file_age_s
        if retain_recent_s < 0:
            raise ValueError("retain_recent_s must be non-negative")
        now0 = now if now is not None else time.time()
        marker_attempts = 0
        race_attempts = 0
        marker_v: int | None = None
        while True:
            vs = self.versions()
            keep_from = max(len(vs) - retain_last, 0)
            if retain_hours is not None:
                cutoff = now0 - retain_hours * 3600.0
                # commit ts is monotone along the single-writer log, so
                # the first young-enough version starts the time-kept
                # suffix
                age_idx = next(
                    (
                        i
                        for i, v in enumerate(vs)
                        if self._raw_manifest(v).get("ts", 0.0) >= cutoff
                    ),
                    len(vs),
                )
                keep_from = min(keep_from, age_idx)
            if retain_recent_s > 0:
                # in-flight-reader horizon: a version younger than the
                # floor may still have a snapshot read in progress —
                # dropping it could unlink files mid-scan (count-based
                # retention alone gives readers no time guarantee)
                recent_cutoff = now0 - retain_recent_s
                young_idx = next(
                    (
                        i
                        for i, v in enumerate(vs)
                        if self._raw_manifest(v).get("ts", 0.0)
                        >= recent_cutoff
                    ),
                    len(vs),
                )
                keep_from = min(keep_from, young_idx)
            keep_vs = vs[keep_from:]
            drop_vs = vs[:keep_from]
            live: set[str] = set()
            live_dv_dirs: set[str] = set()
            dead: set[str] = set()
            dead_dv_dirs: set[str] = set()
            kept_ledger = False
            dropped_ledger = None
            try:
                for v in keep_vs:
                    mv = self._manifest(v)
                    live |= set(mv["files"])
                    # deletion-vector sidecars of retained snapshots are
                    # part of those snapshots' read paths — as immortal
                    # as their data
                    live_dv_dirs |= set(mv.get("dvs", {}).values())
                    if "copy_into_loaded" in mv["meta"]:
                        kept_ledger = True
                # Files referenced by a DROPPED manifest were claimed by
                # a completed commit — never another writer's in-flight
                # stage — so they are reclaimable at any age. Resolve
                # them BEFORE the manifests are unlinked below.
                for v in drop_vs:
                    mv = self._manifest(v)
                    dead |= set(mv["files"])
                    dead_dv_dirs |= set(mv.get("dvs", {}).values())
                    # UNION of dropped COPY INTO ledgers (they only
                    # grow, so the union is the newest under
                    # single-writer operation and a correct superset
                    # under races; plans/ingest.py reads by union too)
                    if "copy_into_loaded" in mv["meta"]:
                        dropped_ledger = sorted(
                            set(dropped_ledger or ())
                            | set(mv["meta"]["copy_into_loaded"])
                        )
            except (VacuumedVersionError, FileNotFoundError):
                # a RACING VACUUM unlinked a manifest between our
                # version listing and its resolution — re-list and
                # re-resolve instead of dying (two maintenance loops on
                # one table are legal; the data-file walk already
                # tolerates the same race)
                race_attempts += 1
                if race_attempts >= 10:
                    raise
                continue
            dead -= live
            dead_dv_dirs -= live_dv_dirs
            # a drop that would discard the LAST COPY INTO ledger forces
            # the marker even when no data is released: losing the
            # ledger would make the next COPY INTO re-ingest every
            # already-loaded file (silent duplication). The rescue
            # terminates — the marker itself carries the ledger, so
            # while it is retained no further rescue fires.
            ledger_rescue = (
                bool(drop_vs)
                and not dry_run
                and not kept_ledger
                and dropped_ledger is not None
            )
            if not drop_vs or dry_run or (
                not (dead or dead_dv_dirs) and not ledger_rescue
            ):
                # no data to reclaim → no marker: dropping manifests
                # whose files are all still live cannot strand a racing
                # restore (it would reference live files), and a marker
                # here would make a vacuum(retain_last=1) maintenance
                # loop self-feeding — each pass dropping the previous
                # pass's marker and landing a new one, forever.
                break
            # HORIZON MARKER (closes the vacuum × RESTORE race): before
            # anything is unlinked, a metadata-only "vacuum" commit
            # raises the table's vacuum_horizon to the oldest retained
            # version — Delta's VACUUM START log entry. The marker is an
            # empty rebase-append, so it always lands; once it is in the
            # log, every later commit inherits the horizon and restore()
            # refuses to resurrect a below-horizon snapshot, while a
            # restore that claimed BEFORE the marker is folded into the
            # live set by the interleaved-commit walk below. Without
            # this ordering point, a concurrent restore could commit a
            # head referencing exactly the files this vacuum is about
            # to reclaim (dropped-manifest files are reclaimed at any
            # age — the mtime floor only protects young orphans).
            try:
                hm_head = self._manifest(vs[-1])
            except (VacuumedVersionError, FileNotFoundError):
                race_attempts += 1  # racing vacuum advanced past us
                if race_attempts >= 10:
                    raise
                continue
            marker_meta = {
                "vacuum_horizon": keep_vs[0],
                "dropped_versions": len(drop_vs),
            }
            if not kept_ledger and dropped_ledger is not None:
                # carry the COPY INTO ledger forward so ingestion
                # dedup history survives its carrying commit's drop
                marker_meta["copy_into_loaded"] = dropped_ledger
            try:
                marker_v = self._commit(
                    "vacuum",
                    [],
                    {},
                    hm_head["schema"],
                    marker_meta,
                    retry_append_files=[],
                    read_m=hm_head,
                    vacuum_horizon=keep_vs[0],
                )
            except ConcurrentWriteError:
                # a concurrent schema / column-mapping change aborted
                # the rebase — re-resolve everything from the new head
                marker_attempts += 1
                if marker_attempts >= 10:
                    raise
                continue
            # commits that interleaved between the version listing and
            # the marker (appends, CoW rewrites, restores) are retained
            # by construction — fold their files into the live set
            try:
                for v2 in range(vs[-1] + 1, marker_v + 1):
                    m2 = self._manifest(v2)
                    live |= set(m2["files"])
                    live_dv_dirs |= set(m2.get("dvs", {}).values())
            except (VacuumedVersionError, FileNotFoundError):
                # a racing vacuum already dropped an interleaved version
                # — without its manifest we cannot prove anything dead,
                # so reclaim nothing manifest-derived this pass (the
                # racing pass, which DID resolve it, reclaims; leftovers
                # age into orphans)
                dead = set()
                dead_dv_dirs = set()
            dead -= live
            dead_dv_dirs -= live_dv_dirs
            keep_vs = keep_vs + list(range(vs[-1] + 1, marker_v + 1))
            break
        claimed_dirs = {os.path.dirname(r) for r in dead | live}
        # bloom sidecars are snapshot metadata: while ANY file of a
        # commit dir is live, the dir's _bloom-*.json must survive (it
        # indexes those files); once the last file dies the sidecar
        # falls to the ordinary marker rules below
        live_file_dirs = {os.path.dirname(r) for r in live}
        if drop_vs and not dry_run:
            # the oldest retained version may be a delta manifest whose
            # "base" chain crosses the horizon — checkpoint its RESOLVED
            # snapshot BEFORE unlinking any ancestry, so a fresh instance
            # (no warm cache) can still resolve every retained version.
            # Idempotent: manifests are immutable, so the bytes are
            # deterministic and a crash between this write and the
            # unlinks below just leaves a valid extra checkpoint.
            try:
                self._write_checkpoint(self._manifest(keep_vs[0]))
            except (VacuumedVersionError, FileNotFoundError):
                # a racing vacuum with a TIGHTER horizon already dropped
                # keep_vs[0] — its own pass checkpointed ITS oldest
                # retained version (above ours), so every still-live
                # manifest resolves without our help
                pass
        removed_cdf = 0
        for v in drop_vs:
            cdf = self._cdf_version_dir(v)
            if os.path.isdir(cdf):
                removed_cdf += 1
                if not dry_run:
                    shutil.rmtree(cdf, ignore_errors=True)
            if not dry_run:
                try:
                    os.unlink(self._log_path(v))
                except FileNotFoundError:
                    pass  # already dropped by a racing vacuum
                # drop the dropped version's checkpoint sidecar and evict
                # it from the manifest cache: either could otherwise
                # resolve a vacuumed version whose data files are gone
                cp = self._ckpt_path(v)
                try:
                    os.unlink(cp)
                except FileNotFoundError:
                    pass
                self._mcache.pop(v, None)
        # Data files are deleted LAST (after the expired manifests are
        # gone): a crash anywhere above leaves a log whose every
        # surviving manifest still resolves to files on disk.
        removed_files = 0
        skipped_inflight = 0
        doomed: list[str] = []
        data_root = os.path.join(self.path, _DATA_DIR)

        def _under_claimed(rel_dir: str) -> bool:
            d = rel_dir
            while d and d != _DATA_DIR:
                if d in claimed_dirs or d in dead_dv_dirs:
                    return True
                d = os.path.dirname(d)
            return False

        for dirpath, _dirnames, filenames in os.walk(data_root, topdown=False):
            rel_dir = os.path.relpath(dirpath, self.path)
            # dir-removal eligibility is decided BEFORE unlinking (the
            # unlinks below bump the dir mtime): a young UNCLAIMED dir
            # is never rmdir'd — it may be a concurrent writer's
            # just-created commit dir (or Spark's _temporary scaffolding)
            # that hasn't received its files yet
            claimed_dir = _under_claimed(rel_dir)
            try:
                dir_is_old = (
                    now0 - os.path.getmtime(dirpath) >= min_file_age_s
                )
            except OSError:
                continue  # raced with another vacuum; revisit next run
            for n in filenames:
                p = os.path.join(dirpath, n)
                rel = os.path.relpath(p, self.path)
                d = os.path.dirname(rel)
                if rel in live or d in live_dv_dirs:
                    continue
                if n.startswith("_bloom-") and d in live_file_dirs:
                    continue  # sidecar still indexes live files
                if not (n.endswith(".parquet") or n.startswith(("_", "."))):
                    continue
                # claimed-by-a-dropped-commit → reclaim at any age;
                # orphan (possibly a concurrent writer's staged-but-
                # unclaimed commit) → only past the mtime floor
                if not (rel in dead or d in dead_dv_dirs or d in claimed_dirs):
                    try:
                        age = now0 - os.path.getmtime(p)
                    except OSError:
                        continue  # raced with its writer/another vacuum
                    if age < min_file_age_s:
                        if n.endswith(".parquet"):
                            skipped_inflight += 1
                        continue
                if n.endswith(".parquet"):
                    removed_files += 1
                    doomed.append(rel)
                if not dry_run:
                    try:
                        os.unlink(p)
                    except OSError:
                        pass  # already reclaimed by a racing vacuum
            if (
                not dry_run
                and dirpath != data_root
                and (claimed_dir or dir_is_old)
            ):
                try:
                    if not os.listdir(dirpath):
                        os.rmdir(dirpath)
                except OSError:
                    pass  # raced with a writer landing files — keep it
        return {
            "dry_run": dry_run,
            "removed_data_files": removed_files,
            "removed_files": sorted(doomed),
            "removed_versions": len(drop_vs),
            "removed_change_feeds": removed_cdf,
            "skipped_inflight_files": skipped_inflight,
            "retained_versions": keep_vs,
            # the horizon-marker commit's version (None when nothing was
            # dropped / dry run): the op appears in history() like
            # Delta's VACUUM START entry
            "horizon_commit": marker_v,
        }


# -- CDF-driven replication --------------------------------------------------


def _last_replicated_version(table: VersionedTable) -> int | None:
    """Highest source ``_commit_version`` already folded into ``table``
    by ``apply_changes`` — the replication watermark, recovered from
    commit meta walking history newest-first (bounded by history
    length; a pure replica finds it in the head manifest).

    Reads RAW manifests only: ``meta`` rides both the full and the
    action-delta form (see ``_raw_manifest``), so the walk never pays a
    K-step delta replay — on a non-pure replica with a long history
    that replay made the watermark O(history × K) per micro-batch (r9
    perf-weak finding). The result is cached keyed by the head version
    observed during the walk; ``apply_changes`` refreshes the cache on
    every commit it lands, so steady-state replication reads ZERO
    manifests here."""
    head = table.latest_version()
    if head is None:
        return None
    cached = getattr(table, "_repl_wm_cache", None)
    if cached is not None and cached[0] == head:
        return cached[1]
    wm: int | None = None
    for v in reversed(table.versions()):
        raw_wm = table._raw_manifest(v)["meta"].get("replicated_source_version")
        if raw_wm is not None:
            wm = int(raw_wm)
            break
    table._repl_wm_cache = (head, wm)
    return wm


def apply_changes(
    spark: SparkSession,
    table: VersionedTable,
    changes: DataFrame,
    keys: Sequence[str],
) -> int | None:
    """Apply a batch of change-feed rows (``_change_type`` +
    ``_commit_version`` + data columns) to ``table`` as ONE atomic
    commit.

    The batch may span several source commits: per key the net effect
    is computed first — latest ``_commit_version`` wins, and within a
    commit the insert/update postimage beats its delete/update
    preimage — then the netted feed drives ``merge_apply``'s single
    copy-on-write pass. Netting shuffles only the batch (∝ churn),
    never the table.

    A replication WATERMARK makes the fold idempotent and
    duplicate-proof: each apply records the highest source version it
    folded (``replicated_source_version`` in the commit meta) and
    silently drops rows at or below the recorded watermark, so a
    replayed or duplicated batch can never re-apply (or mis-apply) a
    commit the replica already holds. Returns the new version, or None
    for an effectively-empty batch.
    """
    from pyspark.sql import Window

    keys = list(keys)
    wm = _last_replicated_version(table)
    if wm is not None:
        changes = changes.filter(F.col("_commit_version") > F.lit(wm))
    post = F.col("_change_type").isin("insert", "update_postimage")
    w = Window.partitionBy(*keys).orderBy(
        F.desc("_commit_version"),
        F.when(post, 1).otherwise(0).desc(),
    )
    net = (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .withColumn(
            "__op",
            F.when(post, F.lit("upsert")).otherwise(F.lit("delete")),
        )
        .drop("__rn", "_change_type")
    )
    # the netted batch is small (∝ churn) and merge_apply consumes it
    # several times (key discovery, upsert filter, survivor union) —
    # materialize once instead of re-running the window shuffle per use
    net = net.persist()
    try:
        hi = net.agg(F.max("_commit_version")).first()[0]
        if hi is None:
            return None
        v = table.merge_apply(
            spark,
            net.drop("_commit_version"),
            keys,
            op_col="__op",
            meta={"replicated_source_version": int(hi)},
        )
        # the commit just landed IS the newest watermark carrier — keep
        # _last_replicated_version O(0) manifests for the next batch
        table._repl_wm_cache = (v, int(hi))
        return v
    finally:
        net.unpersist()


def replicate(
    spark: SparkSession,
    source: VersionedTable,
    dest: VersionedTable,
    keys: Sequence[str],
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    success_poll_sec: float = 10.0,
):
    """Continuous table replication over the change feed: stream the
    source's materialized CDF (``stream_changes``) and fold WHOLE
    SOURCE COMMITS into ``dest`` via ``apply_changes`` — one atomic
    dest commit per non-empty micro-batch, so a reader of the replica
    always sees a consistent (if slightly older) snapshot. The
    checkpoint gives exactly-once feed consumption across restarts;
    re-running with the same checkpoint resumes from the last applied
    commit.

    Commit-boundary correctness: a file stream's micro-batch boundaries
    need not respect ``_commit_version`` partitions, and applying a
    commit's rows in two halves can net an update pair into a bare
    delete (permanently dropping a live row on the replica). The fold
    therefore uses the batch only as a TRIGGER carrying the
    highest-delivered version: it re-reads the complete, materialized
    feed directories for every source version in
    ``(replica watermark, max delivered]`` — deterministic version
    order, whole commits, immune to batch splits/reordering — and
    ``apply_changes``' watermark skips anything already folded, so
    overlapping deliveries are harmless. A version whose feed is still
    being written (no ``_SUCCESS`` marker yet) is polled for up to
    ``success_poll_sec``; on timeout the micro-batch FAILS so the
    stream checkpoint replays it — restart the query with the same
    ``checkpoint_dir`` to recover (the watermark makes the replay
    idempotent).

    This is the Delta pattern ``readStream.option("readChangeFeed")``
    → ``foreachBatch(MERGE)``, with cost ∝ churn end-to-end: the feed
    write, the stream read, the netting shuffle, and the CoW apply all
    scale with changed rows, never table size — which is what makes a
    100 TB replica affordable to keep in sync.

    Returns the StreamingQuery (caller awaits termination; with
    ``available_now`` the query drains the current feed and stops).
    """
    keys = list(keys)

    def _fold(batch: DataFrame, _epoch: int) -> None:
        hi = batch.agg(F.max("_commit_version")).first()[0]
        if hi is None:
            return
        lo = _last_replicated_version(dest)
        dirs = []
        for v in source.versions():
            if (lo is not None and v <= lo) or v > hi:
                continue
            d = source._cdf_version_dir(v)
            if not os.path.isdir(d):
                continue  # layout/metadata-only commit: no feed exists
            marker = os.path.join(d, "_SUCCESS")
            if not os.path.exists(marker):
                # the feed is mid-write. Deferring with `break` would be
                # WRONG: the files that triggered this batch are already
                # consumed by the stream checkpoint, so if no later
                # commit produces new feed files the version is never
                # re-delivered and the replica lags forever (r8 ADVICE).
                # Poll up to `success_poll_sec` for the writer to
                # finish (one final re-check at the deadline shrinks
                # the failure window), then FAIL the micro-batch so the
                # checkpoint replays it. RECOVERY CONTRACT: a poll
                # timeout kills the streaming query; restart it with
                # the SAME checkpoint_dir once the feed lands — the
                # failed batch replays and the watermark makes any
                # partial fold idempotent.
                deadline = time.monotonic() + success_poll_sec
                while time.monotonic() < deadline:
                    if os.path.exists(marker):
                        break
                    time.sleep(min(0.25, success_poll_sec / 4))
                else:
                    if not os.path.exists(marker):
                        raise RuntimeError(
                            f"replicate: change feed for version {v} of "
                            f"{source.path} has no _SUCCESS marker "
                            f"after {success_poll_sec}s — failing the "
                            "micro-batch; restart the stream with the "
                            "same checkpoint to replay it once the "
                            "feed lands"
                        )
            dirs.append(d)
        if not dirs:
            return
        feed = (
            spark.read.schema(source.changes_schema())
            .option("basePath", os.path.join(source.path, _CDF_DIR))
            .parquet(*dirs)
        )
        apply_changes(spark, dest, feed, keys)

    writer = (
        source.stream_changes(spark, max_files_per_trigger=max_files_per_trigger)
        .writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

"""Which engine calls are traced, and the per-layer metrics they yield.

``patch`` wraps the public functions and methods of each layer (module
names of ``aws_lakehouse_project_spark``) in spans; ``metrics`` turns a
traced run's spans, counters and streaming progress into the per-layer
figures, each the mean per traced operation unless its name says
otherwise. A layer idle on a workload reports 0.
"""

from __future__ import annotations

import importlib
import os
import statistics

from workloads import dir_files

ENGINE = "aws_lakehouse_project_spark"
_VERSIONED_WRITES = (
    "write_full", "append", "write_audit_publish", "merge_upsert",
    "delete_where", "update_where", "merge_apply", "optimize", "add_constraint",
)

# (metric name, unit) in report order; every traced run emits all of them
PER_LAYER = [
    ("session.build_s", "s"),
    ("sources.rows_read", "rows"),
    ("sources.rows_quarantined", "rows"),
    ("sources.quarantine_ratio", "ratio"),
    ("quality.validate_s", "s"),
    ("quality.validate_calls", "count"),
    ("quality.spark_jobs", "count"),
    ("operators.build_s", "s"),
    ("pipeline.ingest_s", "s"),
    ("pipeline.validate_s", "s"),
    ("pipeline.transform_s", "s"),
    ("pipeline.publish_s", "s"),
    ("pipeline.publish_fact_s", "s"),
    ("pipeline.spark_jobs", "count"),
    ("pipeline.run_all_s", "s"),
    ("plans.versioned.commit_s", "s"),
    ("plans.versioned.commits", "count"),
    ("plans.versioned.files_written", "count"),
    ("plans.versioned.bytes_written", "bytes"),
    ("plans.versioned.touched_files_ratio", "ratio"),
    ("plans.versioned.live_files", "count"),
    ("plans.versioned.read_s", "s"),
    ("plans.versioned.optimize_s", "s"),
    ("plans.versioned.commit_conflicts", "count"),
    ("plans.matview.refresh_s", "s"),
    ("plans.matview.rows_folded", "rows"),
    ("plans.lakehouse_sql.sql_s", "s"),
    ("plans.lakehouse_sql.exec_s", "s"),
    ("plans.lakehouse_sql.files_scanned_ratio", "ratio"),
    ("plans.lakehouse_sql.metadata_only_answers", "count"),
    ("catalog.load_s", "s"),
    ("streaming.batches", "count"),
    ("streaming.batch_ms", "ms"),
    ("streaming.add_batch_ms", "ms"),
    ("streaming.planning_ms", "ms"),
    ("streaming.wal_commit_ms", "ms"),
    ("streaming.rows_per_batch", "rows"),
    ("streaming.state_rows", "rows"),
    ("streaming.state_bytes", "bytes"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("trace.traced_ops", "count"),
    ("trace.op_p50_traced_s", "s"),
    ("trace.op_p50_untraced_s", "s"),
    ("trace.overhead_s", "s"),
    ("trace.bookkeeping_s", "s"),
]


def _mod(name: str):
    return importlib.import_module(f"{ENGINE}.{name}")


def patch(tracer) -> None:
    """Wrap every traced entry point. Engine modules are imported first
    so that ``from x import f`` bindings exist to be rewrapped."""
    for m in ("session", "catalog", "pipeline", "sources.readers",
              "quality.expectations", "operators.staging", "operators.domain_fact",
              "plans.versioned", "plans.matview", "plans.lakehouse_sql",
              "plans.merge", "streaming.events_stream"):
        _mod(m)
    tracer.patch_function(_mod("session"), "build_session", "session.build")
    cat = _mod("catalog")
    tracer.patch_function(cat, "load_table", "catalog.load_table")
    tracer.patch_function(cat, "register_views", "catalog.register_views")
    rd = _mod("sources.readers")
    for f in ("read_csv", "read_jsonl", "split_corrupt"):
        tracer.patch_function(rd, f, f"sources.{f}")

    from aws_lakehouse_project_spark.quality.expectations import QUARANTINE_KEY

    def quarantined(span, args, out, state):
        n = out.get(QUARANTINE_KEY) if isinstance(out, dict) else None
        if n is not None:
            tracer.count("sources.rows_quarantined", n)

    tracer.patch_function(_mod("quality.expectations"), "validate", "quality.validate",
                          after=quarantined)
    st = _mod("operators.staging")
    for f in ("stage_erp_orders", "stage_crm_leads", "stage_web_events", "stage_products"):
        tracer.patch_function(st, f, f"operators.{f}")
    tracer.patch_function(_mod("operators.domain_fact"), "build_fct_daily_store_metrics",
                          "operators.build_fct_daily_store_metrics")

    pl = _mod("pipeline").LakehousePipeline

    def rows_read(span, args, out, state):
        tracer.count("sources.rows_read", out.count())  # checkpointed: local blocks

    for m in ("run_all", "run_domain", "validate", "transform", "publish", "publish_fact"):
        tracer.patch_method(pl, m, f"pipeline.{m}")
    tracer.patch_method(pl, "ingest", "pipeline.ingest", after=rows_read)

    vt = _mod("plans.versioned").VersionedTable
    for m in _VERSIONED_WRITES:
        tracer.patch_method(vt, m, f"plans.versioned.commit.{m}")
    for m in ("read", "scan", "changes"):
        tracer.patch_method(vt, m, f"plans.versioned.{m}")

    mv = _mod("plans.matview")

    def mv_before(args):
        d = mv.definition(args[1])
        return d.get("base_version")

    def mv_after(span, args, out, wm):
        base = args[2]
        head = base.latest_version()
        if wm is not None and head is not None and head > wm:
            tracer.count("plans.matview.rows_folded", base.changes(args[0], wm, head).count())

    tracer.patch_function(mv, "refresh_materialized_view", "plans.matview.refresh",
                          before=mv_before, after=mv_after)
    tracer.patch_method(_mod("plans.lakehouse_sql").LakehouseSession, "sql",
                        "plans.lakehouse_sql.sql")
    es = _mod("streaming.events_stream")
    for f in ("read_events_stream", "daily_user_metrics_stream", "run_stream_to_merge"):
        tracer.patch_function(es, f, f"streaming.{f}")


def table_state(ctx) -> dict[str, int]:
    """Files (path -> bytes) under every versioned table in the run dir."""
    roots = []
    for d, subdirs, _ in os.walk(ctx.tmp):
        if "_log" in subdirs:
            roots.append(d)
            subdirs.clear()
    return dir_files(*roots)


def count_writes(tracer, ctx, before: dict[str, int]) -> None:
    """Commits, data files and bytes one traced operation added to the
    versioned tables (log entries, data, change-data and sidecars)."""
    after = table_state(ctx)
    fresh = [p for p in after if p not in before]
    tracer.count("plans.versioned.commits", sum(
        1 for p in fresh
        if os.path.basename(os.path.dirname(p)) == "_log"
        and os.path.basename(p)[:-5].isdigit()
    ))
    tracer.count("plans.versioned.files_written", sum(1 for p in fresh if p.endswith(".parquet")))
    tracer.count("plans.versioned.bytes_written", sum(after[p] for p in fresh))


def _stream_metrics(wl) -> dict[str, float]:
    prog = getattr(wl, "progress", None)
    evs = [p for ps in (prog.events.values() if prog else []) for p in ps]
    out = {k: 0.0 for k, _ in PER_LAYER if k.startswith("streaming.")}
    if not evs:
        return out
    with_rows = [p for p in evs if p.numInputRows > 0]

    def med(key):
        v = [p.durationMs.get(key, 0) for p in with_rows]
        return float(statistics.median(v)) if v else 0.0

    ops = [p.stateOperators[0] for p in evs if p.stateOperators]
    out.update({
        "streaming.batches": float(len(evs)),
        "streaming.batch_ms": med("triggerExecution"),
        "streaming.add_batch_ms": med("addBatch"),
        "streaming.planning_ms": med("queryPlanning"),
        "streaming.wal_commit_ms": med("walCommit"),
        "streaming.rows_per_batch": float(statistics.median(
            [p.numInputRows for p in with_rows])) if with_rows else 0.0,
        "streaming.state_rows": float(max((o.numRowsTotal for o in ops), default=0)),
        "streaming.state_bytes": float(max((o.memoryUsedBytes for o in ops), default=0)),
    })
    return out


def _touched_ratio(tables) -> float:
    touched = total = 0
    for t in tables:
        hist = t.history()
        for prev, cur in zip(hist, hist[1:]):
            n = cur["meta"].get("touched_files")
            if n is not None and cur["op"] != "optimize":
                touched += n
                total += prev["n_files"]
    return touched / total if total else 0.0


def metrics(tracer, ctx, wl, lat, traced, session_s) -> dict:
    """All PER_LAYER metrics as ``{name: (value, unit)}``."""
    units = dict(PER_LAYER)
    op_spans = [s for s in tracer.spans if s.attrs.get("phase") == "op"]
    n_ops = max(1, sum(traced))
    c = tracer.counters.get("op", {})
    run_total: dict[str, float] = {}
    for phase in tracer.counters.values():
        for k, v in phase.items():
            run_total[k] = run_total.get(k, 0) + v

    def per_op_s(prefix: str) -> float:
        n = 0.0
        for s in op_spans:
            if not s.name.startswith(prefix) or not s.end:
                continue
            p = s.parent
            while p is not None and not tracer.spans[p].name.startswith(prefix):
                p = tracer.spans[p].parent
            if p is None:
                n += s.end - s.start
        return n / n_ops

    def calls(prefix: str) -> float:
        return sum(1 for s in op_spans if s.name.startswith(prefix)) / n_ops

    def jobs(prefix: str) -> tuple[float, float, float]:
        j, st, t = 0, 0, 0
        for i, s in enumerate(tracer.spans):
            if s.attrs.get("phase") != "op":
                continue
            p, hit = i, False
            while p is not None:
                if tracer.spans[p].name.startswith(prefix):
                    hit = True
                    break
                p = tracer.spans[p].parent
            if hit:
                j, st, t = j + s.jobs, st + s.stages, t + s.tasks
        return j / n_ops, st / n_ops, t / n_ops

    setup = [s for s in tracer.spans if s.attrs.get("phase") == "setup" and s.end]
    t_on = [x for x, tr in zip(lat, traced) if tr]
    t_off = [x for x, tr in zip(lat, traced) if not tr]
    if not t_on or not t_off:
        raise RuntimeError(
            f"tracing overhead needs traced and untraced operations "
            f"(got {len(t_on)} and {len(t_off)})")
    rows_read = run_total.get("sources.rows_read", 0)
    quarantined = run_total.get("sources.rows_quarantined", 0)
    sp_jobs = list(jobs(""))
    prog = getattr(wl, "progress", None)
    if prog is not None:  # micro-batch jobs run under the query's run id
        st = ctx.spark.sparkContext.statusTracker()
        for rid in prog.events:
            for jid in st.getJobIdsForGroup(rid):
                info = st.getJobInfo(jid)
                sp_jobs[0] += 1 / n_ops
                for sid in info.stageIds if info else []:
                    si = st.getStageInfo(sid)
                    sp_jobs[1] += 1 / n_ops
                    sp_jobs[2] += (si.numTasks if si else 0) / n_ops
    tables = getattr(wl, "versioned_tables", lambda: [])()
    out = {
        "session.build_s": session_s,
        # run totals, set-up's batch build included: the quarantined
        # share must equal the generator's planted share
        "sources.rows_read": rows_read,
        "sources.rows_quarantined": quarantined,
        "sources.quarantine_ratio": quarantined / rows_read if rows_read else 0.0,
        "quality.validate_s": per_op_s("quality.validate"),
        "quality.validate_calls": calls("quality.validate"),
        "quality.spark_jobs": jobs("quality.")[0],
        "operators.build_s": per_op_s("operators."),
        "pipeline.ingest_s": per_op_s("pipeline.ingest"),
        "pipeline.validate_s": per_op_s("pipeline.validate"),
        "pipeline.transform_s": per_op_s("pipeline.transform"),
        # the domain publishes happen in the set-up batch build
        "pipeline.publish_s": sum(s.end - s.start for s in setup
                                  if s.name == "pipeline.publish"),
        "pipeline.publish_fact_s": per_op_s("pipeline.publish_fact"),
        "pipeline.spark_jobs": jobs("pipeline.")[0],
        "pipeline.run_all_s": sum(s.end - s.start for s in setup
                                  if s.name == "pipeline.run_all"),
        "plans.versioned.commit_s": per_op_s("plans.versioned.commit."),
        "plans.versioned.commits": c.get("plans.versioned.commits", 0) / n_ops,
        "plans.versioned.files_written": c.get("plans.versioned.files_written", 0) / n_ops,
        "plans.versioned.bytes_written": c.get("plans.versioned.bytes_written", 0) / n_ops,
        "plans.versioned.touched_files_ratio": _touched_ratio(tables),
        "plans.versioned.live_files": float(sum(t.history()[-1]["n_files"] for t in tables)),
        "plans.versioned.read_s": per_op_s("plans.versioned.read")
        + per_op_s("plans.versioned.scan"),
        "plans.versioned.optimize_s": per_op_s("plans.versioned.commit.optimize"),
        "plans.versioned.commit_conflicts": float(sum(
            1 for s in op_spans if s.attrs.get("error") == "ConcurrentWriteError")),
        "plans.matview.refresh_s": per_op_s("plans.matview.refresh"),
        "plans.matview.rows_folded": c.get("plans.matview.rows_folded", 0) / n_ops,
        # parse, view registration and analysis of the SELECTs only
        # (REFRESH also enters through LakehouseSession.sql)
        "plans.lakehouse_sql.sql_s": sum(
            s.end - s.start for s in op_spans
            if s.name == "plans.lakehouse_sql.sql" and s.parent is not None
            and tracer.spans[s.parent].name == "bench.select") / n_ops,
        "plans.lakehouse_sql.exec_s": per_op_s("plans.lakehouse_sql.exec"),
        "plans.lakehouse_sql.files_scanned_ratio":
            c.get("sql.files_scanned", 0) / c["sql.files_live"]
            if c.get("sql.files_live") else 0.0,
        "plans.lakehouse_sql.metadata_only_answers": c.get("sql.metadata_only", 0) / n_ops,
        "catalog.load_s": sum(s.end - s.start for s in setup
                              if s.name.startswith("catalog.")),
        **_stream_metrics(wl),
        "spark.jobs": sp_jobs[0],
        "spark.stages": sp_jobs[1],
        "spark.tasks": sp_jobs[2],
        "trace.traced_ops": float(len(t_on)),
        "trace.op_p50_traced_s": statistics.median(t_on),
        "trace.op_p50_untraced_s": statistics.median(t_off),
        "trace.overhead_s": statistics.median(t_on) - statistics.median(t_off),
        "trace.bookkeeping_s": tracer.bookkeeping_s / n_ops,
    }
    return {k: (float(out[k]), units[k]) for k, _ in PER_LAYER}

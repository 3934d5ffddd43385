"""The benchmark workloads.

Each workload has ``setup()`` (inputs, fixture publish, warm-up passes,
expected answers), ``op(i)`` (one timed operation, returning its
latency, its CPU seconds and whether its output matched the oracle),
``finish()`` (final oracle checks) and ``report()`` (its end-to-end
figures). All inputs come from ``gen`` with the run's seed; the engine
only sees files.
"""

from __future__ import annotations

import datetime as dt
import os
import statistics
import sys
import threading
import time
from decimal import Decimal

import numpy as np

import gen
import oracle

HORIZON_DAYS = 7


def tail(values: list[float]) -> tuple[float, str]:
    """The highest whole percentile with at least ten samples beyond
    it (nearest-rank). Below 21 samples that percentile is under the
    median, so the maximum is reported instead."""
    v = sorted(values)
    n = len(v)
    if n <= 20:
        return v[-1], f"p100 of n={n}"
    p = int(100 * (n - 10) / n)
    k = max(0, int(np.ceil(p / 100 * n)) - 1)
    return v[k], f"p{p} of n={n}"


def dir_files(*roots: str) -> dict[str, int]:
    out = {}
    for root in roots:
        for d, _, names in os.walk(root):
            for name in names:
                p = os.path.join(d, name)
                try:
                    out[p] = os.path.getsize(p)
                except OSError:
                    pass
    return out


def new_bytes(before: dict[str, int], after: dict[str, int]) -> int:
    """Bytes of the files present in ``after`` but not in ``before``."""
    return sum(s for p, s in after.items() if p not in before)


def fact_tuples(df) -> list[tuple]:
    return [
        (r["store_id"], r["dt"], r["revenue"], r["order_count"],
         r["converted_leads"], r["sessions"])
        for r in df.select(
            "store_id", "dt", "revenue", "order_count", "converted_leads", "sessions"
        ).collect()
    ]


class Workload:
    name = ""

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.tmp = ctx.tmp
        self.seed = ctx.seed
        self.tracer = ctx.tracer
        self.rng = np.random.default_rng(ctx.seed)
        self.extra: dict[str, float] = {}
        self.setup_failures = 0

    def oracle_selftest(self) -> bool:
        """The DuckDB fact oracle reproduces the FIXTURES.md golden fact
        on the fixture-size inputs."""
        from aws_lakehouse_project_spark.samples import write_samples

        # the package's samples are the FIXTURES.md section-1 rows
        paths = write_samples(os.path.join(self.tmp, "fixture"))
        return oracle.same_rows(oracle.fact_rows(paths), gen.GOLDEN_FACT, ordered=True)

    def finish(self) -> int:
        """Final checks; returns the number of failed ones."""
        return self.setup_failures


# -- late_merge ----------------------------------------------------------------


class LateMerge(Workload):
    """Closed loop, one client: one late batch per operation against
    the published curated tables, the fact and one declarative MV."""

    name = "late_merge"
    size = gen.DomainSize(orders=20_000, leads=5_000, events=40_000, products=1_000)
    churn = 0.01
    warmup_batches = 2
    target_rows_per_file = 4_000

    def setup(self) -> None:
        from aws_lakehouse_project_spark.pipeline import LakehousePipeline, PipelineConfig
        from aws_lakehouse_project_spark.plans.lakehouse_sql import LakehouseSession

        info = gen.write_domain_files(os.path.join(self.tmp, "raw"), self.size, self.seed)
        self.raw_paths = info["paths"]
        cur = self.cur = os.path.join(self.tmp, "curated")
        self.pipeline = LakehousePipeline(
            self.spark, PipelineConfig(raw_paths=info["paths"], curated_dir=cur,
                                       versioned_publish=True)
        )
        t0 = time.perf_counter()
        self.pipeline.run_all()
        self.extra["build_s"] = time.perf_counter() - t0
        self.extra["build_rows"] = sum(info["lines"].values())
        self.extra["build_raw_bytes"] = info["bytes"]
        self.extra["build_written"] = sum(dir_files(cur).values())
        with self.ctx.oracle():
            self.setup_failures += int(not oracle.same_rows(
                fact_tuples(self.spark.table("fct_daily_store_metrics")),
                oracle.fact_rows(info["paths"]),
            ))
            self.state = gen.OrdersState.from_csv(info["paths"]["erp_orders"])
        self.lh = LakehouseSession(self.spark)
        self.orders = self.lh.create("erp_orders", os.path.join(cur, "erp_orders"))
        self.mv = self.lh.create("mv_store_day", os.path.join(self.tmp, "mv_store_day"))
        self.fact_dir = os.path.join(cur, "fct_daily_store_metrics")
        self.lh.sql(
            "CREATE MATERIALIZED VIEW mv_store_day AS SELECT store_id, dt, "
            "SUM(order_value) AS revenue, COUNT(*) AS n FROM erp_orders "
            "GROUP BY store_id, dt"
        ).collect()
        self.table_dirs = [self.orders.path, self.fact_dir, self.mv.path]
        self.late_dir = os.path.join(self.tmp, "late")
        os.makedirs(self.late_dir)
        # warm-up: full late batches, checked, not timed, until the
        # JIT-compiled batch path is past its slowest first runs
        for k in range(self.warmup_batches):
            self.setup_failures += int(not self._batch(-1 - k)[2])
        self.ctx.samples.clear()

    def _write_late(self, tag: str, batch: gen.LateBatch) -> tuple[str, int]:
        p = os.path.join(self.late_dir, f"erp_orders_late_{tag}.csv")
        lines = ["order_id,customer_id,store_id,dt,order_value,status"] + [
            f"{k},{c},{s},{d.isoformat()},{v // 100}.{v % 100:02d},{st}"
            for k, c, s, d, v, st in batch.upserts
        ]
        body = "\n".join(lines) + "\n"
        deletes = "order_id\n" + "\n".join(str(k) for k in batch.deletes) + "\n"
        with open(p, "w") as fh:
            fh.write(body)
        with open(p.replace(".csv", "_deletes.csv"), "w") as fh:
            fh.write(deletes)
        return p, len(body) + len(deletes)

    def _horizon_fact(self, lo: dt.date, hi: dt.date):
        from pyspark.sql import functions as F

        from aws_lakehouse_project_spark.operators.domain_fact import (
            build_fct_daily_store_metrics,
        )

        in_h = F.col("dt").between(F.lit(lo), F.lit(hi))
        staged = self.pipeline.staged
        return build_fct_daily_store_metrics(
            self.orders.read(self.spark).filter(in_h),
            staged["crm_leads"].filter(in_h),
            staged["web_events"].filter(in_h),
        )

    def _select(self, sql: str) -> tuple[list, object]:
        """One analyst SELECT through ``LakehouseSession.sql``, fully
        materialized (collected, or a no-op write for a full scan)."""
        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span("bench.select"):
            df = self.lh.sql(sql)
            with tr.span("plans.lakehouse_sql.exec"):
                if sql.startswith("SELECT *"):
                    df.write.format("noop").mode("overwrite").save()
                    rows = []
                else:
                    rows = [tuple(r) for r in df.collect()]
        self.ctx.samples.setdefault("query_s", []).append(time.perf_counter() - t0)
        if tr.enabled:
            scanned = len(df.inputFiles())
            tr.count("sql.files_scanned", scanned)
            tr.count("sql.files_live", len(self.orders.read(self.spark).inputFiles()))
            if not scanned:  # answered from manifest metadata alone
                tr.count("sql.metadata_only")
        return rows, df

    def _batch(self, tag: int) -> tuple[float, float, bool]:
        from aws_lakehouse_project_spark.pipeline import LakehousePipeline, PipelineConfig

        # a fixed ~1% of the horizon's keys per batch, the same for every
        # seed, so per-batch work does not vary with the draw
        n = round(self.churn * self.size.orders * HORIZON_DAYS / gen.DAYS)
        batch = gen.late_batch(self.rng, self.state, HORIZON_DAYS, n)
        path, raw_bytes = self._write_late(str(tag), batch)
        probe = batch.upserts[-1]
        before = dir_files(*self.table_dirs)
        spark, vt = self.spark, self.orders
        t0, c0 = time.perf_counter(), self.ctx.cpu()
        with self.tracer.span("bench.op"):
            # the late file lands like any raw drop: ingest, validate, stage
            late = LakehousePipeline(spark, PipelineConfig(
                raw_paths={"erp_orders": path}, curated_dir=self.cur,
                versioned_publish=True, publish_views=False))
            upd = late.transform("erp_orders", late.validate(
                "erp_orders", late.ingest("erp_orders")))
            vt.merge_upsert(spark, upd, keys=["order_id"])
            vt.delete_where(spark, f"order_id IN ({','.join(map(str, batch.deletes))})")
            self.pipeline.publish_fact(self._horizon_fact(*batch.horizon))
            self.lh.sql("REFRESH MATERIALIZED VIEW mv_store_day").collect()
            # every batch compacts: with the few batches a run holds, an
            # every-k-th OPTIMIZE would make the median depend on how
            # many batches fit in the window
            vt.optimize(spark, target_rows_per_file=self.target_rows_per_file)
            # the analyst side: a full head-snapshot scan, a metadata-only
            # count and a point lookup that stats/bloom skipping can prune
            t_scan = time.perf_counter()
            self._select("SELECT * FROM erp_orders")
            t_scan = time.perf_counter() - t_scan
            n = self._select("SELECT COUNT(*) AS n FROM erp_orders")[0]
            hit = self._select(
                f"SELECT order_id, store_id, order_value FROM erp_orders "
                f"WHERE order_id = {probe[0]}")[0]
        t1, c1 = time.perf_counter(), self.ctx.cpu()
        after = dir_files(*self.table_dirs)
        s = self.ctx.samples
        s.setdefault("batch_s", []).append(t1 - t0)
        s.setdefault("batch_cpu_s", []).append(c1 - c0)
        s.setdefault("scan_s", []).append(t_scan)
        s.setdefault("write_amp", []).append(new_bytes(before, after) / raw_bytes)
        s.setdefault("late_rows", []).append(len(batch.upserts) + len(batch.deletes))
        want_hit = [(probe[0], probe[2], Decimal(probe[4]) / 100)]
        with self.ctx.oracle():
            checks = {
                "count": n == [(len(self.state.rows),)],
                "point lookup": hit == want_hit,
                "table fingerprint": self._check_fingerprint(),
                "materialized view": self._check_mv(),
            }
        bad = [k for k, ok in checks.items() if not ok]
        if bad:
            print(f"late batch {tag}: oracle mismatch: {', '.join(bad)}", file=sys.stderr)
        return t1 - t0, c1 - c0, not bad

    def op(self, i: int) -> tuple[float, float, bool]:
        return self._batch(i)

    def _check_fingerprint(self) -> bool:
        from pyspark.sql import functions as F

        r = self.orders.read(self.spark).agg(
            F.count(F.lit(1)).alias("n"), F.sum("order_id").alias("k"),
            F.sum("order_value").alias("v"),
        ).collect()[0]
        rows = self.state.rows
        want_v = Decimal(sum(x[3] for x in rows.values())) / 100
        return (r["n"], r["k"], r["v"]) == (len(rows), sum(rows), want_v)

    def _expected_mv(self) -> list[tuple]:
        agg: dict[tuple, list[int]] = {}
        for _, store, d, cents, _ in self.state.rows.values():
            a = agg.setdefault((store, d), [0, 0])
            a[0] += cents
            a[1] += 1
        return [(s, d, Decimal(c) / 100, n) for (s, d), (c, n) in agg.items()]

    def _check_mv(self) -> bool:
        got = [
            tuple(r) for r in self.mv.read(self.spark)
            .select("store_id", "dt", "revenue", "n").collect()
        ]
        return oracle.same_rows(got, self._expected_mv())

    def finish(self) -> int:
        import pyarrow as pa

        got = {
            r["order_id"]: (r["customer_id"], r["store_id"], r["dt"],
                            int(r["order_value"] * 100), r["status"])
            for r in self.orders.read(self.spark).collect()
        }
        failed = self.setup_failures + int(got != self.state.rows) + int(not self._check_mv())
        rows = self.state.rows
        orders = pa.table({
            "store_id": [r[1] for r in rows.values()],
            "dt": [r[2] for r in rows.values()],
            "order_value": [f"{r[3] // 100}.{r[3] % 100:02d}" for r in rows.values()],
        })
        with oracle.domain_connection(self.raw_paths) as con:
            con.execute("DROP VIEW erp_orders")
            con.register("erp_orders", orders)
            want = con.execute(oracle.FACT_SQL).fetchall()
        from aws_lakehouse_project_spark.plans.versioned import VersionedTable

        fact = VersionedTable(self.fact_dir)
        failed += int(not oracle.same_rows(fact_tuples(fact.read(self.spark)), want))
        self.extra["versions"] = len(self.orders.versions())
        return failed

    def versioned_tables(self) -> list:
        from aws_lakehouse_project_spark.plans.versioned import VersionedTable

        return [self.orders, VersionedTable(self.fact_dir), self.mv]

    def report(self, lat: list[float]) -> dict:
        s = self.ctx.samples
        rows = sum(s["late_rows"])
        x = self.extra
        q_tail, q_p = tail(s["query_s"])
        return {
            "query_p50_s": (statistics.median(s["query_s"]), "s"),
            f"query_tail_s ({q_p})": (q_tail, "s"),
            "late_rows_per_s": (rows / sum(s["batch_s"]), "rows/s"),
            "build_rows_per_s": (x["build_rows"] / x["build_s"], "rows/s"),
            "build_write_amp": (x["build_written"] / x["build_raw_bytes"], "bytes/byte"),
            "merge_write_amp": (statistics.median(s["write_amp"]), "bytes/byte"),
            "merge_scan_s": (statistics.median(s["scan_s"]), "s"),
            "erp_orders_versions": (self.extra.get("versions", 0), "count"),
            # late rows applied per CPU-second of the driver and JVM
            "throughput_per_cpu_s": (rows / sum(s["batch_cpu_s"]), "1/s"),
        }


# -- stream_ingest ----------------------------------------------------------------


class _Progress:
    """StreamingQueryListener sink: per-query progress, kept in order."""

    def __init__(self) -> None:
        from pyspark.sql.streaming.listener import StreamingQueryListener

        self.events: dict[str, list] = {}
        self.cv = threading.Condition()
        outer = self

        class L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with outer.cv:
                    outer.events.setdefault(str(p.runId), []).append(p)
                    outer.cv.notify_all()

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = L()


def _log_offset(off) -> int:
    import json

    if not off:
        return -1
    return int(json.loads(off)["logOffset"]) if isinstance(off, str) else int(off["logOffset"])


def _commit_end(p) -> float:
    ts = dt.datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
    ts = ts.replace(tzinfo=dt.timezone.utc).timestamp()
    return ts + p.durationMs.get("triggerExecution", 0) / 1000.0


class StreamIngest(Workload):
    """Phase A drains a pre-dropped backlog through
    ``run_stream_to_merge``; phase B is an open loop publishing one drop
    every ``interval_s`` into a running watermarked query whose
    foreachBatch merges each micro-batch into the target."""

    name = "stream_ingest"
    events_per_drop = 2_000
    backlog_drops = 5
    # drops in the set-up stream: enough micro-batches that the batch
    # path is compiled before phase A is measured
    warmup_drops = 3
    # one drop per interval: above the ~2.5-3.5 s a micro-batch (plus
    # its no-data watermark batch) takes here, so the backlog stays empty
    interval_s = 5.0

    def setup(self) -> None:
        from aws_lakehouse_project_spark.streaming.events_stream import run_stream_to_merge

        self.progress = _Progress()
        self.spark.streams.addListener(self.progress.listener)
        self.staging = os.path.join(self.tmp, "staging")
        os.makedirs(self.staging)
        from aws_lakehouse_project_spark import catalog

        warm = self._drops("warm", self.warmup_drops, seed=self.seed + 1, first_id=10**9)
        # the engine's catalog reads the drop back as the testdata
        # ``events`` table: a generator/reader agreement check
        os.rename(os.path.join(warm, "drop_00000.parquet"), os.path.join(warm, "events.parquet"))
        n = catalog.load_table(self.spark, warm, "events").count()
        self.setup_failures += int(n != self.events_per_drop)
        run_stream_to_merge(self.spark, warm, os.path.join(self.tmp, "warm_t"),
                            os.path.join(self.tmp, "warm_c"))
        with self.progress.cv:
            self.progress.events.clear()
        self.a_dir = self._drops("a", self.backlog_drops, seed=self.seed * 31 + 2)
        self.next_id = self.backlog_drops * self.events_per_drop

    def _drops(self, tag: str, n: int, seed: int, first_id: int = 0) -> str:
        d = os.path.join(self.tmp, f"drops_{tag}")
        os.makedirs(d)
        for k, t in enumerate(gen.event_drops(seed, n, self.events_per_drop,
                                              first_event_id=first_id)):
            gen.publish_drop(t, d, f"drop_{k:05d}.parquet", self.staging)
        return d

    def _files(self, d: str) -> list[str]:
        return sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet"))

    def _target_ok(self, writer, drops_dir: str) -> bool:
        from pyspark.sql import functions as F

        got = [
            tuple(r) for r in writer.read(self.spark).select(
                F.col("dt").cast("date").alias("dt"), "cust_id", "sessions",
                "purchases", "total_value").collect()
        ]
        return oracle.same_rows(got, oracle.stream_rows(self._files(drops_dir)))

    def run(self, seconds: float):
        """Both phases; returns (lag samples, whether each drop was
        traced, CPU seconds per drop, attempted, failed)."""
        from aws_lakehouse_project_spark.streaming.events_stream import run_stream_to_merge

        attempted = failed = 0
        with self.tracer.span("bench.op"):
            t0, c0 = time.perf_counter(), self.ctx.cpu()
            writer = run_stream_to_merge(
                self.spark, self.a_dir, os.path.join(self.tmp, "a_t"),
                os.path.join(self.tmp, "a_c"))
            drain, drain_cpu = time.perf_counter() - t0, self.ctx.cpu() - c0
        attempted += 1
        failed += int(not self._target_ok(writer, self.a_dir))
        events = self.backlog_drops * self.events_per_drop
        self.extra["drain_s"] = drain
        self.extra["drain_events_per_s"] = events / drain
        self.extra["drain_events_per_cpu_s"] = events / drain_cpu
        lags, traced, cpu, late, n_b, ok_b = self._phase_b(seconds)
        # every phase-B drop is one operation; a drop with no commit or
        # a target that misses the oracle counts as failed
        attempted += n_b
        failed += (n_b - len(lags)) + int(not ok_b)
        self.extra["generator_late_max_s"] = late
        return lags, traced, cpu, attempted, failed

    def _phase_b(self, seconds: float):
        from aws_lakehouse_project_spark.plans.merge import PartitionOverwriteMergeWriter
        from aws_lakehouse_project_spark.streaming.events_stream import (
            daily_user_metrics_stream,
            read_events_stream,
        )

        b_dir = os.path.join(self.tmp, "drops_b")
        os.makedirs(b_dir)
        # two drops at least: a traced run needs a traced and an untraced one
        n_max = max(2, int(seconds / self.interval_s))
        tables = gen.event_drops(self.seed * 31 + 3, n_max + 1, self.events_per_drop,
                                 first_event_id=self.next_id,
                                 start_hour=6 * self.backlog_drops)
        gen.publish_drop(tables[0], b_dir, "drop_00000.parquet", self.staging)
        writer = PartitionOverwriteMergeWriter(os.path.join(self.tmp, "b_t"))

        def merge_batch(batch_df, epoch_id):
            if batch_df.isEmpty():
                return
            writer.merge_upsert(batch_df.sparkSession, batch_df, ["dt", "cust_id"])

        agg = daily_user_metrics_stream(read_events_stream(self.spark, b_dir))
        q = (agg.writeStream.outputMode("update")
             .option("checkpointLocation", os.path.join(self.tmp, "b_c"))
             .foreachBatch(merge_batch).start())
        run_id = str(q.runId)
        due, published, cpu_at = [], [], []
        with self.tracer.span("bench.stream_phase_b"):
            t0 = time.time() + self.interval_s
            k = 1
            while k <= n_max:
                d = t0 + (k - 1) * self.interval_s
                wait = d - time.time()
                if wait > 0:
                    time.sleep(wait)
                cpu_at.append(self.ctx.cpu())
                # a traced run traces every other drop: the lag
                # difference is the tracing overhead
                self.tracer.enabled = self.ctx.trace and k % 2 == 1
                gen.publish_drop(tables[k], b_dir, f"drop_{k:05d}.parquet", self.staging)
                due.append(d)
                published.append(time.time())
                k += 1
            want = len(published)  # log offsets 0..want cover every drop
            # close the last drop's CPU window one interval after it, like
            # the others (its data and no-data batches both fall inside)
            time.sleep(max(0.0, t0 + want * self.interval_s - time.time()))
            deadline = time.time() + 90
            with self.progress.cv:
                while time.time() < deadline:
                    ev = self.progress.events.get(run_id, [])
                    if any(_log_offset(p.sources[0].endOffset) >= want for p in ev):
                        break
                    self.progress.cv.wait(1.0)
            # CPU per drop: from one publish to the next, so each sample
            # holds one data micro-batch and the no-data batch that
            # advances the watermark
            cpu_at.append(self.ctx.cpu())
            q.stop()
        ev = self.progress.events.get(run_id, [])
        lags, traced = [], []
        for k in range(1, want + 1):
            ends = [_commit_end(p) for p in ev if _log_offset(p.sources[0].endOffset) >= k]
            if ends:
                lags.append(min(ends) - due[k - 1])
                traced.append(self.ctx.trace and k % 2 == 1)
        late = max((p - d for p, d in zip(published, due)), default=0.0)
        cpu = [b - a for a, b in zip(cpu_at, cpu_at[1:])]
        return lags, traced, cpu, late, want, self._target_ok(writer, b_dir)

    def report(self, lat: list[float]) -> dict:
        return {
            "stream_drain_events_per_s": (self.extra["drain_events_per_s"], "events/s"),
            "stream_drain_s": (self.extra["drain_s"], "s"),
            "generator_late_max_s": (self.extra["generator_late_max_s"], "s"),
            # backlog events drained per CPU-second of the driver and JVM
            "throughput_per_cpu_s": (self.extra["drain_events_per_cpu_s"], "1/s"),
        }


WORKLOADS = {w.name: w for w in (LateMerge, StreamIngest)}

# what op_p50_s / op_tail_s are called in each workload's own terms
NAMED = {
    "late_merge": {"p50": "merge_batch_p50_s", "tail": "merge_batch_tail_s"},
    "stream_ingest": {"p50": "stream_lag_p50_s", "tail": "stream_lag_tail_s"},
}

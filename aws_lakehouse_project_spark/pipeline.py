"""Pipeline runner — the Airflow DAG's semantics as a driver-side flow.

The reference's per-domain DAG is ingest → validate → transform →
publish with ALL_SUCCESS gating, retries and SLA alerting (reference
``airflow/dags/lakehouse_pipelines.py:98-144``, ``:40-47``). Here each
stage is a method; failures raise (fail-fast like the local runner);
``retries`` wraps transient stage errors; cron/SLA stay host-level
concerns per SURVEY.md §3.2.

Also implements the dbt-level checks: post-build not-null schema tests
(D2 — ``dbt/models/schema.yml:36-41``), source freshness (D3 —
``schema.yml:10-13``), and a JSON manifest of published tables (D7 —
``Makefile:19-33``).
"""

from __future__ import annotations

import datetime as _dt
import json
import logging
import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .errors import EngineError, ExpectationFailure
from .operators.domain_fact import build_fct_daily_store_metrics
from .operators.staging import STAGING_TRANSFORMS
from .quality.expectations import DOMAIN_SUITES, QUARANTINE_KEY, Expectation, validate
from .schemas import DOMAIN_RAW_SCHEMAS
from .sources.readers import read_csv, read_jsonl, split_corrupt
from .sources.writers import write_csv, write_partitioned_parquet

log = logging.getLogger("aws_lakehouse_project_spark.pipeline")

DOMAIN_FORMATS = {
    "erp_orders": "csv",
    "crm_leads": "csv",
    "web_events": "jsonl",
    "products": "csv",
}

# D5 alerting seams (reference airflow/dags/lakehouse_pipelines.py:50-73:
# Slack on_failure_callback, email sla_miss_callback). Called with
# (domain, stage, exception) / (domain, elapsed_seconds); the default
# implementations just log, like the reference's stubs print.
FailureCallback = Callable[[str, str, Exception], None]
SlaMissCallback = Callable[[str, float], None]


@dataclass
class PipelineConfig:
    raw_paths: dict[str, str]  # domain -> raw file/dir
    curated_dir: str
    retries: int = 2
    retry_delay_sec: float = 0.1  # reference: 5 min; compressed for tests
    freshness_warn_hours: float = 12.0
    freshness_error_hours: float = 24.0
    publish_views: bool = True
    # Route publish + incremental fact through the manifest transaction
    # layer (plans/versioned.py): curated tables become VersionedTables
    # with the GE suite compiled to CHECK constraints, publication is
    # write-audit-publish, and the fact upserts via copy-on-write MERGE
    # on (store_id, dt) — the dbt incremental contract (reference
    # fct_daily_store_metrics.sql:1-5) on ACID snapshots.
    versioned_publish: bool = False
    extra_suites: dict[str, list[Expectation]] = field(default_factory=dict)
    # D5: reference DEFAULT_ARGS sla=60min (:46); None disables the check
    sla_seconds: float | None = None
    on_failure: FailureCallback | None = None
    on_sla_miss: SlaMissCallback | None = None


class LakehousePipeline:
    """Driver-side twin of the 4-stage per-domain DAG (D4) + fact build."""

    def __init__(self, spark: SparkSession, config: PipelineConfig) -> None:
        self.spark = spark
        self.config = config
        self.staged: dict[str, DataFrame] = {}
        # D6: per-stage input→output edges, emitted with the manifest
        self.lineage: list[dict] = []

    def _edge(self, stage: str, inputs: list[str], outputs: list[str]) -> None:
        self.lineage.append({"stage": stage, "inputs": inputs, "outputs": outputs})

    # -- stage 1: ingest ---------------------------------------------------

    def ingest(self, domain: str) -> DataFrame:
        """Schema-enforced raw read (replaces the Glue crawler trigger,
        reference :76-79). Returns the parsed frame cached WITH the
        corrupt-record column still aboard — corrupt rows are quarantined
        (counted inside validate's single aggregation, no extra scan) and
        dropped by validate, not fatal."""
        path = self.config.raw_paths[domain]
        schema = DOMAIN_RAW_SCHEMAS[domain]
        if DOMAIN_FORMATS[domain] == "jsonl":
            raw = read_jsonl(self.spark, path, schema)
        else:
            raw = read_csv(self.spark, path, schema)
        self._edge(f"ingest_{domain}", [path], [f"raw_{domain}"])
        # materialize: validate aggregates it, transform projects it, and
        # Spark refuses to query the corrupt column straight off a file
        # scan. localCheckpoint (not cache) truncates the lineage so every
        # downstream derivative is corrupt-column-legal, and the blocks
        # free with GC instead of pinning storage for the session.
        return raw.localCheckpoint(eager=True)

    # -- stage 2: validate -------------------------------------------------

    def validate(self, domain: str, raw: DataFrame) -> DataFrame:
        """GE-checkpoint twin (reference :82-85): the domain suite AND the
        corrupt-row quarantine count run as one aggregation; violations
        raise ExpectationFailure. Returns the clean (corrupt-free)
        frame."""
        suite = self.config.extra_suites.get(domain, DOMAIN_SUITES[domain])
        counts = validate(raw, suite, name=domain, count_quarantined=True)
        n_bad = counts.get(QUARANTINE_KEY, 0)
        if n_bad:
            log.warning("%s: %d corrupt raw rows quarantined", domain, n_bad)
        self._edge(f"validate_{domain}", [f"raw_{domain}"], [f"valid_{domain}"])
        clean, _bad = split_corrupt(raw)
        return clean

    # -- stage 3: transform ------------------------------------------------

    def transform(self, domain: str, raw: DataFrame) -> DataFrame:
        """dbt staging view twin (reference :88-90): typed cast+project,
        registered as stg_<domain> (S9)."""
        staged = STAGING_TRANSFORMS[domain](raw)
        staged.createOrReplaceTempView(f"stg_{domain}")
        self.staged[domain] = staged
        self._edge(f"transform_{domain}", [f"valid_{domain}"], [f"stg_{domain}"])
        return staged

    # -- stage 4: publish --------------------------------------------------

    def publish(self, domain: str, staged: DataFrame) -> str:
        """Curated publication (reference :93-95): partitioned parquet
        under curated/<domain>, partitioned by dt like README.md:12 (the
        testdata-scale twin keeps store_id as a data column to avoid tiny
        partitions; see write_zorder_approx for the clustered variant).

        With ``versioned_publish`` the curated table is a
        ``VersionedTable``: the staged frame is STAGED on disk, the
        domain's GE suite audits exactly the staged files, and only then
        is the snapshot atomically published (Iceberg's
        write-audit-publish — readers can never see unaudited data); the
        suite's row-level expectations are additionally installed as
        CHECK constraints, so every FUTURE commit — merge, append,
        restore — counts its rows against them on its own write."""
        out = os.path.join(self.config.curated_dir, domain)
        if self.config.versioned_publish:
            published = self._publish_versioned(domain, staged, out)
        else:
            write_partitioned_parquet(staged, out, ["dt"])
            published = self.spark.read.parquet(out)
        if self.config.publish_views:
            published.createOrReplaceTempView(f"curated_{domain}")
        self._edge(f"publish_{domain}", [f"stg_{domain}"], [out])
        return out

    def _publish_versioned(self, domain: str, staged: DataFrame, out: str) -> DataFrame:
        from .plans.versioned import VersionedTable
        from .quality.expectations import check_constraints

        suite = self.config.extra_suites.get(domain, DOMAIN_SUITES[domain])
        row_suite = [
            e
            for e in suite
            if e.kwargs.get("column") is None
            or e.kwargs["column"] in staged.columns
        ]
        vt = VersionedTable(out, stats_cols=["dt"])
        vt.write_audit_publish(
            self.spark,
            staged,
            audits=[lambda df: validate(df, row_suite, name=f"curated_{domain}")],
            mode="overwrite",
            meta={"domain": domain},
        )
        existing = vt.constraints()
        for cname, expr in check_constraints(suite, list(staged.columns)).items():
            if cname not in existing:
                vt.add_constraint(self.spark, cname, expr)
        return vt.read(self.spark)

    # -- orchestration -----------------------------------------------------

    def _with_retries(self, fn, *args):
        """D5 retry policy (reference :40-47, retries=2)."""
        last: Exception | None = None
        for attempt in range(self.config.retries + 1):
            try:
                return fn(*args)
            except (ExpectationFailure, EngineError):
                raise  # data failures are deterministic — never retry
            except Exception as exc:  # transient (I/O etc.)
                last = exc
                log.warning("attempt %d failed: %s", attempt + 1, exc)
                time.sleep(self.config.retry_delay_sec)
        raise last  # type: ignore[misc]

    def _alert_failure(self, domain: str, stage: str, exc: Exception) -> None:
        """D5 on-failure alert (reference :50-59 Slack callback): invoked
        on any stage failure, then the failure propagates (the callback
        must never mask it — its own errors are swallowed and logged)."""
        log.error("%s: stage %s failed: %s", domain, stage, exc)
        if self.config.on_failure is not None:
            try:
                self.config.on_failure(domain, stage, exc)
            except Exception:
                log.exception("on_failure callback itself failed")

    def _check_sla(self, domain: str, elapsed_sec: float) -> None:
        """D5 SLA-miss alert (reference :62-73 + sla=60min at :46)."""
        sla = self.config.sla_seconds
        if sla is not None and elapsed_sec > sla:
            log.warning("%s: SLA miss: %.1fs > %.1fs", domain, elapsed_sec, sla)
            if self.config.on_sla_miss is not None:
                try:
                    self.config.on_sla_miss(domain, elapsed_sec)
                except Exception:
                    log.exception("on_sla_miss callback itself failed")

    def run_domain(self, domain: str) -> DataFrame:
        """ingest → validate → transform → publish (linear chain, gated
        like trigger_rule=ALL_SUCCESS — any raise stops the chain after
        alerting)."""
        t0 = time.monotonic()
        stage = "ingest"
        try:
            raw = self._with_retries(self.ingest, domain)
            stage = "validate"
            valid = self.validate(domain, raw)
            stage = "transform"
            staged = self.transform(domain, valid)
            stage = "publish"
            self._with_retries(self.publish, domain, staged)
        except Exception as exc:
            self._alert_failure(domain, stage, exc)
            raise
        self._check_sla(domain, time.monotonic() - t0)
        return staged

    def run_all(self) -> DataFrame:
        """All four domains, then the fact build + post-build tests +
        manifest; returns the fact DataFrame.

        The domain chains are independent until the fact build (the
        reference DAG's branches run concurrently under Airflow), so
        they execute on a small driver thread pool: Spark schedules
        concurrent jobs FIFO and back-fills idle executors with the
        next domain's tasks while one domain's stage waits on its
        stragglers (guide §2.6). Each chain's stages stay strictly
        ordered inside its thread; failures alert in-thread exactly as
        in the sequential form and the first one re-raises here. The
        manifest stays deterministic: edges regroup by (domain, stage)
        order after the pool joins.

        Failure semantics (differs from the pre-r14 sequential form, by
        design): when one domain fails, its SIBLING domains still run to
        completion — including publishing their curated output — before
        the first failure re-raises here. Each domain is an independent
        Airflow-style branch with its own alert, so a sibling's publish
        is not rolled back by another branch's failure; only the fact
        build (which needs all three staged inputs) is skipped. Lineage
        is re-sorted in ``finally`` so it is deterministic even on a
        failed run."""
        domains = [d for d in DOMAIN_FORMATS if d in self.config.raw_paths]
        if len(domains) > 1:
            from concurrent.futures import ThreadPoolExecutor

            mark = len(self.lineage)
            try:
                with ThreadPoolExecutor(
                    max_workers=min(4, len(domains))
                ) as pool:
                    list(pool.map(self.run_domain, domains))
            finally:
                stage_rank = {
                    "ingest": 0,
                    "validate": 1,
                    "transform": 2,
                    "publish": 3,
                }
                dom_rank = {d: i for i, d in enumerate(domains)}

                def _key(edge: dict) -> tuple:
                    verb, _, dom = edge["stage"].partition("_")
                    return (
                        dom_rank.get(dom, len(dom_rank)),
                        stage_rank.get(verb, 9),
                    )

                self.lineage[mark:] = sorted(self.lineage[mark:], key=_key)
        else:
            for domain in domains:
                self.run_domain(domain)
        fact = build_fct_daily_store_metrics(
            self.staged["erp_orders"],
            self.staged["crm_leads"],
            self.staged["web_events"],
        )
        fact_dir = self.publish_fact(fact)
        self._edge(
            "build_fct_daily_store_metrics",
            ["stg_erp_orders", "stg_crm_leads", "stg_web_events"],
            ["fct_daily_store_metrics", fact_dir],
        )
        self.emit_manifest()
        return fact

    def publish_fact(self, fact: DataFrame) -> str:
        """Publish the fact mart. Plain mode: CSV + dt-partitioned
        parquet (the reference's S3 layout). Versioned mode: the fact is
        a ``VersionedTable`` implementing the dbt incremental contract
        (reference fct_daily_store_metrics.sql:1-5,
        ``incremental_strategy='merge'``, unique_key=['store_id','dt'])
        — first build publishes through write-audit-publish with the D2
        post-build tests as the audit; EVERY later call MERGEs the given
        frame on (store_id, dt) copy-on-write, the same tests auditing
        the merge's pinned source before any file is written, so an
        incremental run
        passes only its recomputed horizon and pays ∝ touched files,
        never a table rewrite. not_null(store_id, dt) rides as CHECK
        constraints, enforced by every subsequent commit."""
        fact_dir = os.path.join(self.config.curated_dir, "fct_daily_store_metrics")
        if not self.config.versioned_publish:
            self.post_build_tests(fact)
            write_csv(fact, os.path.join(fact_dir, "csv"))
            write_partitioned_parquet(fact, os.path.join(fact_dir, "parquet"), ["dt"])
            return fact_dir
        from .plans.versioned import VersionedTable

        vt = VersionedTable(fact_dir, stats_cols=["dt"])
        if not vt.exists():
            # cluster the initial build by dt: incremental merges
            # recompute a dt horizon, so dt-disjoint files keep the CoW
            # touched-file set ∝ the horizon (and the dt min/max stats
            # make scan() prune the same way)
            clustered = fact.repartitionByRange(F.col("dt")).sortWithinPartitions(
                "dt", "store_id"
            )
            vt.write_audit_publish(
                self.spark,
                clustered,
                audits=[self.post_build_tests],
                mode="overwrite",
                meta={"model": "fct_daily_store_metrics"},
            )
            vt.add_constraint(self.spark, "nn_store_id", "store_id IS NOT NULL")
            vt.add_constraint(self.spark, "nn_dt", "dt IS NOT NULL")
        else:
            # the D2 gate audits merge_upsert's pinned source before any
            # file is written, so the fact's join tree is evaluated once
            vt.merge_upsert(
                self.spark,
                fact,
                keys=["store_id", "dt"],
                meta={"model": "fct_daily_store_metrics"},
                audits=[self.post_build_tests],
            )
        if self.config.publish_views:
            vt.read(self.spark).createOrReplaceTempView("fct_daily_store_metrics")
        return fact_dir

    # -- dbt-level checks --------------------------------------------------

    def post_build_tests(self, fact: DataFrame) -> None:
        """D2: not_null(store_id, dt) on the fact (schema.yml:36-41)."""
        validate(
            fact,
            [
                Expectation(
                    "expect_column_values_to_not_be_null", {"column": "store_id"}
                ),
                Expectation("expect_column_values_to_not_be_null", {"column": "dt"}),
            ],
            name="fct_daily_store_metrics",
        )

    def check_freshness(self, domain: str, now_dt: str) -> str:
        """D3 source freshness on loaded_at_field=dt (schema.yml:10-13):
        'ok' | 'warn' | 'error' against the 12h/24h thresholds."""
        staged = self.staged[domain]
        max_dt = staged.agg(F.max("dt").alias("m")).collect()[0]["m"]
        if max_dt is None:
            return "error"
        # driver-side datetime arithmetic on the two scalars — no Spark job
        now = _dt.datetime.fromisoformat(now_dt)
        if isinstance(max_dt, _dt.datetime):
            loaded = max_dt
        elif isinstance(max_dt, _dt.date):
            loaded = _dt.datetime.combine(max_dt, _dt.time.min)
        else:
            loaded = _dt.datetime.fromisoformat(str(max_dt))
        lag = (now - loaded).total_seconds() / 3600.0
        if lag > self.config.freshness_error_hours:
            return "error"
        if lag > self.config.freshness_warn_hours:
            return "warn"
        return "ok"

    def emit_manifest(self) -> str:
        """D7 docs/manifest twin: JSON of published tables + schemas, plus
        the D6 per-stage lineage edges (reference terraform/main.tf:101-108
        configures OpenLineage; here edges are recorded as each stage
        runs)."""
        manifest = {
            "tables": self._staged_schemas(),
            "lineage": self.lineage,
        }
        path = os.path.join(self.config.curated_dir, "manifest.json")
        os.makedirs(self.config.curated_dir, exist_ok=True)
        with open(path, "w") as fh:
            json.dump(manifest, fh, indent=2)
        self.emit_openlineage()
        return path

    # OpenLineage constants (public spec, openlineage.io/spec). Per the
    # 1-0-5 spec: a RunEvent's schemaURL must reference the RunEvent
    # definition, producer must be a URI identifying the producing code,
    # and every facet carries _producer/_schemaURL.
    _OL_SCHEMA_URL = (
        "https://openlineage.io/spec/1-0-5/OpenLineage.json#/definitions/RunEvent"
    )
    _OL_PRODUCER = "https://github.com/aws-lakehouse-project-spark/engine"
    _OL_SCHEMA_FACET_URL = (
        "https://openlineage.io/spec/facets/1-0-0/SchemaDatasetFacet.json"
        "#/$defs/SchemaDatasetFacet"
    )
    _OL_NAMESPACE = "aws_lakehouse_project_spark"

    def _staged_schemas(self) -> dict[str, list[str]]:
        """Published column lists per staged table (shared by the
        manifest and the OpenLineage schema facets — one source so the
        two artifacts can never disagree)."""
        return {
            f"stg_{d}": [f.name for f in df.schema.fields]
            for d, df in self.staged.items()
        }

    def emit_openlineage(self) -> str:
        """D6, OpenLineage-shaped: the same per-stage edges as RunEvent
        JSON (eventType COMPLETE, job + input/output datasets, schema
        facet on staged outputs) — the wire format the reference's
        lineage backend consumes (terraform/main.tf:101-108 configures
        an OpenLineage endpoint). Written as a JSON array; a deployment
        posts each element to its collector instead."""
        import uuid

        schemas = self._staged_schemas()

        def dataset(name: str) -> dict:
            ds: dict = {"namespace": self._OL_NAMESPACE, "name": name}
            if name in schemas:
                ds["facets"] = {
                    "schema": {
                        "_producer": self._OL_PRODUCER,
                        "_schemaURL": self._OL_SCHEMA_FACET_URL,
                        "fields": [{"name": c} for c in schemas[name]],
                    }
                }
            return ds

        run_id = str(uuid.uuid4())
        now = _dt.datetime.now(_dt.timezone.utc).isoformat()
        events = [
            {
                "eventType": "COMPLETE",
                "eventTime": now,
                "run": {"runId": run_id},
                "job": {
                    "namespace": self._OL_NAMESPACE,
                    "name": edge["stage"],
                },
                "inputs": [dataset(n) for n in edge["inputs"]],
                "outputs": [dataset(n) for n in edge["outputs"]],
                "producer": self._OL_PRODUCER,
                "schemaURL": self._OL_SCHEMA_URL,
            }
            for edge in self.lineage
        ]
        path = os.path.join(self.config.curated_dir, "openlineage.json")
        os.makedirs(self.config.curated_dir, exist_ok=True)
        with open(path, "w") as fh:
            json.dump(events, fh, indent=2)
        return path

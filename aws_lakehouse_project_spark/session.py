"""SparkSession factory with scale-aware defaults.

Local test profile runs ``local[N]``; the config block is written so the
same session settings make sense on a 1000-executor cluster: AQE for
runtime re-planning (shuffle coalescing, skew-join splitting), UTC session
timezone (oracle parity and cross-cluster determinism), Arrow for the few
Pandas-UDF paths, and dynamic partition overwrite for the merge writer
(SURVEY.md §2 S8 — dbt incremental merge, reference
``dbt/models/marts/fct_daily_store_metrics.sql:1-5``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def build_session(
    app_name: str = "aws_lakehouse_project_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession with the engine's defaults.

    On a real cluster ``master`` comes from spark-submit; locally we default
    to ``local[$SPARK_GRAFT_CPUS]``.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        master = f"local[{DEFAULT_CPUS}]"
    builder = builder.master(master)
    conf = {
        # parquet writes: zstd beats snappy on size at similar read
        # speed (guide §6/§9) — at 100 TB the written-byte and scan-byte
        # savings compound across every zone. That it is time-neutral
        # against snappy is unmeasured here. Env-parameterised so an
        # A/B can flip it (perfbench records the codec per run).
        "spark.sql.parquet.compression.codec": os.environ.get(
            "SPARK_GRAFT_PARQUET_CODEC", "zstd"
        ),
        "spark.sql.shuffle.partitions": str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # session default for plain partitioned writes: replace only the
        # partitions a write touches. The merge writer (plans/merge.py)
        # sets the mode on each write itself and writes one file per
        # touched partition from a source it evaluates once
        "spark.sql.sources.partitionOverwriteMode": "dynamic",
        # parquet scans: keep split size at the default 128m for cluster
        # parity; local runs are small enough either way
        "spark.sql.files.maxPartitionBytes": "134217728",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        # testdata events.ts is parquet TIMESTAMP(NANOS), which Spark's
        # reader rejects; read as long and convert in catalog.load_table
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # streaming state OFF-heap: the default HDFSBackedStateStore
        # keeps every loaded state map on the JVM heap and unloads
        # terminated queries' providers only at the next maintenance
        # tick — consecutive 10M-event stateful runs in one JVM OOM'd
        # the 8g heap (r7 stream-soak reproducer of the r6 "transient
        # cancellation"). RocksDB is also the only state backend that
        # holds 100 TB-scale keyed state: memory is bounded per
        # partition regardless of key cardinality.
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        ),
        "spark.ui.enabled": "false",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def get_spark() -> SparkSession:
    """Active session if one exists, else a fresh default session."""
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    return build_session()

"""Streaming twin of the events pipeline (SURVEY.md §2.9).

The reference batches its event stream every 6 hours and heals late data
by re-merging a 7-day horizon (reference
``airflow/dags/lakehouse_pipelines.py:105``,
``fct_daily_store_metrics.sql:34-36``). The Structured Streaming
re-expression makes that contract first-class:

- file source over the events directory (micro-batch = the 6-hourly file
  drop),
- ``withWatermark("ts", "7 days")`` — the watermark IS the reference's
  late-data horizon: rows later than 7 days are dropped, rows within it
  re-aggregate their day,
- tumbling daily ``window(ts, "1 day")`` per-user aggregation,
- ``foreachBatch`` + dynamic-partition-overwrite MERGE — the only sink
  mode that reproduces the reference's update-in-place fact semantics
  (plain append-mode windowed aggregation does not; SURVEY.md §7.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.money import money
from ..operators.registry import demo_query
from ..plans.merge import PartitionOverwriteMergeWriter

def read_events_stream(
    spark: SparkSession, events_path: str, schema=None
) -> DataFrame:
    """File-source stream over the events drop directory (S2/§2.9).

    The file source needs an explicit schema, but the testdata
    generator's ``ts`` encoding has changed across rounds
    (TIMESTAMP(NANOS)-as-long, then TIMESTAMP_MICROS NTZ). Inferring the
    schema from the files already in the drop directory — a one-time
    driver-side footer read, no data scan — keeps the stream correct
    under ANY encoding; ``normalize_ts`` then rewrites ``ts`` to
    session-zoned TIMESTAMP exactly as the batch path does.

    When the drop directory is empty or absent at stream-definition time
    (a normal streaming-startup scenario — files arrive later), inference
    has nothing to read; the stream then falls back to
    ``EVENTS_RAW_FALLBACK_SCHEMA`` (current-generation encoding), or to
    the caller-supplied ``schema`` if given.
    """
    from ..catalog import normalize_ts
    from ..schemas import EVENTS_RAW_FALLBACK_SCHEMA

    # nanos→long mapping needs this conf even with an explicit schema;
    # runtime-settable, so tolerate sessions the engine didn't build
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if schema is None:
        from pyspark.errors import AnalysisException

        try:
            schema = spark.read.parquet(events_path).schema
        except AnalysisException as exc:
            # fall back ONLY for the empty/absent-directory startup case;
            # any other analysis error (corrupt footer, permissions) must
            # stay loud — silently substituting the static schema there
            # would mask a real read problem
            cond = exc.getErrorClass() or ""
            if not ("UNABLE_TO_INFER_SCHEMA" in cond or "PATH_NOT_FOUND" in cond):
                raise
            schema = EVENTS_RAW_FALLBACK_SCHEMA
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # one file drop per micro-batch
        .parquet(events_path)
    )
    return normalize_ts(raw)


def daily_user_metrics_stream(events: DataFrame, watermark: str = "7 days") -> DataFrame:
    """Watermarked tumbling-daily per-user aggregation — the streaming
    form of the fact's event-side metrics (sessions, purchases)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("day"), F.col("user_id").alias("cust_id"))
        .agg(
            F.count(F.lit(1)).alias("sessions"),
            F.count_if(F.col("event_type") == "purchase").alias("purchases"),
            F.sum(money("value")).cast("double").alias("total_value"),
        )
        .select(
            F.col("day.start").cast("date").alias("dt"),
            "cust_id",
            "sessions",
            "purchases",
            "total_value",
        )
    )


def dedup_events_stream(events: DataFrame, watermark: str = "7 days") -> DataFrame:
    """Streaming exact dedup: turn an at-least-once event feed into an
    exactly-once one by keeping the first copy of each ``event_id`` seen
    within the watermark horizon (``dropDuplicatesWithinWatermark``).

    State is one key per event_id inside the horizon, expired by the
    same 7-day watermark that bounds late data — a redelivery older than
    the horizon is by contract already outside the merge window. First
    copies emit immediately in append mode; redeliveries are dropped.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def sliding_type_metrics_stream(
    events: DataFrame, watermark: str = "7 days"
) -> DataFrame:
    """Watermarked SLIDING-window aggregation: trailing-7-day metrics per
    event type, advancing daily — the rolling-horizon view of the same
    late-data contract (each event contributes to 7 overlapping
    windows). Spark maintains one state row per (window, type); the
    watermark expires windows more than 7 days behind the stream."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "7 days", "1 day").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(money("value")).cast("double").alias("total_value"),
        )
        .select(
            F.col("win.start").cast("date").alias("win_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def run_stream_to_merge(
    spark: SparkSession,
    events_path: str,
    target_path: str,
    checkpoint_path: str,
    watermark: str = "7 days",
    agg_builder=None,
    keys: tuple[str, ...] = ("dt", "cust_id"),
    partition_col: str = "dt",
) -> PartitionOverwriteMergeWriter:
    """Drive the stream to completion (for file drops available now) and
    MERGE each micro-batch's updated groups into the target fact.

    Update output mode emits refreshed key rows per batch; foreachBatch
    overwrites exactly the touched partitions — the streaming equivalent
    of the reference's incremental merge. The checkpoint gives
    exactly-once across restarts. ``agg_builder`` defaults to the daily
    per-user aggregation; the sliding-window variant passes its own.

    Each micro-batch is evaluated once: ``merge_upsert`` pins it and
    returns without writing when the pin is empty (the no-data batches
    that advance the watermark), so there is no ``isEmpty`` here — it
    would re-run the stateful plan. Each touched partition is rewritten
    as one file, so the target does not gather a file per task per
    batch.
    """
    writer = PartitionOverwriteMergeWriter(target_path, partition_col=partition_col)
    build = agg_builder or daily_user_metrics_stream
    agg = build(read_events_stream(spark, events_path), watermark=watermark)

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # update mode emits only the CHANGED key groups — merge at key
        # level so unchanged groups in a touched partition survive
        writer.merge_upsert(batch_df.sparkSession, batch_df, list(keys))

    query = (
        agg.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(merge_batch)
        .start()
    )
    query.processAllAvailable()
    query.stop()
    return writer


_STREAM_ORACLE = """
    SELECT CAST(ts AS DATE) AS dt,
           user_id AS cust_id,
           CAST(COUNT(*) AS BIGINT) AS sessions,
           CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchases,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
"""


@demo_query("q_stream_daily", oracle=_STREAM_ORACLE)
def q_stream_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9: the full streaming pipeline driven to completion over the
    events table as one file drop. Because the watermark only drops data
    later than 7 days *behind already-seen data*, a single complete drop
    aggregates everything — so the merged fact must equal the plain batch
    aggregation, which is the DuckDB oracle. A streaming operator with an
    exact SQL oracle."""
    import os
    import shutil

    from ..functions.scratch import scratch_dir

    work = scratch_dir("spark_graft_stream", unique=True)
    drops = os.path.join(work, "drops")
    os.makedirs(drops)
    shutil.copy(
        os.path.join(sf_dir, "events.parquet"), os.path.join(drops, "events.parquet")
    )
    writer = run_stream_to_merge(
        spark,
        drops,
        target_path=os.path.join(work, "fact"),
        checkpoint_path=os.path.join(work, "ckpt"),
    )
    return writer.read(spark).select(
        F.col("dt").cast("date").alias("dt"),
        "cust_id",
        "sessions",
        "purchases",
        "total_value",
    )


_SLIDING_ORACLE = """
    SELECT CAST(CAST(ts AS DATE) - CAST(t.k AS INTEGER) AS DATE) AS win_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events CROSS JOIN range(0, 7) t(k)
    GROUP BY 1, 2
"""


@demo_query("q_stream_sliding", oracle=_SLIDING_ORACLE)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 sliding-window streaming: trailing-7-day per-type metrics
    advancing daily, driven to completion over the events table as one
    file drop and merged via foreachBatch.

    Exact SQL oracle: an event at timestamp t falls in the 7 day-aligned
    windows starting date(t)-6 .. date(t), so the batch equivalent is a
    7-row fanout per event (CROSS JOIN range(0,7)) aggregated by
    (window_start, type) — same decimal-exact value sums.
    """
    import os
    import shutil

    from ..functions.scratch import scratch_dir

    work = scratch_dir("spark_graft_stream_sliding", unique=True)
    drops = os.path.join(work, "drops")
    os.makedirs(drops)
    shutil.copy(
        os.path.join(sf_dir, "events.parquet"), os.path.join(drops, "events.parquet")
    )
    writer = run_stream_to_merge(
        spark,
        drops,
        target_path=os.path.join(work, "fact"),
        checkpoint_path=os.path.join(work, "ckpt"),
        agg_builder=sliding_type_metrics_stream,
        keys=("win_start", "event_type"),
        partition_col="win_start",
    )
    return writer.read(spark).select(
        F.col("win_start").cast("date").alias("win_start"),
        "event_type",
        "n_events",
        "total_value",
    )


def attribution_join_stream(
    events: DataFrame,
    lookback: str = "1 hour",
    watermark: str = "7 days",
) -> DataFrame:
    """Watermarked stream-stream self-join: each purchase matched to the
    same user's view events within a trailing ``lookback`` interval — the
    streaming attribution shape (which ad/view gets credit for a sale).

    Both sides carry a watermark and the join condition bounds view_ts to
    [purchase_ts - lookback, purchase_ts], so Spark can expire join state
    as the watermark advances: state per side is only the lookback + late
    horizon, not the whole stream. Inner joins emit matches immediately
    in append mode; nothing waits on watermark advancement.
    """
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", watermark)
    )
    joined = purchases.join(
        views,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("view_ts") <= F.col("purchase_ts"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {lookback}")),
        "inner",
    )
    return joined.select(
        "purchase_id",
        F.col("p_user").alias("user_id"),
        "purchase_ts",
        "view_id",
        "view_ts",
        ((F.unix_micros("purchase_ts") - F.unix_micros("view_ts")) / 1_000_000)
        .cast("bigint")
        .alias("gap_s"),
    )


_JOIN_ORACLE = """
    SELECT p.event_id AS purchase_id,
           p.user_id,
           p.ts AS purchase_ts,
           v.event_id AS view_id,
           v.ts AS view_ts,
           CAST(floor((epoch_us(p.ts) - epoch_us(v.ts)) / 1000000) AS BIGINT) AS gap_s
    FROM events p JOIN events v
      ON p.user_id = v.user_id
     AND v.ts <= p.ts
     AND v.ts >= p.ts - INTERVAL 24 HOURS
    WHERE p.event_type = 'purchase' AND v.event_type = 'view'
"""


@demo_query("q_stream_join", oracle=_JOIN_ORACLE)
def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 stream-stream interval join driven to completion over the
    events table as one file drop, collected through an append-mode
    parquet sink. A single complete drop means no match is ever dropped
    by the watermark, so the result must equal the batch interval join —
    the DuckDB oracle."""
    import os
    import shutil

    from ..functions.scratch import scratch_dir

    work = scratch_dir("spark_graft_stream_join", unique=True)
    drops = os.path.join(work, "drops")
    os.makedirs(drops)
    shutil.copy(
        os.path.join(sf_dir, "events.parquet"), os.path.join(drops, "events.parquet")
    )
    out = os.path.join(work, "matches")
    joined = attribution_join_stream(
        read_events_stream(spark, drops), lookback="24 hours"
    )
    query = (
        joined.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .start()
    )
    query.processAllAvailable()
    query.stop()
    return spark.read.parquet(out)


def enrich_stream_static(
    events: DataFrame, dim: DataFrame, watermark: str = "7 days"
) -> DataFrame:
    """Stream-static enrichment: the event stream joined to a batch
    dimension (here: customers) with a per-segment windowed rollup.

    The static side is re-planned per micro-batch (picking up dimension
    updates between batches) and needs no watermark — only stream-stream
    joins hold join state. Spark broadcasts the dimension when it fits,
    so the stream side never shuffles for the join; the only stateful op
    is the windowed aggregation."""
    enriched = events.join(
        dim.select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
        ),
        "user_id",
    )
    return (
        enriched.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("day"), "segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(money("value")).cast("double").alias("total_value"),
        )
        .select(
            F.col("day.start").cast("date").alias("dt"),
            "segment",
            "n_events",
            "total_value",
        )
    )


_ENRICH_ORACLE = """
    SELECT CAST(ts AS DATE) AS dt,
           c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY 1, 2
"""


@demo_query("q_stream_enrich", oracle=_ENRICH_ORACLE)
def q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 stream-static join driven to completion over one file drop and
    merged via foreachBatch; equals the batch join+rollup (the oracle)."""
    import os
    import shutil

    from ..catalog import load_table
    from ..functions.scratch import scratch_dir

    work = scratch_dir("spark_graft_stream_enrich", unique=True)
    drops = os.path.join(work, "drops")
    os.makedirs(drops)
    shutil.copy(
        os.path.join(sf_dir, "events.parquet"), os.path.join(drops, "events.parquet")
    )
    dim = load_table(spark, sf_dir, "customer")
    writer = run_stream_to_merge(
        spark,
        drops,
        target_path=os.path.join(work, "fact"),
        checkpoint_path=os.path.join(work, "ckpt"),
        agg_builder=lambda ev, watermark: enrich_stream_static(
            ev, dim, watermark=watermark
        ),
        keys=("dt", "segment"),
        partition_col="dt",
    )
    return writer.read(spark).select(
        F.col("dt").cast("date").alias("dt"),
        "segment",
        "n_events",
        "total_value",
    )


_DEDUP_ORACLE = """
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1
"""


@demo_query("q_stream_dedup", oracle=_DEDUP_ORACLE)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 streaming exact dedup: the events file delivered TWICE (an
    at-least-once redelivery) through ``dropDuplicatesWithinWatermark``
    must emit each event_id exactly once — so the per-type counts of the
    deduped stream equal the plain batch counts over the single copy
    (the DuckDB oracle). State is one key per event_id inside the 7-day
    horizon, expired by the watermark."""
    import os
    import shutil

    from ..functions.scratch import scratch_dir

    work = scratch_dir("spark_graft_stream_dedup", unique=True)
    drops = os.path.join(work, "drops")
    os.makedirs(drops)
    src = os.path.join(sf_dir, "events.parquet")
    shutil.copy(src, os.path.join(drops, "b1.parquet"))
    shutil.copy(src, os.path.join(drops, "b2.parquet"))  # redelivery
    out = os.path.join(work, "deduped")
    query = (
        dedup_events_stream(read_events_stream(spark, drops))
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .start()
    )
    query.processAllAvailable()
    query.stop()
    return (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


_STREAM_QUAR_ORACLE = """
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM documents WHERE doc_id < 200 AND doc_id % 5 <> 0
    GROUP BY lang
    UNION ALL
    SELECT '__quarantined__' AS lang, CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM documents WHERE doc_id < 200 AND doc_id % 5 = 0
"""


@demo_query("q_stream_quarantine", oracle=_STREAM_QUAR_ORACLE)
def q_stream_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corrupt-record quarantine: a JSON-lines drop directory
    (two micro-batch files, every 5th record malformed by a
    deterministic rule) is read PERMISSIVE with a corrupt-record
    column; ``foreachBatch`` routes each micro-batch to TWO sinks —
    clean rows append to the lake table, corrupt raw lines append to a
    quarantine table for replay. The multi-sink routing is the pattern
    exactly-once ingestion jobs use when one stream must feed both the
    table and a dead-letter queue.

    Nothing is dropped silently: clean + quarantined = staged, and the
    oracle pins both from the same corruption rule. State is zero (no
    aggregation in the stream); throughput is bounded by the JSON parse,
    which is per-batch parallel over the file splits."""
    import os

    from ..functions.scratch import scratch_dir
    from ..sources.readers import CORRUPT_COL, split_corrupt
    from ..catalog import load_table
    from pyspark.sql import types as T

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "lang")
    )
    work = scratch_dir("spark_graft_stream_quar", unique=True)
    drops = os.path.join(work, "drops")
    os.makedirs(drops)
    rows = docs.collect()  # bounded slice: 200 rows staged driver-side
    half = len(rows) // 2
    for bi, chunk in enumerate((rows[:half], rows[half:])):
        with open(os.path.join(drops, f"b{bi}.jsonl"), "w") as fh:
            for row in chunk:
                if row["doc_id"] % 5 == 0:
                    fh.write(
                        '{"doc_id": %d, "lang": oops-not-json\n' % row["doc_id"]
                    )
                else:
                    fh.write(
                        '{"doc_id": %d, "lang": "%s"}\n'
                        % (row["doc_id"], row["lang"])
                    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField(CORRUPT_COL, T.StringType()),
        ]
    )
    raw = (
        spark.readStream.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .option("maxFilesPerTrigger", 1)  # two real micro-batches
        .json(drops)
    )
    clean_out = os.path.join(work, "clean")
    quar_out = os.path.join(work, "quarantine")

    def route(batch_df: DataFrame, _batch_id: int) -> None:
        clean, bad = split_corrupt(batch_df)
        clean.write.mode("append").parquet(clean_out)
        bad.select(CORRUPT_COL).write.mode("append").parquet(quar_out)

    query = (
        raw.writeStream.foreachBatch(route)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .start()
    )
    query.processAllAvailable()
    query.stop()
    per_lang = (
        spark.read.parquet(clean_out)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    quarantined = spark.read.parquet(quar_out).agg(
        F.lit("__quarantined__").alias("lang"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return per_lang.unionByName(quarantined)

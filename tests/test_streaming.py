"""Streaming twin tests (SURVEY.md §7.2 M6a): streaming == batch parity,
late-data merge healing, and watermark-horizon behavior."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def batch_daily_user_metrics(spark, events_path):
    from aws_lakehouse_project_spark.catalog import normalize_ts

    ev = normalize_ts(spark.read.parquet(events_path))
    return (
        ev.groupBy(
            F.col("ts").cast("date").alias("dt"), F.col("user_id").alias("cust_id")
        )
        .agg(
            F.count(F.lit(1)).alias("sessions"),
            F.count_if(F.col("event_type") == "purchase").alias("purchases"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total_value"),
        )
    )


def canon(df):
    return sorted(
        (str(r["dt"]), r["cust_id"], r["sessions"], r["purchases"], round(r["total_value"], 6))
        for r in df.collect()
    )


def test_stream_equals_batch(spark, tmp_path):
    """Driving the whole events table through the watermarked streaming
    pipeline must produce exactly the batch aggregation (no late rows
    beyond the watermark exist within one file)."""
    import shutil

    from aws_lakehouse_project_spark.streaming.events_stream import run_stream_to_merge

    events_path = os.path.join(SF_DIR, "events.parquet")
    # the file source wants a drop DIRECTORY — stage the table file in one
    drop_dir = tmp_path / "drops"
    drop_dir.mkdir()
    shutil.copy(events_path, drop_dir / "events.parquet")
    writer = run_stream_to_merge(
        spark,
        str(drop_dir),
        target_path=str(tmp_path / "fact"),
        checkpoint_path=str(tmp_path / "ckpt"),
    )
    got = canon(
        writer.read(spark).select("dt", "cust_id", "sessions", "purchases", "total_value")
    )
    want = canon(batch_daily_user_metrics(spark, events_path))
    assert got == want
    assert len(got) > 0


def test_stream_incremental_file_drops(spark, tmp_path):
    """Two file drops arriving in sequence: the second batch re-merges
    its days (update mode), final state equals batch over the union —
    the reference's late-data contract, streaming-shaped."""
    from aws_lakehouse_project_spark.streaming.events_stream import run_stream_to_merge

    from aws_lakehouse_project_spark.catalog import normalize_ts

    src = normalize_ts(spark.read.parquet(os.path.join(SF_DIR, "events.parquet")))
    drop_dir = tmp_path / "drops"
    # events span 2024-01-01..01-30. Drop 1 holds everything before
    # 01-20 except some held-back rows from 01-15..01-19; drop 2 delivers
    # the rest. The held-back rows are "late" for days drop 1 already
    # aggregated but INSIDE the 7-day watermark (01-19 max → 01-12), so
    # the stream must heal them — rows later than the watermark would be
    # dropped by design (that's the reference's 7-day contract).
    day20 = F.lit("2024-01-20").cast("timestamp")
    day15 = F.lit("2024-01-15").cast("timestamp")
    held_back = (F.col("event_id") % 5 == 0) & (F.col("ts") >= day15)
    early = src.filter((F.col("ts") < day20) & ~held_back)
    late = src.join(early, "event_id", "left_anti")
    early.write.parquet(str(drop_dir / "batch1.parquet"))

    writer = run_stream_to_merge(
        spark,
        str(drop_dir / "*"),
        target_path=str(tmp_path / "fact"),
        checkpoint_path=str(tmp_path / "ckpt"),
    )
    late.write.parquet(str(drop_dir / "batch2.parquet"))
    writer2 = run_stream_to_merge(
        spark,
        str(drop_dir / "*"),
        target_path=str(tmp_path / "fact"),
        checkpoint_path=str(tmp_path / "ckpt"),  # same checkpoint: resumes
    )
    got = canon(
        writer2.read(spark).select("dt", "cust_id", "sessions", "purchases", "total_value")
    )
    want = canon(batch_daily_user_metrics(spark, os.path.join(SF_DIR, "events.parquet")))
    assert got == want
    # every micro-batch rewrote its touched days as one file each
    fact = tmp_path / "fact"
    per_day = {d.name: len(list(d.glob("*.parquet"))) for d in fact.glob("dt=*")}
    assert per_day and set(per_day.values()) == {1}, per_day


def test_multimodal_features(spark):
    """Binary-column plumbing: mapInPandas features are deterministic
    and shaped correctly."""
    from aws_lakehouse_project_spark.catalog import load_table
    from aws_lakehouse_project_spark.operators.multimodal import (
        FEATURE_DIM,
        documents_as_media,
        extract_features,
    )

    media = documents_as_media(load_table(spark, SF_DIR, "documents")).limit(50)
    feats = extract_features(media).collect()
    assert len(feats) == 50
    for r in feats:
        assert len(r["features"]) == FEATURE_DIM
        assert abs(sum(r["features"]) - 1.0) < 1e-9  # normalized histogram
        assert r["n_bytes"] > 0

    # determinism across runs
    a = {r["media_id"]: r["features"] for r in feats}
    b = {
        r["media_id"]: r["features"]
        for r in extract_features(media).collect()
    }
    assert a == b


def test_decode_stub_raises(spark):
    from aws_lakehouse_project_spark.operators.multimodal import decode_image
    import pytest

    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")


def test_stream_join_equals_batch_interval_join(spark, tmp_path):
    """Stream-stream attribution join over one complete drop must equal
    the batch interval join (inner join, nothing watermark-dropped)."""
    import shutil

    from aws_lakehouse_project_spark.catalog import load_table
    from aws_lakehouse_project_spark.streaming.events_stream import (
        attribution_join_stream,
        read_events_stream,
    )

    drop_dir = tmp_path / "drops"
    drop_dir.mkdir()
    shutil.copy(os.path.join(SF_DIR, "events.parquet"), drop_dir / "events.parquet")

    out = str(tmp_path / "matches")
    q = (
        attribution_join_stream(
            read_events_stream(spark, str(drop_dir)), lookback="24 hours"
        )
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.read.parquet(out)

    ev = load_table(spark, SF_DIR, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"),
    )
    want = (
        p.join(
            v,
            (p.user_id == v.v_user)
            & (F.col("view_ts") <= F.col("purchase_ts"))
            & (F.col("view_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 24 hours")),
        )
        .select(
            "purchase_id",
            "user_id",
            "purchase_ts",
            "view_id",
            "view_ts",
            (
                (F.unix_micros("purchase_ts") - F.unix_micros("view_ts")) / 1_000_000
            )
            .cast("bigint")
            .alias("gap_s"),
        )
    )
    got_rows = sorted((tuple(r) for r in got.select(*want.columns).collect()))
    want_rows = sorted((tuple(r) for r in want.collect()))
    assert len(got_rows) > 0
    assert got_rows == want_rows


def test_stream_merge_skips_null_ts_events(spark, tmp_path):
    """An event with a NULL ``ts`` fits no daily window, so q_stream_merge
    stages it into no drop and its fact must equal the batch oracle over
    the events that carry a time. Runs on a copy of the testdata with one
    NULL-``ts`` event appended."""
    import shutil

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from aws_lakehouse_project_spark.operators.lakehouse import (
        STREAM_MERGE_ORACLE,
        q_stream_merge,
    )
    from tests.test_oracle_diff import canon as canon_rows

    sf = tmp_path / "sf"
    shutil.copytree(SF_DIR, sf)
    events = pq.read_table(sf / "events.parquet")
    no_time = pa.Table.from_pylist(
        [
            {
                "event_id": 10**9,
                "ts": None,
                "user_id": 13,
                "event_type": "purchase",
                "value": 5.0,
                "props": '{"k": 1}',
            }
        ],
        schema=events.schema,
    )
    pq.write_table(pa.concat_tables([events, no_time]), sf / "events.parquet")

    got = q_stream_merge(spark, str(sf))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet' "
        "WHERE ts IS NOT NULL"
    )
    res = con.execute(STREAM_MERGE_ORACLE)
    want_cols = [d[0] for d in res.description]
    want = canon_rows(res.fetchall(), want_cols)
    con.close()
    assert canon_rows([tuple(r) for r in got.collect()], got.columns) == want

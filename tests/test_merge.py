"""Incremental-merge tests (SURVEY.md §7.2 M4): the dbt
incremental/merge contract — full build on first run, horizon recompute
after, idempotent re-runs, late-data healing inside the horizon."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_lakehouse_project_spark.plans.merge import (
    AntiJoinMergeWriter,
    PartitionOverwriteMergeWriter,
    incremental_merge,
    table_exists,
)


def daily(df):
    return df.groupBy("store_id", "dt").agg(
        F.sum("v").cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


@pytest.fixture()
def source(spark):
    rows = [
        ("s1", "2024-06-01", 10.0),
        ("s1", "2024-06-02", 20.0),
        ("s2", "2024-06-02", 30.0),
        ("s2", "2024-06-03", 40.0),
    ]
    return spark.createDataFrame(rows, "store_id STRING, dt STRING, v DOUBLE")


def collect_fact(spark, writer):
    # partition-column type inference reads dt back as DATE — normalize
    # to string for comparisons
    df = writer.read(spark).select("store_id", "dt", "revenue", "n")
    return sorted((r["store_id"], str(r["dt"]), r["revenue"], r["n"]) for r in df.collect())


def test_full_then_merge_then_idempotent(spark, source, tmp_path):
    path = str(tmp_path / "fact")
    writer = PartitionOverwriteMergeWriter(path, partition_col="dt")
    assert not table_exists(path)

    horizon = "2024-06-02"
    compute_full = lambda: daily(source)
    compute_horizon = lambda: daily(source.filter(F.col("dt") >= horizon))

    incremental_merge(spark, writer, compute_full, compute_horizon)
    first = collect_fact(spark, writer)
    assert len(first) == 4

    # second run takes the merge branch; result must be unchanged
    incremental_merge(spark, writer, compute_full, compute_horizon)
    assert collect_fact(spark, writer) == first


def test_merge_heals_late_data(spark, source, tmp_path):
    """A row arriving late inside the horizon updates its partition;
    partitions outside the horizon are untouched — exactly the
    reference's 7-day late-data contract (fct sql :34-36)."""
    path = str(tmp_path / "fact")
    writer = PartitionOverwriteMergeWriter(path, partition_col="dt")
    horizon = "2024-06-02"

    stale = source.filter(~((F.col("store_id") == "s2") & (F.col("dt") == "2024-06-02")))
    writer.write_full(daily(stale))
    before = dict(
        ((r["store_id"], str(r["dt"])), (r["revenue"], r["n"]))
        for r in writer.read(spark).collect()
    )
    assert ("s2", "2024-06-02") not in before

    writer.merge(daily(source.filter(F.col("dt") >= horizon)))
    after = dict(
        ((r["store_id"], str(r["dt"])), (r["revenue"], r["n"]))
        for r in writer.read(spark).collect()
    )
    assert after[("s2", "2024-06-02")] == (30.0, 1)
    assert after[("s1", "2024-06-01")] == before[("s1", "2024-06-01")]


def test_merge_preserves_untouched_partitions(spark, source, tmp_path):
    """Dynamic overwrite must only replace partitions present in the
    fresh frame — 2024-06-01 survives a merge that excludes it."""
    path = str(tmp_path / "fact")
    writer = PartitionOverwriteMergeWriter(path, partition_col="dt")
    writer.write_full(daily(source))
    writer.merge(daily(source.filter(F.col("dt") == "2024-06-03")))
    dts = {str(r["dt"]) for r in writer.read(spark).select("dt").distinct().collect()}
    assert dts == {"2024-06-01", "2024-06-02", "2024-06-03"}


def test_anti_join_merge(spark, source, tmp_path):
    """Key-level upsert: matched keys replaced, unmatched kept, new
    inserted (Delta MERGE fallback shape)."""
    path = str(tmp_path / "kv")
    writer = AntiJoinMergeWriter(path, keys=["store_id", "dt"])
    writer.write_full(daily(source))

    updates = spark.createDataFrame(
        [("s1", "2024-06-02", 99.0, 9), ("s3", "2024-06-04", 7.0, 1)],
        "store_id STRING, dt STRING, revenue DOUBLE, n BIGINT",
    )
    writer.merge(spark, updates)
    got = dict(
        ((r["store_id"], r["dt"]), (r["revenue"], r["n"]))
        for r in writer.read(spark).collect()
    )
    assert got[("s1", "2024-06-02")] == (99.0, 9)  # replaced
    assert got[("s3", "2024-06-04")] == (7.0, 1)  # inserted
    assert got[("s1", "2024-06-01")] == (10.0, 1)  # kept
    assert len(got) == 5


def test_merge_apply_deletes_including_emptied_partitions(spark, tmp_path):
    """Full MERGE semantics: upserts replace/insert, deletes remove —
    and a partition whose EVERY row is deleted must disappear (dynamic
    partition overwrite alone would silently keep its old files)."""
    from aws_lakehouse_project_spark.plans.merge import (
        PartitionOverwriteMergeWriter,
        merge_apply,
    )

    writer = PartitionOverwriteMergeWriter(str(tmp_path / "t"), partition_col="dt")
    base = spark.createDataFrame(
        [(1, 10.0, "d1"), (2, 20.0, "d1"), (3, 30.0, "d2"), (4, 40.0, "d3")],
        "k int, v double, dt string",
    )
    writer.write_full(base)

    changes = spark.createDataFrame(
        [
            (1, 11.0, "d1", "upsert"),   # update in d1
            (2, 0.0, "d1", "delete"),    # delete in d1 (partition survives)
            (3, 0.0, "d2", "delete"),    # d2 fully emptied -> must vanish
            (5, 50.0, "d1", "upsert"),   # insert into d1
        ],
        "k int, v double, dt string, op string",
    )
    merge_apply(writer, spark, changes, keys=["k", "dt"])

    got = {(r["k"], r["v"], r["dt"]) for r in writer.read(spark).collect()}
    assert got == {
        (1, 11.0, "d1"),   # updated
        (5, 50.0, "d1"),   # inserted
        (4, 40.0, "d3"),   # untouched partition intact
    }


def test_table_diff_roundtrip_reproduces_new(spark, tmp_path):
    """CDF contract: applying table_diff(old, new) onto old yields
    exactly new — inserts, updates, deletes, emptied partitions and all."""
    from aws_lakehouse_project_spark.plans.merge import (
        PartitionOverwriteMergeWriter,
        merge_apply,
        table_diff,
    )

    old = spark.createDataFrame(
        [(1, 10.0, "d1"), (2, 20.0, "d1"), (3, 30.0, "d2"), (4, 40.0, "d3")],
        "k int, v double, dt string",
    )
    new = spark.createDataFrame(
        [
            (1, 10.0, "d1"),   # unchanged -> no change row
            (2, 25.0, "d1"),   # updated
            (4, 40.0, "d3"),   # unchanged
            (5, 50.0, "d4"),   # inserted (new partition)
            # k=3 deleted -> d2 emptied
        ],
        "k int, v double, dt string",
    )
    diff = table_diff(old, new, keys=["k", "dt"])
    ops = {(r["k"], r["op"]) for r in diff.collect()}
    assert ops == {(2, "upsert"), (5, "upsert"), (3, "delete")}

    writer = PartitionOverwriteMergeWriter(str(tmp_path / "t"), partition_col="dt")
    writer.write_full(old)
    merge_apply(writer, spark, diff.select("k", "v", "dt", "op"), keys=["k", "dt"])
    got = {(r["k"], r["v"], r["dt"]) for r in writer.read(spark).collect()}
    want = {(r["k"], r["v"], r["dt"]) for r in new.collect()}
    assert got == want


def test_merge_survives_static_session_overwrite_mode(spark, tmp_path):
    """The writers must not depend on session-level
    partitionOverwriteMode=dynamic: with the session forced to 'static'
    (Spark's default), a key-level merge must still leave untouched
    partitions intact (per-write option regression guard)."""
    from aws_lakehouse_project_spark.plans.merge import (
        PartitionOverwriteMergeWriter,
        merge_apply,
    )

    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        writer = PartitionOverwriteMergeWriter(str(tmp_path / "t"), partition_col="dt")
        writer.write_full(
            spark.createDataFrame(
                [(1, 1.0, "d1"), (2, 2.0, "d2")], "k int, v double, dt string"
            )
        )
        changes = spark.createDataFrame(
            [(1, 9.0, "d1", "upsert")], "k int, v double, dt string, op string"
        )
        merge_apply(writer, spark, changes, keys=["k", "dt"])
        got = {(r["k"], r["v"], r["dt"]) for r in writer.read(spark).collect()}
        assert got == {(1, 9.0, "d1"), (2, 2.0, "d2")}  # d2 must survive
    finally:
        spark.conf.set(key, before)


def test_backfill_repairs_missing_partitions_idempotently(spark, tmp_path):
    """Backfilling a list of missing days fills exactly those partitions;
    re-running the same backfill is a no-op byte-wise (same contents)."""
    from aws_lakehouse_project_spark.plans.merge import (
        PartitionOverwriteMergeWriter,
        backfill,
    )

    source = spark.createDataFrame(
        [(k, float(k), f"d{k % 4}") for k in range(40)], "k int, v double, dt string"
    )
    writer = PartitionOverwriteMergeWriter(str(tmp_path / "t"), partition_col="dt")
    # initial load is missing d2 and d3
    writer.write_full(source.filter("dt IN ('d0','d1')"))

    compute = lambda day: source.filter(source.dt == day)  # noqa: E731
    n = backfill(writer, compute, ["d2", "d3"])
    assert n == 2
    got = {(r["k"], r["dt"]) for r in writer.read(spark).collect()}
    want = {(r["k"], r["dt"]) for r in source.collect()}
    assert got == want

    backfill(writer, compute, ["d2", "d3"])  # idempotent re-run
    again = {(r["k"], r["dt"]) for r in writer.read(spark).collect()}
    assert again == want


def test_write_full_after_delete_everything_merge(spark, tmp_path):
    """A merge that deletes EVERY row leaves a flat empty table; the
    next write_full must fully replace it — static overwrite clears the
    root-level flat files, so partition discovery on the re-read never
    sees 'conflicting directory structures'."""
    from aws_lakehouse_project_spark.plans.merge import (
        PartitionOverwriteMergeWriter,
        merge_apply,
    )

    writer = PartitionOverwriteMergeWriter(str(tmp_path / "t"), partition_col="dt")
    base = spark.createDataFrame(
        [(1, 10.0, "d1"), (2, 20.0, "d2")], "k int, v double, dt string"
    )
    writer.write_full(base)
    deletes = spark.createDataFrame(
        [(1, 0.0, "d1", "delete"), (2, 0.0, "d2", "delete")],
        "k int, v double, dt string, op string",
    )
    merge_apply(writer, spark, deletes, keys=["k", "dt"])
    assert writer.read(spark).count() == 0  # valid empty table

    writer.write_full(base)
    got = {(r["k"], r["v"], r["dt"]) for r in writer.read(spark).collect()}
    assert got == {(1, 10.0, "d1"), (2, 20.0, "d2")}


def test_write_full_replaces_stale_partitions(spark, tmp_path):
    """write_full is a FULL refresh: partitions absent from the new
    frame must not survive from the old table (dynamic overwrite would
    keep them; write_full forces static)."""
    from aws_lakehouse_project_spark.plans.merge import PartitionOverwriteMergeWriter

    writer = PartitionOverwriteMergeWriter(str(tmp_path / "t"), partition_col="dt")
    writer.write_full(
        spark.createDataFrame(
            [(1, 1.0, "d1"), (2, 2.0, "d2")], "k int, v double, dt string"
        )
    )
    writer.write_full(
        spark.createDataFrame([(3, 3.0, "d3")], "k int, v double, dt string")
    )
    got = {(r["k"], r["dt"]) for r in writer.read(spark).collect()}
    assert got == {(3, "d3")}


def test_touched_partition_guard_caps_key_like_partition_col(spark, tmp_path):
    """A change feed whose partition_col is key-like (more distinct
    values than the cap) must fail loudly BEFORE the driver-side list
    collects — the mis-partitioned-100TB degradation mode (VERDICT r6
    item 8), not a silent driver OOM."""
    from aws_lakehouse_project_spark.plans.merge import (
        collect_touched_partitions,
    )

    wide = spark.range(50).select(
        F.concat(F.lit("k"), F.col("id")).alias("dt"),
        F.lit(1.0).alias("v"),
    )
    with pytest.raises(ValueError, match="touches > 8 distinct"):
        collect_touched_partitions(wide, "dt", cap=8)

    # under the cap: returns the full list untruncated
    vals = collect_touched_partitions(wide, "dt", cap=50)
    assert len(vals) == 50

    # and the guard is wired through merge_upsert: seed a table, then
    # merge an over-wide update set against a tiny cap
    from aws_lakehouse_project_spark.plans import merge as merge_mod

    writer = PartitionOverwriteMergeWriter(str(tmp_path / "fact"))
    seed = spark.createDataFrame(
        [("s1", "2024-06-01", 1.0)], "store_id STRING, dt STRING, v DOUBLE"
    )
    writer.write_full(seed)
    old_cap = merge_mod.MAX_TOUCHED_PARTITIONS
    merge_mod.MAX_TOUCHED_PARTITIONS = 8
    try:
        with pytest.raises(ValueError, match="partition_col"):
            writer.merge_upsert(
                spark,
                wide.select(F.lit("s1").alias("store_id"), "dt", "v"),
                keys=["store_id", "dt"],
            )
    finally:
        merge_mod.MAX_TOUCHED_PARTITIONS = old_cap


def _files_per_partition(path):
    """{``dt=`` directory name: number of parquet files in it}."""
    import os

    return {
        d: sum(f.endswith(".parquet") for f in os.listdir(os.path.join(path, d)))
        for d in os.listdir(path)
        if d.startswith("dt=")
    }


def _table_state(path):
    """{relative path: mtime_ns} of every file under ``path``."""
    import os

    return {
        os.path.relpath(os.path.join(d, f), path): os.stat(os.path.join(d, f)).st_mtime_ns
        for d, _, files in os.walk(path)
        for f in files
    }


def test_every_write_leaves_one_file_per_partition(spark, tmp_path):
    """Each partitioned write (write_full, merge, merge_upsert,
    merge_apply, backfill) rewrites a touched partition as ONE file, not
    one per task, however the source is split."""
    from aws_lakehouse_project_spark.plans.merge import backfill, merge_apply

    path = str(tmp_path / "t")
    writer = PartitionOverwriteMergeWriter(path, partition_col="dt")
    rows = [(k, float(k), f"d{k % 3}") for k in range(24)]
    base = spark.createDataFrame(rows, "k int, v double, dt string").repartition(4)

    def check(n_parts):
        assert _files_per_partition(path) == {f"dt=d{i}": 1 for i in range(n_parts)}

    writer.write_full(base)
    check(3)
    writer.merge(base.filter("dt = 'd0'").repartition(4))
    check(3)
    upd = spark.createDataFrame(
        [(k, -1.0, f"d{k % 4}") for k in range(0, 24, 5)], "k int, v double, dt string"
    ).repartition(4)
    writer.merge_upsert(spark, upd, keys=["k", "dt"])
    check(4)
    changes = spark.createDataFrame(
        [(k, 9.0, f"d{k % 3}", "upsert" if k % 2 else "delete") for k in range(12)],
        "k int, v double, dt string, op string",
    ).repartition(4)
    merge_apply(writer, spark, changes, keys=["k", "dt"])
    check(4)
    n = backfill(writer, lambda d: base.filter(base.dt == d).repartition(4), ["d1", "d2"])
    assert n == 2
    check(4)
    got = {(r["k"], r["dt"]) for r in writer.read(spark).collect()}
    assert {(k, "d1") for k in range(1, 24, 3)} <= got


def test_merge_source_is_evaluated_once(spark, tmp_path):
    """merge_upsert and merge_apply pin their source: a counting UDF on
    the key runs once per source row. An empty source writes nothing:
    no table is created and an existing one is left as it was."""
    from aws_lakehouse_project_spark.plans.merge import merge_apply

    def counted(df):
        acc = spark.sparkContext.accumulator(0)

        @F.udf("int")
        def tick(k):
            acc.add(1)
            return k

        return df.withColumn("k", tick("k")), acc

    path = str(tmp_path / "t")
    writer = PartitionOverwriteMergeWriter(path, partition_col="dt")
    writer.write_full(
        spark.createDataFrame(
            [(k, "old", f"d{k % 2}") for k in range(10)], "k int, v string, dt string"
        )
    )
    upd, acc = counted(
        spark.createDataFrame(
            [(k, "new", f"d{k % 2}") for k in range(5, 15)], "k int, v string, dt string"
        )
    )
    writer.merge_upsert(spark, upd, keys=["k", "dt"])
    assert acc.value == 10
    got = {r["k"]: r["v"] for r in writer.read(spark).collect()}
    assert got == {k: "old" if k < 5 else "new" for k in range(15)}

    changes, acc = counted(
        spark.createDataFrame(
            [(0, "up", "d0", "upsert"), (20, "ins", "d0", "upsert"), (7, None, "d1", "delete")],
            "k int, v string, dt string, op string",
        )
    )
    merge_apply(writer, spark, changes, keys=["k", "dt"])
    assert acc.value == 3
    got = {r["k"]: r["v"] for r in writer.read(spark).collect()}
    assert got[0] == "up" and got[20] == "ins" and 7 not in got

    # an empty source: no write, no table created, the table unchanged
    empty = spark.createDataFrame([], "k int, v string, dt string")
    empty_changes = spark.createDataFrame([], "k int, v string, dt string, op string")
    fresh = PartitionOverwriteMergeWriter(str(tmp_path / "fresh"), partition_col="dt")
    fresh.merge_upsert(spark, empty, keys=["k", "dt"])
    merge_apply(fresh, spark, empty_changes, keys=["k", "dt"])
    assert not (tmp_path / "fresh").exists()
    before = _table_state(path)
    writer.merge_upsert(spark, empty, keys=["k", "dt"])
    merge_apply(writer, spark, empty_changes, keys=["k", "dt"])
    assert _table_state(path) == before


def test_merge_upsert_keeps_null_partition_rows(spark, tmp_path):
    """An update in the NULL partition must keep that partition's other
    rows; NULL keys never match, so the old row with the same k stays
    too (SQL MERGE semantics, as in VersionedTable.merge_upsert)."""
    writer = PartitionOverwriteMergeWriter(str(tmp_path / "t"), partition_col="dt")
    writer.write_full(
        spark.createDataFrame(
            [(1, "a", "2024-01-01"), (2, "b", None), (3, "c", None)],
            "k int, v string, dt string",
        )
    )
    writer.merge_upsert(
        spark,
        spark.createDataFrame([(2, "B", None)], "k int, v string, dt string"),
        keys=["k", "dt"],
    )
    got = sorted(
        (r["k"], r["v"], None if r["dt"] is None else str(r["dt"]))
        for r in writer.read(spark).collect()
    )
    assert got == [(1, "a", "2024-01-01"), (2, "B", None), (2, "b", None), (3, "c", None)]


def test_merge_apply_handles_the_null_partition(spark, tmp_path):
    """merge_apply reads the NULL partition back when a change touches
    it, and removes it (Hive's __HIVE_DEFAULT_PARTITION__ directory)
    when every row of it is deleted."""
    from aws_lakehouse_project_spark.plans.merge import merge_apply

    path = str(tmp_path / "t")
    writer = PartitionOverwriteMergeWriter(path, partition_col="dt")
    writer.write_full(
        spark.createDataFrame(
            [(1, "a", "d1"), (2, "b", None), (3, "c", None)], "k int, v string, dt string"
        )
    )
    schema = "k int, v string, dt string, op string"
    merge_apply(
        writer, spark, spark.createDataFrame([(4, "d", None, "upsert")], schema), keys=["k"]
    )
    got = {(r["k"], r["v"], r["dt"]) for r in writer.read(spark).collect()}
    assert got == {(1, "a", "d1"), (2, "b", None), (3, "c", None), (4, "d", None)}

    deletes = [(k, None, None, "delete") for k in (2, 3, 4)]
    merge_apply(
        writer,
        spark,
        spark.createDataFrame(deletes + [(1, "A", "d1", "upsert")], schema),
        keys=["k"],
    )
    got = {(r["k"], r["v"], r["dt"]) for r in writer.read(spark).collect()}
    assert got == {(1, "A", "d1")}
    assert _files_per_partition(path) == {"dt=d1": 1}

"""Footer-derived commit stats must be byte-identical to the Spark
scan aggregate they replace (plans/versioned.py::_footer_file_stats).

The manifest stats plane answers metadata-only MIN/MAX/COUNT queries
and drives file pruning, so the footer fast path is only legal if it
reproduces the scan's values exactly — these tests pin that parity per
type, plus every fallback condition (huge strings, timestamp stats
cols, nested stats cols) and the footer path under constraints.
"""

import os

import pytest
from pyspark.sql import functions as F

from aws_lakehouse_project_spark.plans.versioned import VersionedTable

pytestmark = pytest.mark.usefixtures("spark")


def _typed_frame(spark):
    long_tail = "x" * 120
    return spark.range(0, 500).select(
        F.col("id").cast("int").alias("i32"),
        F.col("id").alias("i64"),
        F.when(F.col("id") == 5, F.lit(float("nan")))
        .otherwise(F.col("id") * 1.5)
        .alias("dbl"),
        (F.col("id").cast("decimal(12,2)") * F.lit(1.25))
        .cast("decimal(12,2)")
        .alias("dec"),
        F.when(F.col("id") == 7, F.lit(long_tail))
        .otherwise(F.concat(F.lit("s"), F.col("id").cast("string")))
        .alias("s"),
        F.date_add(F.lit("2024-01-01").cast("date"), F.col("id").cast("int"))
        .alias("dt"),
        (F.col("id") % 2 == 0).alias("b"),
        F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id"))
        .alias("nullable"),
    )


STATS_COLS = ["i32", "i64", "dbl", "dec", "s", "dt", "b", "nullable"]


def _nan_eq(a, b):
    """Structural equality where float('nan') == float('nan') (the
    scan collects Spark's NaN-greatest max; footer folds to the same
    NaN — plain == would call identical stats unequal)."""
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_nan_eq(a[k], b[k]) for k in a)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(map(_nan_eq, a, b))
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (a != a and b != b)
    return a == b and type(a) is type(b)


def test_footer_stats_match_scan_exactly(spark, tmp_path):
    vt = VersionedTable(str(tmp_path / "t"), stats_cols=STATS_COLS)
    vt.write_full(_typed_frame(spark).repartition(2))
    m = vt._manifest()
    footer = {f: m["stats"][f] for f in m["files"]}
    scan = vt._file_stats(spark, m["files"])
    assert _nan_eq(footer, scan), (footer, scan)


def test_footer_stats_all_null_column(spark, tmp_path):
    df = spark.range(0, 50).select(
        F.col("id").alias("k"), F.lit(None).cast("long").alias("v")
    )
    vt = VersionedTable(str(tmp_path / "t"), stats_cols=["k", "v"])
    vt.write_full(df.coalesce(1))
    m = vt._manifest()
    scan = vt._file_stats(spark, m["files"])
    assert {f: m["stats"][f] for f in m["files"]} == scan
    (ent,) = m["stats"].values()
    assert ent["v"] == [None, None] and ent["__nulls"]["v"] == 50


def test_footer_fallback_huge_string(spark, tmp_path):
    """parquet-mr drops (never truncates) min/max for oversized values;
    the footer path must refuse and leave the scan to produce stats."""
    df = spark.createDataFrame(
        [("m" * 100_000,), ("a",)], "s string"
    )
    vt = VersionedTable(str(tmp_path / "t"), stats_cols=["s"])
    vt.write_full(df.coalesce(1))
    m = vt._manifest()
    # the commit still recorded exact stats — via the scan fallback
    (ent,) = m["stats"].values()
    assert ent["s"] == ["a", "m" * 100_000]
    assert vt._footer_file_stats(m["files"], {}) is None


def test_footer_fallback_timestamp_stats_col(spark, tmp_path):
    """INT96 timestamps carry no footer stats; the scan must run."""
    df = spark.range(0, 20).select(
        F.col("id").alias("k"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp")).alias("ts"),
    )
    vt = VersionedTable(str(tmp_path / "t"), stats_cols=["ts"])
    vt.write_full(df.coalesce(1))
    m = vt._manifest()
    assert vt._footer_file_stats(m["files"], {}) is None
    (ent,) = m["stats"].values()
    assert ent["ts"] is not None  # scan fallback produced the stat


def test_footer_path_skipped_under_constraints(spark, tmp_path):
    """A constrained table's commits count violations on the write
    itself and still take footer stats: a valid append records the same
    stats the scan would, a violating append aborts."""
    from aws_lakehouse_project_spark.plans.versioned import (
        ConstraintViolationError,
    )

    vt = VersionedTable(str(tmp_path / "t"), stats_cols=["k"])
    vt.write_full(spark.range(0, 10).select(F.col("id").alias("k")))
    vt.add_constraint(spark, "k_small", "k < 100")
    vt.append(spark.range(10, 20).select(F.col("id").alias("k")))
    m = vt._manifest()
    assert {f: m["stats"][f] for f in m["files"]} == vt._file_stats(
        spark, m["files"]
    )
    with pytest.raises(ConstraintViolationError):
        vt.append(spark.range(100, 110).select(F.col("id").alias("k")))
    m = vt._manifest()
    # v0 write, v1 ADD CONSTRAINT, v2 valid append; the violating
    # append never committed
    assert m["version"] == 2


def test_footer_stats_nested_column_before_stats_col(spark, tmp_path):
    """A struct column contributes one row-group column per LEAF, so a
    positional top-level index would read the wrong column's stats when
    a nested column precedes a stats column (ADVICE r14). The footer
    path must resolve by leaf path and still match the scan exactly."""
    df = spark.range(0, 100).select(
        F.struct(
            (F.col("id") * 1000).alias("a"), (-F.col("id")).alias("b")
        ).alias("nest"),
        F.col("id").alias("k"),
        (F.col("id") % 7).alias("v"),
    )
    vt = VersionedTable(str(tmp_path / "t"), stats_cols=["k", "v"])
    vt.write_full(df.coalesce(1))
    m = vt._manifest()
    (ent,) = m["stats"].values()
    # leaf-path resolution: k's stats are k's (0..99), v's are v's
    # (0..6) — a positional index would have recorded nest.a / nest.b
    assert ent["k"] == [0, 99] and ent["v"] == [0, 6]
    scan = vt._file_stats(spark, m["files"])
    assert _nan_eq({f: m["stats"][f] for f in m["files"]}, scan)


def test_footer_fallback_nested_stats_col(spark, tmp_path):
    """A stats column that is ITSELF nested has no single leaf path —
    the footer path must refuse and leave the scan to produce stats."""
    df = spark.range(0, 10).select(
        F.struct(F.col("id").alias("a")).alias("nest"),
        F.col("id").alias("k"),
    )
    vt = VersionedTable(str(tmp_path / "t"), stats_cols=["k"])
    vt.write_full(df.coalesce(1))
    m = vt._manifest()
    vt.stats_cols = ["nest", "k"]
    assert vt._footer_file_stats(m["files"], {}) is None


def test_footer_stats_zero_row_file(spark, tmp_path):
    """Empty partitions write zero-row part files; their manifest entry
    is {'rows': 0} on both paths."""
    df = spark.range(0, 10).select(F.col("id").alias("k")).repartition(4)
    vt = VersionedTable(str(tmp_path / "t"), stats_cols=["k"])
    vt.write_full(df.filter(F.col("k") < 2))
    m = vt._manifest()
    scan = vt._file_stats(spark, m["files"])
    assert {f: m["stats"][f] for f in m["files"]} == scan

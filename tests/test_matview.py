"""Declarative materialized views (plans/matview.py + the SQL front
end): REFRESH must be indistinguishable from recomputation, watermarks
must survive fresh handles, retired groups must disappear, NULL group
keys must be refused loudly, and a vacuumed watermark must force FULL."""

from __future__ import annotations

from decimal import Decimal

import pytest
from pyspark.sql import Row, functions as F

from aws_lakehouse_project_spark.plans.lakehouse_sql import LakehouseSession
from aws_lakehouse_project_spark.plans.matview import (
    HIDDEN_COUNT,
    definition,
    refresh_materialized_view,
)
from aws_lakehouse_project_spark.plans.versioned import (
    VacuumedVersionError,
    VersionedTable,
)


def _mk(spark, rows):
    return spark.createDataFrame(
        [Row(k=k, amt=Decimal(a)) for k, a in rows],
        "k string, amt decimal(12,2)",
    )


@pytest.fixture()
def lh(spark, tmp_path):
    s = LakehouseSession(spark)
    s.create("base", str(tmp_path / "base"))
    s.create("mv", str(tmp_path / "mv"))
    return s


def _create(spark, lh, rows):
    _mk(spark, rows).createOrReplaceTempView("src0")
    lh.sql("CREATE TABLE base AS SELECT * FROM src0")
    lh.sql(
        "CREATE MATERIALIZED VIEW mv AS "
        "SELECT k, SUM(amt) AS total, COUNT(*) AS n FROM base GROUP BY k"
    )


def _mv_rows(lh):
    return {
        (r["k"], r["total"], r["n"])
        for r in lh.sql("SELECT k, total, n FROM mv").collect()
    }


def _recompute(lh):
    return {
        (r["k"], r["total"], r["n"])
        for r in lh.sql(
            "SELECT k, SUM(amt) AS total, COUNT(*) AS n FROM base GROUP BY k"
        ).collect()
    }


def test_refresh_equals_recompute_across_commits(spark, lh):
    _create(spark, lh, [("a", "1.00"), ("a", "2.00"), ("b", "5.00")])
    lh.sql("UPDATE base SET amt = amt * 2 WHERE k = 'a'")
    _mk(spark, [("c", "9.00")]).createOrReplaceTempView("late")
    lh.sql("INSERT INTO base SELECT * FROM late")
    r = lh.sql("REFRESH MATERIALIZED VIEW mv").first()
    assert r["mode"] == "incremental"
    assert _mv_rows(lh) == _recompute(lh)


def test_group_retires_and_is_born(spark, lh):
    _create(spark, lh, [("a", "1.00"), ("b", "5.00")])
    lh.sql("DELETE FROM base WHERE k = 'a'")
    _mk(spark, [("z", "3.00")]).createOrReplaceTempView("newgrp")
    lh.sql("INSERT INTO base SELECT * FROM newgrp")
    lh.sql("REFRESH MATERIALIZED VIEW mv")
    got = _mv_rows(lh)
    assert got == _recompute(lh)
    assert {k for k, *_ in got} == {"b", "z"}


def test_noop_refresh_does_not_commit(spark, lh):
    _create(spark, lh, [("a", "1.00")])
    v0 = lh.table("mv").latest_version()
    r = lh.sql("REFRESH MATERIALIZED VIEW mv").first()
    assert r["mode"] == "noop" and r["version"] == v0
    assert lh.table("mv").latest_version() == v0


def test_watermark_survives_fresh_handles(spark, lh, tmp_path):
    """The definition + watermark ride the commit meta — a brand-new
    session over the same paths refreshes with no driver state."""
    _create(spark, lh, [("a", "1.00"), ("b", "2.00")])
    lh.sql("UPDATE base SET amt = amt + 1 WHERE k = 'b'")
    fresh = LakehouseSession(spark)
    fresh.create("base", str(tmp_path / "base"))
    fresh.create("mv", str(tmp_path / "mv"))
    r = fresh.sql("REFRESH MATERIALIZED VIEW mv").first()
    assert r["mode"] == "incremental"
    assert _mv_rows(fresh) == _recompute(fresh)
    d = definition(fresh.table("mv"))
    assert d["base_version"] == fresh.table("base").latest_version()


def test_hidden_count_when_not_selected(spark, lh):
    _mk(spark, [("a", "1.00"), ("a", "2.00")]).createOrReplaceTempView("s")
    lh.sql("CREATE TABLE base AS SELECT * FROM s")
    lh.sql(
        "CREATE MATERIALIZED VIEW mv AS "
        "SELECT k, SUM(amt) AS total FROM base GROUP BY k"
    )
    assert HIDDEN_COUNT in lh.table("mv").read(spark).columns
    lh.sql("DELETE FROM base WHERE k = 'a'")
    lh.sql("REFRESH MATERIALIZED VIEW mv")
    assert lh.sql("SELECT * FROM mv").count() == 0  # retired via hidden n


def test_sum_expression(spark, lh):
    _mk(spark, [("a", "1.00"), ("a", "2.00")]).createOrReplaceTempView("s")
    lh.sql("CREATE TABLE base AS SELECT * FROM s")
    lh.sql(
        "CREATE MATERIALIZED VIEW mv AS "
        "SELECT k, SUM(amt * 2) AS dbl FROM base GROUP BY k"
    )
    _mk(spark, [("a", "10.00")]).createOrReplaceTempView("more")
    lh.sql("INSERT INTO base SELECT * FROM more")
    lh.sql("REFRESH MATERIALIZED VIEW mv")
    [r] = lh.sql("SELECT k, dbl FROM mv").collect()
    assert (r["k"], r["dbl"]) == ("a", Decimal("26.00"))


def test_vacuumed_watermark_raises_then_full_rebuilds(spark, lh):
    _create(spark, lh, [("a", "1.00"), ("b", "2.00")])
    base = lh.table("base")
    lh.sql("UPDATE base SET amt = amt + 1 WHERE k = 'a'")
    lh.sql("DELETE FROM base WHERE k = 'b'")
    base.vacuum(retain_last=1, min_file_age_s=0.0, retain_recent_s=0.0)
    with pytest.raises(VacuumedVersionError):
        lh.sql("REFRESH MATERIALIZED VIEW mv")
    r = lh.sql("REFRESH MATERIALIZED VIEW mv FULL").first()
    assert r["mode"] == "full"
    assert _mv_rows(lh) == _recompute(lh)
    # and the watermark is re-armed: further increments fold
    _mk(spark, [("a", "5.00")]).createOrReplaceTempView("inc")
    lh.sql("INSERT INTO base SELECT * FROM inc")
    r = lh.sql("REFRESH MATERIALIZED VIEW mv").first()
    assert r["mode"] == "incremental"
    assert _mv_rows(lh) == _recompute(lh)


def test_null_group_key_rejected_at_create(spark, lh):
    spark.createDataFrame(
        [Row(k=None, amt=Decimal("1.00"))], "k string, amt decimal(12,2)"
    ).createOrReplaceTempView("nulls")
    lh.sql("CREATE TABLE base AS SELECT * FROM nulls")
    with pytest.raises(ValueError, match="NULL group key"):
        lh.sql(
            "CREATE MATERIALIZED VIEW mv AS "
            "SELECT k, SUM(amt) AS total FROM base GROUP BY k"
        )


def test_null_group_key_rejected_at_refresh(spark, lh):
    _create(spark, lh, [("a", "1.00")])
    spark.createDataFrame(
        [Row(k=None, amt=Decimal("2.00"))], "k string, amt decimal(12,2)"
    ).createOrReplaceTempView("nullrow")
    lh.sql("INSERT INTO base SELECT * FROM nullrow")
    with pytest.raises(ValueError, match="NULL group key"):
        lh.sql("REFRESH MATERIALIZED VIEW mv")


def test_parse_rejections(spark, lh):
    _mk(spark, [("a", "1.00")]).createOrReplaceTempView("s")
    lh.sql("CREATE TABLE base AS SELECT * FROM s")
    with pytest.raises(ValueError, match="items must be"):
        lh.sql(
            "CREATE MATERIALIZED VIEW mv AS "
            "SELECT k, MEDIAN(amt) AS a FROM base GROUP BY k"
        )
    # r13: GROUP BY expressions are legal when SELECTED — an
    # unselected one is now named as such
    with pytest.raises(ValueError, match="selected"):
        lh.sql(
            "CREATE MATERIALIZED VIEW mv AS "
            "SELECT k, SUM(amt) AS t FROM base GROUP BY upper(k)"
        )
    with pytest.raises(ValueError, match="exactly"):
        lh.sql(
            "CREATE MATERIALIZED VIEW mv AS "
            "SELECT SUM(amt) AS t FROM base GROUP BY k"
        )
    with pytest.raises(ValueError, match="at most one COUNT"):
        lh.sql(
            "CREATE MATERIALIZED VIEW mv AS SELECT k, COUNT(*) AS a, "
            "COUNT(*) AS b FROM base GROUP BY k"
        )
    with pytest.raises(ValueError, match="not a materialized view"):
        lh.sql("REFRESH MATERIALIZED VIEW base")


def test_refresh_python_api_mode_tuple(spark, lh):
    _create(spark, lh, [("a", "1.00")])
    lh.sql("UPDATE base SET amt = amt * 3 WHERE k = 'a'")
    v, mode = refresh_materialized_view(
        spark, lh.table("mv"), lh.table("base")
    )
    assert mode == "incremental" and v == lh.table("mv").latest_version()
    assert _mv_rows(lh) == _recompute(lh)


# ---------------------------------------------------------------------------
# MIN/MAX columns: bounded rescan-on-retraction through the SQL surface
# ---------------------------------------------------------------------------


def _create_mm(spark, lh, rows):
    _mk(spark, rows).createOrReplaceTempView("src_mm")
    lh.sql("CREATE TABLE base AS SELECT * FROM src_mm")
    lh.sql(
        "CREATE MATERIALIZED VIEW mv AS SELECT k, MIN(amt) AS lo, "
        "MAX(amt) AS hi, COUNT(*) AS n FROM base GROUP BY k"
    )


def _mm_rows(lh):
    return {
        (r["k"], r["lo"], r["hi"], r["n"])
        for r in lh.sql("SELECT k, lo, hi, n FROM mv").collect()
    }


def _mm_recompute(lh):
    return {
        (r["k"], r["lo"], r["hi"], r["n"])
        for r in lh.sql(
            "SELECT k, MIN(amt) AS lo, MAX(amt) AS hi, COUNT(*) AS n "
            "FROM base GROUP BY k"
        ).collect()
    }


def test_minmax_insert_only_folds(spark, lh):
    _create_mm(spark, lh, [("a", "5.00"), ("a", "7.00")])
    _mk(spark, [("a", "1.00"), ("b", "9.00")]).createOrReplaceTempView("i1")
    lh.sql("INSERT INTO base SELECT * FROM i1")
    lh.sql("REFRESH MATERIALIZED VIEW mv")
    assert _mm_rows(lh) == _mm_recompute(lh)


def test_minmax_retracted_extremum_rescans(spark, lh):
    _create_mm(
        spark, lh, [("a", "1.00"), ("a", "5.00"), ("b", "2.00"), ("b", "8.00")]
    )
    # delete a's MIN and b's MAX: both groups must rescan to exactness
    lh.sql("DELETE FROM base WHERE amt = 1.00 OR amt = 8.00")
    lh.sql("REFRESH MATERIALIZED VIEW mv")
    assert _mm_rows(lh) == _mm_recompute(lh)


def test_minmax_update_retraction_via_pairs(spark, lh):
    _create_mm(spark, lh, [("a", "1.00"), ("a", "5.00")])
    # the update RAISES the current min — preimage retracts 1.00
    lh.sql("UPDATE base SET amt = 3.00 WHERE amt = 1.00")
    lh.sql("REFRESH MATERIALIZED VIEW mv")
    assert _mm_rows(lh) == {("a", Decimal("3.00"), Decimal("5.00"), 2)}


def test_minmax_non_extremum_delete_no_rescan_still_exact(spark, lh):
    _create_mm(spark, lh, [("a", "1.00"), ("a", "3.00"), ("a", "5.00")])
    lh.sql("DELETE FROM base WHERE amt = 3.00")
    lh.sql("REFRESH MATERIALIZED VIEW mv")
    assert _mm_rows(lh) == {("a", Decimal("1.00"), Decimal("5.00"), 2)}


def test_minmax_group_death_and_birth(spark, lh):
    _create_mm(spark, lh, [("a", "1.00")])
    lh.sql("DELETE FROM base WHERE k = 'a'")
    _mk(spark, [("c", "4.00"), ("c", "2.00")]).createOrReplaceTempView("i2")
    lh.sql("INSERT INTO base SELECT * FROM i2")
    lh.sql("REFRESH MATERIALIZED VIEW mv")
    assert _mm_rows(lh) == {("c", Decimal("2.00"), Decimal("4.00"), 2)}


def test_minmax_rescan_is_bounded(spark, lh, rescans):
    """The bounded rescan-on-retraction, asserted: an insert-only
    refresh rescans no group; a refresh whose deletes retract extrema
    rescans at least one group, fewer than the view holds, and only the
    groups whose extremum a delete tied or beat."""
    # six groups g0..g5; g<i % 6> holds i, i+6, i+12, i+18
    _create_mm(spark, lh, [(f"g{i % 6}", f"{i}.00") for i in range(1, 25)])
    _mk(spark, [("g0", "0.50"), ("g1", "99.00")]).createOrReplaceTempView(
        "mm_ins"
    )
    lh.sql("INSERT INTO base SELECT * FROM mm_ins")
    lh.sql("REFRESH MATERIALIZED VIEW mv")
    assert [k for call in rescans for (k,) in call] == []
    # g2's MIN (2.00) and g3's MAX (21.00) retract; g4's 10.00 does not
    lh.sql("DELETE FROM base WHERE amt IN (2.00, 21.00, 10.00)")
    rescans.clear()
    lh.sql("REFRESH MATERIALIZED VIEW mv")
    rescanned = [k for call in rescans for (k,) in call]
    assert 1 <= len(rescanned) < len(_mm_rows(lh))
    assert sorted(rescanned) == ["g2", "g3"]
    assert _mm_rows(lh) == _mm_recompute(lh)


def test_minmax_mixed_with_sum_multi_commit(spark, lh):
    _mk(
        spark,
        [("a", "1.00"), ("a", "4.00"), ("b", "2.00"), ("b", "6.00")],
    ).createOrReplaceTempView("src_mix")
    lh.sql("CREATE TABLE base AS SELECT * FROM src_mix")
    lh.sql(
        "CREATE MATERIALIZED VIEW mv AS SELECT k, SUM(amt) AS total, "
        "MIN(amt) AS lo, MAX(amt) AS hi, COUNT(*) AS n "
        "FROM base GROUP BY k"
    )
    lh.sql("UPDATE base SET amt = amt * 10 WHERE amt = 1.00")
    lh.sql("DELETE FROM base WHERE amt = 6.00")
    _mk(spark, [("a", "0.50")]).createOrReplaceTempView("i3")
    lh.sql("INSERT INTO base SELECT * FROM i3")
    lh.sql("REFRESH MATERIALIZED VIEW mv")
    got = {
        (r["k"], r["total"], r["lo"], r["hi"], r["n"])
        for r in lh.sql("SELECT k, total, lo, hi, n FROM mv").collect()
    }
    want = {
        (r["k"], r["total"], r["lo"], r["hi"], r["n"])
        for r in lh.sql(
            "SELECT k, SUM(amt) AS total, MIN(amt) AS lo, MAX(amt) AS hi, "
            "COUNT(*) AS n FROM base GROUP BY k"
        ).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# JOIN-view MVs: dual watermarks, bilinear refresh
# ---------------------------------------------------------------------------


def _mk_dim(spark, rows):
    return spark.createDataFrame(
        [Row(k=k, seg=s) for k, s in rows], "k string, seg string"
    )


@pytest.fixture()
def lhj(spark, tmp_path):
    s = LakehouseSession(spark)
    s.create("fa", str(tmp_path / "fa"))
    s.create("di", str(tmp_path / "di"))
    s.create("jmv", str(tmp_path / "jmv"))
    return s


def _jmv_create(spark, lhj):
    _mk(spark, [("a", "1.00"), ("a", "2.00"), ("b", "5.00")]).createOrReplaceTempView("jf")
    _mk_dim(spark, [("a", "s1"), ("b", "s2")]).createOrReplaceTempView("jd")
    lhj.sql("CREATE TABLE fa AS SELECT * FROM jf")
    lhj.sql("CREATE TABLE di AS SELECT * FROM jd")
    lhj.sql(
        "CREATE MATERIALIZED VIEW jmv AS SELECT seg, SUM(amt) AS total, "
        "COUNT(*) AS n FROM fa JOIN di USING (k) GROUP BY seg"
    )


def _jmv_rows(lhj):
    return {
        (r["seg"], r["total"], r["n"])
        for r in lhj.sql("SELECT seg, total, n FROM jmv").collect()
    }


def _jmv_recompute(lhj):
    return {
        (r["seg"], r["total"], r["n"])
        for r in lhj.sql(
            "SELECT seg, SUM(amt) AS total, COUNT(*) AS n "
            "FROM fa JOIN di ON fa.k = di.k GROUP BY seg"
        ).collect()
    }


def test_join_mv_fact_only_change(spark, lhj):
    _jmv_create(spark, lhj)
    lhj.sql("UPDATE fa SET amt = amt * 2 WHERE k = 'a'")
    r = lhj.sql("REFRESH MATERIALIZED VIEW jmv").first()
    assert r["mode"] == "incremental"
    assert _jmv_rows(lhj) == _jmv_recompute(lhj)


def test_join_mv_dim_only_change(spark, lhj):
    _jmv_create(spark, lhj)
    lhj.sql("UPDATE di SET seg = 's9' WHERE k = 'a'")
    lhj.sql("REFRESH MATERIALIZED VIEW jmv")
    assert _jmv_rows(lhj) == _jmv_recompute(lhj)


def test_join_mv_both_sides_one_refresh(spark, lhj):
    """All three bilinear terms incl. the ΔA⋈ΔB correction (k='a' rows
    deleted from the fact AND moved in the dim in the same window)."""
    _jmv_create(spark, lhj)
    lhj.sql("DELETE FROM fa WHERE amt = 1.00")
    _mk(spark, [("b", "7.00")]).createOrReplaceTempView("jins")
    lhj.sql("INSERT INTO fa SELECT * FROM jins")
    lhj.sql("UPDATE di SET seg = 'moved' WHERE k = 'a'")
    r = lhj.sql("REFRESH MATERIALIZED VIEW jmv").first()
    assert r["mode"] == "incremental"
    assert _jmv_rows(lhj) == _jmv_recompute(lhj)
    r2 = lhj.sql("REFRESH MATERIALIZED VIEW jmv").first()
    assert r2["mode"] == "noop"


def test_join_mv_full_rebuild(spark, lhj):
    _jmv_create(spark, lhj)
    lhj.sql("DELETE FROM fa WHERE k = 'b'")
    r = lhj.sql("REFRESH MATERIALIZED VIEW jmv FULL").first()
    assert r["mode"] == "full"
    assert _jmv_rows(lhj) == _jmv_recompute(lhj)


def _jmv_minmax_create(spark, lhj):
    _mk(spark, [("a", "1.00"), ("a", "2.00"), ("b", "5.00"), ("b", "3.00")]).createOrReplaceTempView("jf2")
    _mk_dim(spark, [("a", "s1"), ("b", "s1")]).createOrReplaceTempView("jd2")
    lhj.sql("CREATE TABLE fa AS SELECT * FROM jf2")
    lhj.sql("CREATE TABLE di AS SELECT * FROM jd2")
    lhj.sql(
        "CREATE MATERIALIZED VIEW jmv AS SELECT seg, MIN(amt) AS lo, "
        "MAX(amt) AS hi, COUNT(*) AS n FROM fa JOIN di USING (k) "
        "GROUP BY seg"
    )


def _jmv_minmax_recompute(lhj):
    return {
        tuple(r)
        for r in lhj.sql(
            "SELECT seg, MIN(amt) AS lo, MAX(amt) AS hi, COUNT(*) AS n "
            "FROM fa JOIN di USING (k) GROUP BY seg"
        ).collect()
    }


def _jmv_minmax_rows(lhj):
    return {
        tuple(r) for r in lhj.sql("SELECT seg, lo, hi, n FROM jmv").collect()
    }


def test_join_mv_minmax_insert_only_folds(spark, lhj):
    _jmv_minmax_create(spark, lhj)
    _mk(spark, [("a", "0.50"), ("b", "9.00")]).createOrReplaceTempView("jadd")
    lhj.sql("INSERT INTO fa SELECT * FROM jadd")
    assert lhj.sql("REFRESH MATERIALIZED VIEW jmv").first()["mode"] == (
        "incremental"
    )
    assert _jmv_minmax_rows(lhj) == _jmv_minmax_recompute(lhj)


def test_join_mv_minmax_fact_retraction_rescans_join_slice(spark, lhj):
    """Deleting the joined extremum row must trigger the bounded
    join-slice rescan and land on the recompute."""
    _jmv_minmax_create(spark, lhj)
    lhj.sql("DELETE FROM fa WHERE amt = 1.00")  # group's MIN retires
    lhj.sql("REFRESH MATERIALIZED VIEW jmv")
    assert _jmv_minmax_rows(lhj) == _jmv_minmax_recompute(lhj)


def test_join_mv_minmax_dim_side_change(spark, lhj):
    """A dim-side UPDATE moves whole key slices between groups — both
    the retracted group and the receiving group must be exact."""
    _jmv_minmax_create(spark, lhj)
    lhj.sql("UPDATE di SET seg = 's2' WHERE k = 'a'")
    lhj.sql("REFRESH MATERIALIZED VIEW jmv")
    assert _jmv_minmax_rows(lhj) == _jmv_minmax_recompute(lhj)


def test_join_mv_minmax_group_death(spark, lhj):
    _jmv_minmax_create(spark, lhj)
    lhj.sql("DELETE FROM di WHERE k = 'a'")
    lhj.sql("DELETE FROM fa WHERE k = 'b'")
    lhj.sql("REFRESH MATERIALIZED VIEW jmv")
    assert _jmv_minmax_rows(lhj) == _jmv_minmax_recompute(lhj)


def test_null_sum_group_preserved_through_refresh(spark, lh):
    """A group whose measure values are all NULL keeps a NULL sum
    through an incremental refresh that touches it."""
    spark.createDataFrame(
        [Row(k="a", amt=None), Row(k="a", amt=None)],
        "k string, amt decimal(12,2)",
    ).createOrReplaceTempView("nullamt")
    lh.sql("CREATE TABLE base AS SELECT * FROM nullamt")
    lh.sql(
        "CREATE MATERIALIZED VIEW mv AS SELECT k, SUM(amt) AS total, "
        "COUNT(*) AS n FROM base GROUP BY k"
    )
    spark.createDataFrame(
        [Row(k="a", amt=None)], "k string, amt decimal(12,2)"
    ).createOrReplaceTempView("morenull")
    lh.sql("INSERT INTO base SELECT * FROM morenull")
    lh.sql("REFRESH MATERIALIZED VIEW mv")
    assert _mv_rows(lh) == _recompute(lh) == {("a", None, 3)}


# ---------------------------------------------------------------------------
# Interplay probes: refresh vs the rest of the transaction layer
# ---------------------------------------------------------------------------


def test_refresh_after_optimize_is_cheap_noop_fold(spark, lh):
    """OPTIMIZE is feedless — a refresh spanning it advances the
    watermark without changing MV values."""
    _create(spark, lh, [("a", "1.00"), ("a", "2.00"), ("b", "5.00")])
    before = _mv_rows(lh)
    lh.sql("OPTIMIZE base")
    r = lh.sql("REFRESH MATERIALIZED VIEW mv").first()
    assert r["mode"] == "incremental"
    assert _mv_rows(lh) == before
    from aws_lakehouse_project_spark.plans.matview import definition

    assert definition(lh.table("mv"))["base_version"] == lh.table(
        "base"
    ).latest_version()
    # and the next refresh is a pure noop
    assert lh.sql("REFRESH MATERIALIZED VIEW mv").first()["mode"] == "noop"


def test_refresh_after_mor_delete_folds_dv_changes(spark, lh):
    """A merge-on-read DELETE mutates via deletion vectors, not file
    rewrites — the CDF still feeds the fold exactly."""
    _create(spark, lh, [("a", "1.00"), ("a", "2.00"), ("b", "5.00")])
    lh.sql("DELETE /*+ MERGE_ON_READ */ FROM base WHERE amt = 2.00")
    lh.sql("REFRESH MATERIALIZED VIEW mv")
    assert _mv_rows(lh) == _recompute(lh)


def test_refresh_after_base_rename_fails_loudly(spark, lh):
    """RENAME COLUMN on the base invalidates the stored definition's
    expressions — the refresh must raise, never fold garbage."""
    _create(spark, lh, [("a", "1.00")])
    _mk(spark, [("a", "3.00")]).createOrReplaceTempView("r1")
    lh.sql("INSERT INTO base SELECT * FROM r1")
    lh.sql("ALTER TABLE base RENAME COLUMN amt TO amount")
    with pytest.raises(Exception, match="amt|UNRESOLVED|cannot be resolved"):
        lh.sql("REFRESH MATERIALIZED VIEW mv")


def test_delete_of_last_nonnull_value_yields_null_sum(spark, lh):
    """The case a (sum, count) pair cannot express: deleting a group's
    last non-NULL value must publish SUM = NULL, not 0 — the hidden
    per-column non-null count makes the fold exact."""
    spark.createDataFrame(
        [Row(k="a", amt=Decimal("5.00")), Row(k="a", amt=None)],
        "k string, amt decimal(12,2)",
    ).createOrReplaceTempView("mixed")
    lh.sql("CREATE TABLE base AS SELECT * FROM mixed")
    lh.sql(
        "CREATE MATERIALIZED VIEW mv AS SELECT k, SUM(amt) AS total, "
        "COUNT(*) AS n FROM base GROUP BY k"
    )
    lh.sql("DELETE FROM base WHERE amt = 5.00")
    lh.sql("REFRESH MATERIALIZED VIEW mv")
    assert _mv_rows(lh) == _recompute(lh) == {("a", None, 1)}


def test_refresh_survives_maintenance_commits_on_the_mv(spark, lh):
    """OPTIMIZE on the MV TABLE itself commits its own meta — the
    definition walk must look past it, not brick the refresh."""
    _create(spark, lh, [("a", "1.00"), ("b", "2.00")])
    lh.sql("OPTIMIZE mv")
    _mk(spark, [("a", "4.00")]).createOrReplaceTempView("m1")
    lh.sql("INSERT INTO base SELECT * FROM m1")
    r = lh.sql("REFRESH MATERIALIZED VIEW mv").first()
    assert r["mode"] == "incremental"
    assert _mv_rows(lh) == _recompute(lh)


def test_describe_materialized_view(spark, lh):
    _create(spark, lh, [("a", "1.00")])
    row = lh.sql("DESCRIBE MATERIALIZED VIEW mv").first()
    assert row["base"] == "base" and row["group_keys"] == "k"
    assert "SUM(amt) AS total" in row["aggregates"]
    assert row["count_col"] == "n"
    assert row["base_version"] == lh.table("base").latest_version()
    with pytest.raises(ValueError, match="not a materialized view"):
        lh.sql("DESCRIBE MATERIALIZED VIEW base")


def test_describe_materialized_join_view(spark, lhj):
    _jmv_create(spark, lhj)
    row = lhj.sql("DESCRIBE MATERIALIZED VIEW jmv").first()
    assert (row["base"], row["base_b"], row["join_on"]) == ("fa", "di", "k")


def test_avg_maintained_through_refresh(spark, lh):
    """AVG = hidden exact sum / hidden non-null count; deletes, NULL
    values, and the divide-by-non-null-count semantics all fold."""
    spark.createDataFrame(
        [
            Row(k="a", amt=Decimal("2.00")),
            Row(k="a", amt=Decimal("4.00")),
            Row(k="a", amt=None),  # AVG ignores NULLs: divisor is 2
            Row(k="b", amt=Decimal("10.00")),
        ],
        "k string, amt decimal(12,2)",
    ).createOrReplaceTempView("avgsrc")
    lh.sql("CREATE TABLE base AS SELECT * FROM avgsrc")
    lh.sql(
        "CREATE MATERIALIZED VIEW mv AS SELECT k, AVG(amt) AS mean, "
        "COUNT(*) AS n FROM base GROUP BY k"
    )
    got = {
        (r["k"], r["mean"], r["n"])
        for r in lh.sql("SELECT k, mean, n FROM mv").collect()
    }
    assert got == {("a", 3.0, 3), ("b", 10.0, 1)}
    # delete one of a's values and the last non-null makes mean exact
    lh.sql("DELETE FROM base WHERE amt = 2.00")
    lh.sql("REFRESH MATERIALIZED VIEW mv")
    got = {
        (r["k"], r["mean"], r["n"])
        for r in lh.sql("SELECT k, mean, n FROM mv").collect()
    }
    assert got == {("a", 4.0, 2), ("b", 10.0, 1)}
    lh.sql("DELETE FROM base WHERE amt = 4.00")
    lh.sql("REFRESH MATERIALIZED VIEW mv")
    got = {
        (r["k"], r["mean"], r["n"])
        for r in lh.sql("SELECT k, mean, n FROM mv").collect()
    }
    assert got == {("a", None, 1), ("b", 10.0, 1)}  # zero non-nulls → NULL


def test_avg_on_join_view(spark, lhj):
    _jmv_create(spark, lhj)
    lhj.create("jmv2", lhj.table("jmv").path + "2")
    lhj.sql(
        "CREATE MATERIALIZED VIEW jmv2 AS SELECT seg, AVG(amt) AS mean "
        "FROM fa JOIN di USING (k) GROUP BY seg"
    )
    lhj.sql("UPDATE fa SET amt = amt * 3 WHERE k = 'a'")
    lhj.sql("REFRESH MATERIALIZED VIEW jmv2")
    got = {
        (r["seg"], r["mean"])
        for r in lhj.sql("SELECT seg, mean FROM jmv2").collect()
    }
    want = {
        (r["seg"], r["mean"])
        for r in lhj.sql(
            "SELECT seg, CAST(SUM(amt) AS DOUBLE) / COUNT(amt) AS mean "
            "FROM fa JOIN di ON fa.k = di.k GROUP BY seg"
        ).collect()
    }
    assert got == want


def test_duplicate_output_aliases_rejected(spark, lh):
    _mk(spark, [("a", "1.00")]).createOrReplaceTempView("s2")
    lh.sql("CREATE TABLE base AS SELECT * FROM s2")
    with pytest.raises(ValueError, match="collide"):
        lh.sql(
            "CREATE MATERIALIZED VIEW mv AS SELECT k, SUM(amt) AS t, "
            "MIN(amt) AS t FROM base GROUP BY k"
        )
    with pytest.raises(ValueError, match="collide"):
        lh.sql(
            "CREATE MATERIALIZED VIEW mv AS SELECT k, SUM(amt) AS k "
            "FROM base GROUP BY k"
        )


# ---------------------------------------------------------------------------
# Streaming (continuous) refresh
# ---------------------------------------------------------------------------

from aws_lakehouse_project_spark.plans.matview import (  # noqa: E402
    stream_refresh_materialized_view,
)


@pytest.fixture()
def lhs(spark, tmp_path):
    s = LakehouseSession(spark)
    s.create("base", str(tmp_path / "base"), change_feed=True)
    s.create("mv", str(tmp_path / "mv"))
    return s


def test_stream_refresh_equals_recompute_and_composes(spark, lhs, tmp_path):
    _create(spark, lhs, [("a", "1.00"), ("a", "2.00"), ("b", "5.00")])
    lhs.sql("UPDATE base SET amt = amt * 2 WHERE k = 'a'")
    lhs.sql("DELETE FROM base WHERE k = 'b'")
    n = stream_refresh_materialized_view(
        spark, lhs.table("mv"), lhs.table("base"), str(tmp_path / "c1")
    )
    assert n >= 1
    assert _mv_rows(lhs) == _recompute(lhs)
    # fresh checkpoint replays the WHOLE feed: nothing may double-fold
    n2 = stream_refresh_materialized_view(
        spark, lhs.table("mv"), lhs.table("base"), str(tmp_path / "c2")
    )
    assert n2 == 0 and _mv_rows(lhs) == _recompute(lhs)
    # batch refresh after streaming: watermark already at head
    assert lhs.sql("REFRESH MATERIALIZED VIEW mv").first()["mode"] == "noop"
    # and batch → streaming also composes
    _mk(spark, [("z", "7.00")]).createOrReplaceTempView("zrow")
    lhs.sql("INSERT INTO base SELECT * FROM zrow")
    lhs.sql("REFRESH MATERIALIZED VIEW mv")
    n3 = stream_refresh_materialized_view(
        spark, lhs.table("mv"), lhs.table("base"), str(tmp_path / "c3")
    )
    assert n3 == 0  # batch already folded it; replay is below watermark
    assert _mv_rows(lhs) == _recompute(lhs)


def _mm_create(spark, lhs, rows):
    _mk(spark, rows).createOrReplaceTempView("s3")
    lhs.sql("CREATE TABLE base AS SELECT * FROM s3")
    lhs.sql(
        "CREATE MATERIALIZED VIEW mv AS SELECT k, MIN(amt) AS lo, "
        "MAX(amt) AS hi, COUNT(*) AS n FROM base GROUP BY k"
    )


def _mm_rows(lhs, rel="mv"):
    sql = (
        f"SELECT k, lo, hi, n FROM {rel}"
        if rel == "mv"
        else "SELECT k, MIN(amt) AS lo, MAX(amt) AS hi, COUNT(*) AS n "
        "FROM base GROUP BY k"
    )
    return {tuple(r) for r in lhs.sql(sql).collect()}


def test_stream_refresh_minmax_folds_and_rescans(spark, lhs, tmp_path):
    """Streaming MIN/MAX: insert-only batches fold join-free
    (least/greatest); a retraction that beats the stored extremum
    triggers the bounded folded-state rescan inside foreachBatch."""
    _mm_create(
        spark, lhs, [("a", "1.00"), ("a", "4.00"), ("b", "5.00")]
    )
    # insert-only commit: pure fold path
    _mk(spark, [("a", "0.50"), ("b", "9.00")]).createOrReplaceTempView("mm1")
    lhs.sql("INSERT INTO base SELECT * FROM mm1")
    n = stream_refresh_materialized_view(
        spark, lhs.table("mv"), lhs.table("base"), str(tmp_path / "m1")
    )
    assert n >= 1
    assert _mm_rows(lhs) == _mm_rows(lhs, "recompute")
    # retraction of the reigning min AND max: rescan path
    lhs.sql("DELETE FROM base WHERE amt = 0.50 OR amt = 9.00")
    n = stream_refresh_materialized_view(
        spark, lhs.table("mv"), lhs.table("base"), str(tmp_path / "m2")
    )
    assert n >= 1
    assert _mm_rows(lhs) == _mm_rows(lhs, "recompute") == {
        ("a", Decimal("1.00"), Decimal("4.00"), 2),
        ("b", Decimal("5.00"), Decimal("5.00"), 1),
    }
    # group retirement + batch/stream composition stays intact
    lhs.sql("DELETE FROM base WHERE k = 'b'")
    stream_refresh_materialized_view(
        spark, lhs.table("mv"), lhs.table("base"), str(tmp_path / "m3")
    )
    assert _mm_rows(lhs) == _mm_rows(lhs, "recompute")
    assert lhs.sql("REFRESH MATERIALIZED VIEW mv").first()["mode"] == "noop"


def test_stream_fold_minmax_out_of_order_rescan(spark, lhs):
    """THE hard case the folded-state rescan exists for: v2 (which
    deletes the reigning max) arrives BEFORE v1 (which inserted a new
    mid value). The rescan at the out-of-order point must see floor
    snapshot + folded v2 only — never v1's unfolded insert."""
    _mm_create(spark, lhs, [("a", "1.00"), ("a", "9.00")])
    _mk(spark, [("a", "5.00")]).createOrReplaceTempView("oo_mm1")
    lhs.sql("INSERT INTO base SELECT * FROM oo_mm1")          # v1
    lhs.sql("DELETE FROM base WHERE amt = 9.00")              # v2
    base, mv = lhs.table("base"), lhs.table("mv")
    # v2 first: max retracts; folded state = v0 snapshot + v2 feed =
    # {1.00} (v1's 5.00 must NOT appear yet)
    assert _fold_stream_batch(spark, mv, base, _feed(spark, base, 2), 0, "m")
    got = {tuple(r) for r in lhs.sql("SELECT k, lo, hi, n FROM mv").collect()}
    assert got == {("a", Decimal("1.00"), Decimal("1.00"), 1)}
    # late v1 folds join-free and collapses the exception set
    assert _fold_stream_batch(spark, mv, base, _feed(spark, base, 1), 1, "m")
    assert _mm_rows(lhs) == _mm_rows(lhs, "recompute") == {
        ("a", Decimal("1.00"), Decimal("5.00"), 2)
    }
    d = definition(mv)
    assert d["base_version"] == 2 and d["stream_folded"] == []


def test_stream_refresh_refuses_join_views(spark, tmp_path):
    lh = LakehouseSession(spark)
    lh.create("fa", str(tmp_path / "fa"), change_feed=True)
    lh.create("di", str(tmp_path / "di"), change_feed=True)
    lh.create("jmv", str(tmp_path / "jmv"))
    _mk(spark, [("a", "1.00")]).createOrReplaceTempView("sj1")
    _mk_dim(spark, [("a", "s1")]).createOrReplaceTempView("sj2")
    lh.sql("CREATE TABLE fa AS SELECT * FROM sj1")
    lh.sql("CREATE TABLE di AS SELECT * FROM sj2")
    lh.sql(
        "CREATE MATERIALIZED VIEW jmv AS SELECT seg, SUM(amt) AS t "
        "FROM fa JOIN di USING (k) GROUP BY seg"
    )
    with pytest.raises(ValueError, match="JOIN view"):
        stream_refresh_materialized_view(
            spark, lh.table("jmv"), lh.table("fa"), str(tmp_path / "c")
        )


def test_cascade_day_retirement_propagates(spark, tmp_path):
    """Deleting a whole day from the base retires its tier-1 (daily)
    row; that retirement is a DELETE in the daily MV's change feed, so
    the tier-2 (monthly) fold decrements n_days — composition carries
    group birth/death across tiers."""
    lh = LakehouseSession(spark)
    lh.create("fact", str(tmp_path / "f"))
    lh.create("d", str(tmp_path / "d"), change_feed=True)
    lh.create("m", str(tmp_path / "m"))
    spark.createDataFrame(
        [
            Row(mo="2024-01", day="2024-01-05", amt=Decimal("1.00")),
            Row(mo="2024-01", day="2024-01-06", amt=Decimal("2.00")),
            Row(mo="2024-02", day="2024-02-01", amt=Decimal("4.00")),
        ],
        "mo string, day string, amt decimal(12,2)",
    ).createOrReplaceTempView("cf")
    lh.sql("CREATE TABLE fact AS SELECT * FROM cf")
    lh.sql(
        "CREATE MATERIALIZED VIEW d AS SELECT mo, day, SUM(amt) AS rev, "
        "COUNT(*) AS n FROM fact GROUP BY mo, day"
    )
    lh.sql(
        "CREATE MATERIALIZED VIEW m AS SELECT mo, SUM(rev) AS rev, "
        "COUNT(*) AS n_days FROM d GROUP BY mo"
    )
    lh.sql("DELETE FROM fact WHERE day = '2024-01-05'")
    assert lh.sql("REFRESH MATERIALIZED VIEW d").first()["mode"] == "incremental"
    assert lh.sql("REFRESH MATERIALIZED VIEW m").first()["mode"] == "incremental"
    got = {
        (r["mo"], r["rev"], r["n_days"])
        for r in lh.sql("SELECT mo, rev, n_days FROM m").collect()
    }
    assert got == {
        ("2024-01", Decimal("2.00"), 1),
        ("2024-02", Decimal("4.00"), 1),
    }


def test_stream_refresh_fresh_checkpoint_folds_new_data(spark, lhs, tmp_path):
    """THE cross-run correctness case: new base commits between two
    streaming runs with DIFFERENT checkpoints must fold in run 2 —
    batch ids restart at 0 per checkpoint, so the retry guard must be
    run-scoped, never table-scoped (a table-wide id comparison would
    skip run 2's batch 0 wholesale, new data included)."""
    _create(spark, lhs, [("a", "1.00")])
    lhs.sql("UPDATE base SET amt = amt * 2 WHERE k = 'a'")
    n1 = stream_refresh_materialized_view(
        spark, lhs.table("mv"), lhs.table("base"), str(tmp_path / "cA")
    )
    assert n1 >= 1
    _mk(spark, [("b", "9.00")]).createOrReplaceTempView("newrow")
    lhs.sql("INSERT INTO base SELECT * FROM newrow")
    n2 = stream_refresh_materialized_view(
        spark, lhs.table("mv"), lhs.table("base"), str(tmp_path / "cB")
    )
    assert n2 >= 1, "fresh-checkpoint run silently skipped new data"
    assert _mv_rows(lhs) == _recompute(lhs)


def test_stream_refresh_refuses_join_views(spark, lhj, tmp_path):
    _jmv_create(spark, lhj)
    with pytest.raises(ValueError, match="JOIN view"):
        stream_refresh_materialized_view(
            spark, lhj.table("jmv"), lhj.table("fa"), str(tmp_path / "c")
        )


def test_reserved_prefix_aliases_rejected(spark, lh):
    _mk(spark, [("a", "1.00")]).createOrReplaceTempView("s4")
    lh.sql("CREATE TABLE base AS SELECT * FROM s4")
    with pytest.raises(ValueError, match="reserved"):
        lh.sql(
            "CREATE MATERIALIZED VIEW mv AS SELECT k, SUM(amt) AS total, "
            "MAX(amt) AS __nn__total FROM base GROUP BY k"
        )
    with pytest.raises(ValueError, match="reserved"):
        lh.sql(
            "CREATE MATERIALIZED VIEW mv AS SELECT k, "
            "SUM(amt) AS __ivm_count FROM base GROUP BY k"
        )


# ---------------------------------------------------------------------------
# Out-of-order feed delivery (floor + exception-set watermark)
# ---------------------------------------------------------------------------

from aws_lakehouse_project_spark.plans.matview import (  # noqa: E402
    _fold_stream_batch,
    create_materialized_join_view,
    create_materialized_view,
)


def _feed(spark, base, v):
    root = f"{base.path}/_change_data"
    return (
        spark.read.schema(base.changes_schema())
        .option("basePath", root)
        .parquet(f"{root}/_commit_version={v}")
    )


def _two_commits(spark, lhs):
    """base v0 (create) + v1 + v2; MV watermark at 0."""
    _create(spark, lhs, [("a", "1.00")])
    _mk(spark, [("b", "2.00")]).createOrReplaceTempView("oo1")
    lhs.sql("INSERT INTO base SELECT * FROM oo1")
    _mk(spark, [("c", "3.00")]).createOrReplaceTempView("oo2")
    lhs.sql("INSERT INTO base SELECT * FROM oo2")
    return lhs.table("base"), lhs.table("mv")


def test_stream_fold_out_of_order_delivery(spark, lhs):
    """v2's feed file delivered BEFORE v1's (mtime-tie lexicographic
    ordering under maxFilesPerTrigger) must not drop v1's rows: the
    floor stays, the exception set carries v2, and the late v1 batch
    folds and collapses the set."""
    base, mv = _two_commits(spark, lhs)
    assert _fold_stream_batch(spark, mv, base, _feed(spark, base, 2), 0, "t")
    d = definition(mv)
    assert d["base_version"] == 0 and d["stream_folded"] == [2]
    assert _fold_stream_batch(spark, mv, base, _feed(spark, base, 1), 1, "t")
    d = definition(mv)
    assert d["base_version"] == 2 and d["stream_folded"] == []
    assert _mv_rows(lhs) == _recompute(lhs)
    # replaying either version again is a pure no-op
    assert not _fold_stream_batch(
        spark, mv, base, _feed(spark, base, 2), 0, "t2"
    )
    assert _mv_rows(lhs) == _recompute(lhs)


def test_batch_refresh_skips_stream_folded_versions(spark, lhs):
    """A streaming run died after folding ONLY v2 (out of order); batch
    REFRESH must fold v1 exactly once — changes(floor, head) would
    double-fold v2 — and clear the exception set."""
    base, mv = _two_commits(spark, lhs)
    assert _fold_stream_batch(spark, mv, base, _feed(spark, base, 2), 0, "t")
    r = lhs.sql("REFRESH MATERIALIZED VIEW mv").first()
    assert r["mode"] == "incremental"
    assert _mv_rows(lhs) == _recompute(lhs)
    d = definition(mv)
    assert d["base_version"] == 2 and "stream_folded" not in d


def test_stream_refresh_resumes_after_out_of_order_partial(spark, lhs, tmp_path):
    """A fresh streaming run after the partial out-of-order state must
    fold v1 (below the folded v2, above the floor) instead of dropping
    it as replay, and end with a collapsed set."""
    base, mv = _two_commits(spark, lhs)
    assert _fold_stream_batch(spark, mv, base, _feed(spark, base, 2), 0, "t")
    stream_refresh_materialized_view(
        spark, mv, base, str(tmp_path / "oo_ckpt")
    )
    d = definition(mv)
    assert d["base_version"] == 2 and d["stream_folded"] == []
    assert _mv_rows(lhs) == _recompute(lhs)


def test_python_create_shares_alias_validation(spark, lh):
    """Direct Python callers hit the same duplicate/reserved-prefix
    checks as the SQL parser — an alias like __ivm_count or a SUM alias
    equal to a key would silently corrupt hidden maintenance columns."""
    _mk(spark, [("a", "1.00")]).createOrReplaceTempView("pv0")
    lh.sql("CREATE TABLE base AS SELECT * FROM pv0")
    base, mv = lh.table("base"), lh.table("mv")
    with pytest.raises(ValueError, match="reserved"):
        create_materialized_view(
            spark, "base", base, mv, keys=["k"],
            sums=[["amt", "__ivm_count"]],
        )
    with pytest.raises(ValueError, match="collide"):
        create_materialized_view(
            spark, "base", base, mv, keys=["k"], sums=[["amt", "k"]]
        )
    with pytest.raises(ValueError, match="collide"):
        create_materialized_view(
            spark, "base", base, mv, keys=["k"],
            sums=[["amt", "t"]], mins=[["amt", "t"]],
        )
    with pytest.raises(ValueError, match="collide"):
        create_materialized_join_view(
            spark, "base", base, "base", base, on=["k"], mv=mv,
            keys=["k"], sums=[["amt", "k"]],
        )
    assert not mv.exists()  # nothing committed by any rejected create


# ---------------------------------------------------------------------------
# COUNT(DISTINCT) — hidden support table
# ---------------------------------------------------------------------------


def _mk3(spark, rows):
    return spark.createDataFrame(
        [Row(k=k, cust=c, amt=Decimal(a)) for k, c, a in rows],
        "k string, cust int, amt decimal(12,2)",
    )


def _dcreate(spark, lh, rows):
    _mk3(spark, rows).createOrReplaceTempView("dsrc")
    lh.sql("CREATE TABLE base AS SELECT * FROM dsrc")
    lh.sql(
        "CREATE MATERIALIZED VIEW mv AS SELECT k, "
        "COUNT(DISTINCT cust) AS n_custs, SUM(amt) AS total, "
        "COUNT(*) AS n FROM base GROUP BY k"
    )


def _drows(lh):
    return {
        (r["k"], r["n_custs"], r["total"], r["n"])
        for r in lh.sql("SELECT k, n_custs, total, n FROM mv").collect()
    }


def _drecompute(lh):
    return {
        (r["k"], r["n_custs"], r["total"], r["n"])
        for r in lh.sql(
            "SELECT k, COUNT(DISTINCT cust) AS n_custs, SUM(amt) AS "
            "total, COUNT(*) AS n FROM base GROUP BY k"
        ).collect()
    }


def test_distinct_mv_create_matches_recompute(spark, lh):
    _dcreate(
        spark, lh,
        [("a", 1, "1.00"), ("a", 1, "2.00"), ("a", 2, "3.00"),
         ("b", 1, "5.00")],
    )
    assert _drows(lh) == _drecompute(lh)


def test_distinct_update_moves_measure_not_value(spark, lh):
    """UPDATE pairs that change a measure but not the distinct value
    must cancel in the support fold — counts untouched, sums moved."""
    _dcreate(
        spark, lh,
        [("a", 1, "1.00"), ("a", 1, "2.00"), ("a", 2, "3.00")],
    )
    lh.sql("UPDATE base SET amt = amt * 10 WHERE cust = 1")
    r = lh.sql("REFRESH MATERIALIZED VIEW mv").first()
    assert r["mode"] == "incremental"
    assert _drows(lh) == _drecompute(lh)


def test_distinct_multi_occurrence_delete_no_over_decrement(spark, lh):
    """Deleting ONE of a customer's several same-group rows must not
    decrement the distinct count; deleting the LAST one must."""
    _dcreate(
        spark, lh,
        [("a", 1, "1.00"), ("a", 1, "2.00"), ("a", 2, "3.00"),
         ("b", 2, "4.00")],
    )
    lh.sql("DELETE FROM base WHERE amt = 1.00")  # cust 1 keeps a row in a
    lh.sql("REFRESH MATERIALIZED VIEW mv")
    assert _drows(lh) == _drecompute(lh)
    lh.sql("DELETE FROM base WHERE amt = 2.00")  # cust 1's LAST a-row
    lh.sql("REFRESH MATERIALIZED VIEW mv")
    assert _drows(lh) == _drecompute(lh)
    got = {r["k"]: r["n_custs"] for r in lh.sql("SELECT * FROM mv").collect()}
    assert got == {"a": 1, "b": 1}


def test_distinct_group_retire_and_new_value(spark, lh):
    _dcreate(spark, lh, [("a", 1, "1.00"), ("b", 1, "2.00")])
    lh.sql("DELETE FROM base WHERE k = 'b'")
    _mk3(spark, [("a", 9, "3.00"), ("c", 9, "4.00")]).createOrReplaceTempView(
        "dnew"
    )
    lh.sql("INSERT INTO base SELECT * FROM dnew")
    lh.sql("REFRESH MATERIALIZED VIEW mv")
    assert _drows(lh) == _drecompute(lh)


def test_distinct_null_values_never_count(spark, lh):
    spark.createDataFrame(
        [Row(k="a", cust=None, amt=Decimal("1.00")),
         Row(k="a", cust=7, amt=Decimal("2.00"))],
        "k string, cust int, amt decimal(12,2)",
    ).createOrReplaceTempView("dsrc")
    lh.sql("CREATE TABLE base AS SELECT * FROM dsrc")
    lh.sql(
        "CREATE MATERIALIZED VIEW mv AS SELECT k, "
        "COUNT(DISTINCT cust) AS n_custs, COUNT(*) AS n "
        "FROM base GROUP BY k"
    )
    got = lh.sql("SELECT * FROM mv").first()
    assert got["n_custs"] == 1 and got["n"] == 2
    lh.sql("DELETE FROM base WHERE cust IS NULL")
    lh.sql("REFRESH MATERIALIZED VIEW mv")
    got = lh.sql("SELECT * FROM mv").first()
    assert got["n_custs"] == 1 and got["n"] == 1


def test_distinct_full_refresh_rebuilds_support(spark, lh):
    _dcreate(spark, lh, [("a", 1, "1.00"), ("a", 2, "2.00")])
    lh.sql("DELETE FROM base WHERE cust = 2")
    r = lh.sql("REFRESH MATERIALIZED VIEW mv FULL").first()
    assert r["mode"] == "full"
    assert _drows(lh) == _drecompute(lh)
    # incremental refresh after the rebuild still folds correctly
    _mk3(spark, [("a", 3, "9.00")]).createOrReplaceTempView("dmore")
    lh.sql("INSERT INTO base SELECT * FROM dmore")
    lh.sql("REFRESH MATERIALIZED VIEW mv")
    assert _drows(lh) == _drecompute(lh)


def _jmv_dist_recompute(lhj):
    return {
        tuple(r)
        for r in lhj.sql(
            "SELECT seg, COUNT(DISTINCT amt) AS n_vals, COUNT(*) AS n "
            "FROM fa JOIN di ON fa.k = di.k GROUP BY seg"
        ).collect()
    }


def test_join_mv_count_distinct_folds(spark, lhj):
    """COUNT(DISTINCT) on a JOIN view: the bilinear delta feeds the
    same support fold. Multi-occurrence deletes never over-decrement;
    a dim UPDATE that moves a whole group's rows cancels across sides
    (old seg loses the values, new seg gains them)."""
    _mk(spark, [("a", "1.00"), ("a", "1.00"), ("a", "2.00"), ("b", "5.00")]).createOrReplaceTempView("jdf")
    _mk_dim(spark, [("a", "s1"), ("b", "s2")]).createOrReplaceTempView("jdd")
    lhj.sql("CREATE TABLE fa AS SELECT * FROM jdf")
    lhj.sql("CREATE TABLE di AS SELECT * FROM jdd")
    lhj.sql(
        "CREATE MATERIALIZED VIEW jmv AS SELECT seg, "
        "COUNT(DISTINCT amt) AS n_vals, COUNT(*) AS n "
        "FROM fa JOIN di USING (k) GROUP BY seg"
    )
    q = "SELECT seg, n_vals, n FROM jmv"
    assert {tuple(r) for r in lhj.sql(q).collect()} == _jmv_dist_recompute(
        lhj
    ) == {("s1", 2, 3), ("s2", 1, 1)}
    # multi-occurrence delete: one of the two 1.00 rows goes — the
    # distinct count must NOT drop
    lhj.sql("DELETE FROM fa WHERE k = 'a' AND amt = 1.00")  # deletes both
    _mk(spark, [("a", "1.00")]).createOrReplaceTempView("jdb")
    lhj.sql("INSERT INTO fa SELECT * FROM jdb")  # re-add one
    r = lhj.sql("REFRESH MATERIALIZED VIEW jmv").first()
    assert r["mode"] == "incremental"
    got = {tuple(r2) for r2 in lhj.sql(q).collect()}
    assert got == _jmv_dist_recompute(lhj) == {("s1", 2, 2), ("s2", 1, 1)}
    # dim move: every 'a' row relocates s1 -> s9; values follow exactly
    lhj.sql("UPDATE di SET seg = 's9' WHERE k = 'a'")
    # and an UPDATE that moves a measure but not the join/group keys
    lhj.sql("UPDATE fa SET amt = 2.00 WHERE k = 'b'")
    lhj.sql("REFRESH MATERIALIZED VIEW jmv")
    assert {tuple(r2) for r2 in lhj.sql(q).collect()} == _jmv_dist_recompute(
        lhj
    )
    # group retirement: drop the whole 'b' slice
    lhj.sql("DELETE FROM fa WHERE k = 'b'")
    lhj.sql("REFRESH MATERIALIZED VIEW jmv")
    assert {tuple(r2) for r2 in lhj.sql(q).collect()} == _jmv_dist_recompute(
        lhj
    )
    # FULL rebuild re-arms both support watermarks; incremental resumes
    lhj.sql("REFRESH MATERIALIZED VIEW jmv FULL")
    _mk(spark, [("a", "7.00")]).createOrReplaceTempView("jdc")
    lhj.sql("INSERT INTO fa SELECT * FROM jdc")
    lhj.sql("REFRESH MATERIALIZED VIEW jmv")
    assert {tuple(r2) for r2 in lhj.sql(q).collect()} == _jmv_dist_recompute(
        lhj
    )


def test_distinct_rejections(spark, lhs, tmp_path):
    # streaming refresh refuses distinct views
    _mk3(spark, [("a", 1, "1.00")]).createOrReplaceTempView("ds")
    lhs.sql("CREATE TABLE base AS SELECT * FROM ds")
    lhs.sql(
        "CREATE MATERIALIZED VIEW mv AS SELECT k, "
        "COUNT(DISTINCT cust) AS n FROM base GROUP BY k"
    )
    with pytest.raises(ValueError, match="DISTINCT"):
        stream_refresh_materialized_view(
            spark, lhs.table("mv"), lhs.table("base"), str(tmp_path / "dc")
        )
    # alias rules apply to distinct aliases too
    with pytest.raises(ValueError, match="reserved"):
        lhs.sql(
            "CREATE MATERIALIZED VIEW mv AS SELECT k, "
            "COUNT(DISTINCT cust) AS __n FROM base GROUP BY k"
        )


# ---------------------------------------------------------------------------
# APPLY CHANGES INTO ... SCD TYPE 2
# ---------------------------------------------------------------------------


@pytest.fixture()
def lha(spark, tmp_path):
    s = LakehouseSession(spark)
    s.create("src", str(tmp_path / "src"))
    s.create("dim", str(tmp_path / "dim"))
    return s


def _hist_rows(lha):
    return {
        tuple(r)
        for r in lha.sql(
            "SELECT k, amt, start_v, end_v, is_current FROM dim"
        ).collect()
    }


def test_apply_changes_init_then_folds(spark, lha):
    _mk(spark, [("a", "1.00"), ("b", "2.00")]).createOrReplaceTempView("a0")
    lha.sql("CREATE TABLE src AS SELECT * FROM a0")
    r = lha.sql(
        "APPLY CHANGES INTO dim FROM CHANGES(src) KEYS (k) SCD TYPE 2"
    ).first()
    assert r["mode"] == "init"
    assert _hist_rows(lha) == {
        ("a", Decimal("1.00"), 0, None, True),
        ("b", Decimal("2.00"), 0, None, True),
    }
    # UPDATE closes + reopens; DELETE closes only; new key opens only
    lha.sql("UPDATE src SET amt = amt * 10 WHERE k = 'a'")
    lha.sql("DELETE FROM src WHERE k = 'b'")
    _mk(spark, [("c", "9.00")]).createOrReplaceTempView("a1")
    lha.sql("INSERT INTO src SELECT * FROM a1")
    r = lha.sql(
        "APPLY CHANGES INTO dim FROM CHANGES(src) KEYS (k) SCD TYPE 2"
    ).first()
    assert r["mode"] == "incremental" and r["ordinals_applied"] == 3
    assert _hist_rows(lha) == {
        ("a", Decimal("1.00"), 0, 1, False),
        ("a", Decimal("10.00"), 1, None, True),
        ("b", Decimal("2.00"), 0, 2, False),
        ("c", Decimal("9.00"), 3, None, True),
    }
    # re-run with no new commits: noop, history unchanged
    r = lha.sql(
        "APPLY CHANGES INTO dim FROM CHANGES(src) KEYS (k) SCD TYPE 2"
    ).first()
    assert r["mode"] == "noop" and r["ordinals_applied"] == 0


def test_apply_changes_feedless_commits_never_shift_ordinals(spark, lha):
    _mk(spark, [("a", "1.00")]).createOrReplaceTempView("b0")
    lha.sql("CREATE TABLE src AS SELECT * FROM b0")
    lha.sql("APPLY CHANGES INTO dim FROM CHANGES(src) KEYS (k) SCD TYPE 2")
    lha.sql("OPTIMIZE src")  # feedless: must not consume an ordinal
    lha.sql("UPDATE src SET amt = 5.00 WHERE k = 'a'")
    lha.sql("APPLY CHANGES INTO dim FROM CHANGES(src) KEYS (k) SCD TYPE 2")
    assert _hist_rows(lha) == {
        ("a", Decimal("1.00"), 0, 1, False),
        ("a", Decimal("5.00"), 1, None, True),
    }


def test_apply_changes_survives_fresh_handle(spark, lha, tmp_path):
    _mk(spark, [("a", "1.00")]).createOrReplaceTempView("c0")
    lha.sql("CREATE TABLE src AS SELECT * FROM c0")
    lha.sql("APPLY CHANGES INTO dim FROM CHANGES(src) KEYS (k) SCD TYPE 2")
    lha.sql("UPDATE src SET amt = 2.00 WHERE k = 'a'")
    # fresh session, fresh handles — watermark must ride the table
    s2 = LakehouseSession(spark)
    s2.create("src", str(tmp_path / "src"))
    s2.create("dim", str(tmp_path / "dim"))
    r = s2.sql(
        "APPLY CHANGES INTO dim FROM CHANGES(src) KEYS (k) SCD TYPE 2"
    ).first()
    assert r["mode"] == "incremental"
    assert _hist_rows(lha) == {
        ("a", Decimal("1.00"), 0, 1, False),
        ("a", Decimal("2.00"), 1, None, True),
    }


def test_apply_changes_rejections(spark, lha):
    _mk(spark, [("a", "1.00")]).createOrReplaceTempView("d0")
    lha.sql("CREATE TABLE src AS SELECT * FROM d0")
    lha.sql("APPLY CHANGES INTO dim FROM CHANGES(src) KEYS (k) SCD TYPE 2")
    with pytest.raises(ValueError, match="KEYS"):
        lha.sql(
            "APPLY CHANGES INTO dim FROM CHANGES(src) KEYS (amt) "
            "SCD TYPE 2"
        )
    with pytest.raises(ValueError, match="KEYS entries"):
        lha.sql(
            "APPLY CHANGES INTO dim FROM CHANGES(src) KEYS (k+1) "
            "SCD TYPE 2"
        )


# ---------------------------------------------------------------------------
# SQL CDF enablement (ALTER TABLE ... SET CHANGE FEED / WITH CHANGE FEED)
# ---------------------------------------------------------------------------


def test_alter_table_set_change_feed_persists(spark, lh, tmp_path):
    """Enablement is a TABLE property riding the manifest: a FRESH
    handle (no constructor flag) must keep materializing feeds, and
    WITH BACKFILL must cover pre-enablement commits so a stream can
    start from version 0."""
    _mk(spark, [("a", "1.00")]).createOrReplaceTempView("cf0")
    lh.sql("CREATE TABLE base AS SELECT * FROM cf0")  # v0: no feed yet
    r = lh.sql(
        "ALTER TABLE base SET CHANGE FEED = true WITH BACKFILL"
    ).first()
    assert r["op"] == "set_change_feed"
    # fresh handle, no flag: inherits enablement from the manifest
    vt2 = VersionedTable(lh.table("base").path)
    assert vt2.change_feed is True
    vt2.delete_where(spark, "k = 'a'")
    feed = vt2.stream_changes(spark)  # completeness guard must pass
    assert feed is not None
    # v0 backfilled as snapshot-inserts, delete commit fed by vt2
    import os as _os
    assert _os.path.isdir(vt2._cdf_version_dir(0))
    assert any(
        _os.path.isdir(vt2._cdf_version_dir(v))
        for v in vt2.versions()
        if v > 1
    ) or _os.path.isdir(vt2._cdf_version_dir(2))


def test_alter_table_set_change_feed_false_disables(spark, lh):
    _mk(spark, [("a", "1.00")]).createOrReplaceTempView("cf1")
    lh.sql("CREATE TABLE base AS SELECT * FROM cf1")
    lh.sql("ALTER TABLE base SET CHANGE FEED = true")
    lh.sql("ALTER TABLE base SET CHANGE FEED = false")
    vt2 = VersionedTable(lh.table("base").path)
    assert vt2.change_feed is False
    with pytest.raises(ValueError, match="change_feed=True"):
        vt2.stream_changes(spark)


def test_create_mv_with_change_feed_clause_cascades(spark, tmp_path):
    """The WITH CHANGE FEED clause makes tier-1 REFRESH commits emit a
    CDF that a tier-2 MV folds — no Python constructor flag anywhere,
    and a FRESH session refreshes both tiers."""
    s = LakehouseSession(spark)
    s.create("base", str(tmp_path / "b"))
    s.create("t1", str(tmp_path / "t1"))
    s.create("t2", str(tmp_path / "t2"))
    _mk(spark, [("a", "1.00"), ("a", "2.00"), ("b", "5.00")]) \
        .createOrReplaceTempView("wcf0")
    s.sql("CREATE TABLE base AS SELECT * FROM wcf0")
    s.sql(
        "CREATE MATERIALIZED VIEW t1 WITH CHANGE FEED AS "
        "SELECT k, SUM(amt) AS total, COUNT(*) AS n FROM base GROUP BY k"
    )
    s.sql(
        "CREATE MATERIALIZED VIEW t2 AS SELECT total, COUNT(*) AS nk "
        "FROM t1 GROUP BY total"
    )
    s.sql("UPDATE base SET amt = amt * 2 WHERE k = 'a'")
    # fresh session: enablement must ride the table, not the handle
    s2 = LakehouseSession(spark)
    s2.create("base", str(tmp_path / "b"))
    s2.create("t1", str(tmp_path / "t1"))
    s2.create("t2", str(tmp_path / "t2"))
    r1 = s2.sql("REFRESH MATERIALIZED VIEW t1").first()
    r2 = s2.sql("REFRESH MATERIALIZED VIEW t2").first()
    assert (r1["mode"], r2["mode"]) == ("incremental", "incremental")
    want = {
        (r["total"], r["nk"])
        for r in s2.sql(
            "SELECT total, COUNT(*) AS nk FROM "
            "(SELECT k, SUM(amt) AS total FROM base GROUP BY k) "
            "GROUP BY total"
        ).collect()
    }
    got = {
        (r["total"], r["nk"])
        for r in s2.sql("SELECT total, nk FROM t2").collect()
    }
    assert got == want


def test_create_mv_version_as_of(spark, lh):
    """VERSION AS OF in the MV definition creates the view — watermark
    included — at a historical snapshot; the first REFRESH folds
    everything committed since."""
    _mk(spark, [("a", "1.00"), ("b", "5.00")]).createOrReplaceTempView("ao0")
    lh.sql("CREATE TABLE base AS SELECT * FROM ao0")          # v0
    lh.sql("UPDATE base SET amt = amt * 2 WHERE k = 'a'")      # v1
    lh.sql("DELETE FROM base WHERE k = 'b'")                   # v2
    lh.sql(
        "CREATE MATERIALIZED VIEW mv AS SELECT k, SUM(amt) AS total, "
        "COUNT(*) AS n FROM base VERSION AS OF 0 GROUP BY k"
    )
    # MV reflects v0, not head
    assert _mv_rows(lh) == {
        ("a", Decimal("1.00"), 1), ("b", Decimal("5.00"), 1)
    }
    assert definition(lh.table("mv"))["base_version"] == 0
    r = lh.sql("REFRESH MATERIALIZED VIEW mv").first()
    assert r["mode"] == "incremental"
    assert _mv_rows(lh) == _recompute(lh) == {("a", Decimal("2.00"), 1)}


def test_distinct_vacuumed_watermark_full_rebuild_realigns_support(spark, lh):
    """VacuumedVersionError → REFRESH FULL must rebuild the support
    tables alongside the MV, and later increments must fold exactly."""
    _dcreate(spark, lh, [("a", 1, "1.00"), ("a", 2, "2.00")])
    base = lh.table("base")
    lh.sql("DELETE FROM base WHERE cust = 2")
    lh.sql("UPDATE base SET amt = amt * 3 WHERE cust = 1")
    base.vacuum(retain_last=1, min_file_age_s=0.0, retain_recent_s=0.0)
    with pytest.raises(VacuumedVersionError):
        lh.sql("REFRESH MATERIALIZED VIEW mv")
    r = lh.sql("REFRESH MATERIALIZED VIEW mv FULL").first()
    assert r["mode"] == "full"
    assert _drows(lh) == _drecompute(lh)
    _mk3(spark, [("a", 9, "4.00")]).createOrReplaceTempView("dvac")
    lh.sql("INSERT INTO base SELECT * FROM dvac")
    r = lh.sql("REFRESH MATERIALIZED VIEW mv").first()
    assert r["mode"] == "incremental"
    assert _drows(lh) == _drecompute(lh)


def test_rejected_with_change_feed_does_not_arm_flag(spark, lh):
    """A rejected CREATE ... WITH CHANGE FEED must roll the handle's
    flag back — a later plain CREATE must NOT persist the property."""
    _mk(spark, [("a", "1.00")]).createOrReplaceTempView("wcfr")
    lh.sql("CREATE TABLE base AS SELECT * FROM wcfr")
    with pytest.raises(ValueError, match="collide"):
        lh.sql(
            "CREATE MATERIALIZED VIEW mv WITH CHANGE FEED AS "
            "SELECT k, SUM(amt) AS k FROM base GROUP BY k"
        )
    lh.sql(
        "CREATE MATERIALIZED VIEW mv AS SELECT k, SUM(amt) AS t "
        "FROM base GROUP BY k"
    )
    assert VersionedTable(lh.table("mv").path).change_feed is False


def test_describe_shows_count_distinct(spark, lh):
    _dcreate(spark, lh, [("a", 1, "1.00")])
    row = lh.sql("DESCRIBE MATERIALIZED VIEW mv").first()
    assert "COUNT(DISTINCT cust) AS n_custs" in row["aggregates"]


def test_stream_floor_advances_past_empty_churn_commit(spark, lhs):
    """A DATA commit whose net churn is empty (an INSERT of zero rows)
    materializes a zero-row feed file; the floor must advance past it
    instead of accumulating an exception set forever."""
    base, mv = _two_commits(spark, lhs)            # v0..v2
    # v3: a data commit with EMPTY net churn → zero-row feed file
    lhs.sql("INSERT INTO base SELECT * FROM oo2 WHERE 1 = 0")
    _mk(spark, [("d", "4.00")]).createOrReplaceTempView("oo4")
    lhs.sql("INSERT INTO base SELECT * FROM oo4")          # v4
    n = stream_refresh_materialized_view(
        spark, mv, base, str(lhs.table("base").path + "_ck"),
        max_files_per_trigger=1,
    )
    assert n >= 1
    d = definition(mv)
    assert d["base_version"] == 4 and d["stream_folded"] == []
    assert _mv_rows(lhs) == _recompute(lhs)


def test_apply_changes_trailing_feedless_advances_watermark(spark, lha):
    """A fold's stored watermark covers the feedless run right after
    it, so a later APPLY is a pure noop without re-walking OPTIMIZE
    commits."""
    _mk(spark, [("a", "1.00")]).createOrReplaceTempView("tf0")
    lha.sql("CREATE TABLE src AS SELECT * FROM tf0")
    lha.sql("APPLY CHANGES INTO dim FROM CHANGES(src) KEYS (k) SCD TYPE 2")
    lha.sql("UPDATE src SET amt = 2.00 WHERE k = 'a'")
    lha.sql("OPTIMIZE src")  # trailing feedless commit
    r = lha.sql(
        "APPLY CHANGES INTO dim FROM CHANGES(src) KEYS (k) SCD TYPE 2"
    ).first()
    assert r["mode"] == "incremental"
    from aws_lakehouse_project_spark.plans.apply_changes import _watermark
    wm = _watermark(lha.table("dim"))
    assert wm["src_version"] == lha.table("src").latest_version()
    r = lha.sql(
        "APPLY CHANGES INTO dim FROM CHANGES(src) KEYS (k) SCD TYPE 2"
    ).first()
    assert r["mode"] == "noop"


def test_vacuum_and_optimize_cascade_to_support_tables(spark, lh):
    """SQL VACUUM / OPTIMIZE on a distinct MV must maintain its hidden
    support tables too — they take a commit per REFRESH and the user
    cannot name them."""
    from aws_lakehouse_project_spark.plans.matview import support_tables

    _dcreate(spark, lh, [("a", 1, "1.00"), ("b", 2, "2.00")])
    for i in range(3):
        _mk3(spark, [("a", 10 + i, f"{i + 1}.00")]).createOrReplaceTempView(
            "supx"
        )
        lh.sql("INSERT INTO base SELECT * FROM supx")
        lh.sql("REFRESH MATERIALIZED VIEW mv")
    [sup] = support_tables(lh.table("mv"))
    n0 = len(sup.versions())
    assert n0 >= 4  # create + 3 refresh folds
    r = lh.sql("VACUUM mv RETAIN 1 VERSIONS NO RETENTION CHECK").first()
    assert r["removed_versions"] > 0
    assert len(sup.versions()) < n0  # support log shrank with the MV's
    lh.sql("OPTIMIZE mv")
    assert sup.history()[-1]["op"] == "optimize"
    # the view still reads correctly and further refreshes fold
    assert _drows(lh) == _drecompute(lh)
    _mk3(spark, [("c", 99, "9.00")]).createOrReplaceTempView("supy")
    lh.sql("INSERT INTO base SELECT * FROM supy")
    lh.sql("REFRESH MATERIALIZED VIEW mv")
    assert _drows(lh) == _drecompute(lh)


# ---------------------------------------------------------------------------
# APPLY CHANGES: SCD TYPE 1 and SEQUENCE BY
# ---------------------------------------------------------------------------


def _mk_seq(spark, rows):
    return spark.createDataFrame(
        [Row(k=k, amt=Decimal(a), seq=s) for k, a, s in rows],
        "k string, amt decimal(12,2), seq bigint",
    )


def test_apply_changes_scd1(spark, lha):
    _mk(spark, [("a", "1.00"), ("b", "2.00")]).createOrReplaceTempView("t1a")
    lha.sql("CREATE TABLE src AS SELECT * FROM t1a")
    r = lha.sql(
        "APPLY CHANGES INTO dim FROM CHANGES(src) KEYS (k) SCD TYPE 1"
    ).first()
    assert r["mode"] == "init"
    lha.sql("UPDATE src SET amt = amt * 10 WHERE k = 'a'")
    lha.sql("DELETE FROM src WHERE k = 'b'")
    _mk(spark, [("c", "9.00")]).createOrReplaceTempView("t1b")
    lha.sql("INSERT INTO src SELECT * FROM t1b")
    r = lha.sql(
        "APPLY CHANGES INTO dim FROM CHANGES(src) KEYS (k) SCD TYPE 1"
    ).first()
    assert r["mode"] == "incremental"
    got = {tuple(r) for r in lha.sql("SELECT k, amt FROM dim").collect()}
    want = {tuple(r) for r in lha.sql("SELECT k, amt FROM src").collect()}
    assert got == want == {("a", Decimal("10.00")), ("c", Decimal("9.00"))}
    # type mismatch on an existing history is refused
    with pytest.raises(ValueError, match="SCD TYPE"):
        lha.sql(
            "APPLY CHANGES INTO dim FROM CHANGES(src) KEYS (k) SCD TYPE 2"
        )


def test_apply_changes_sequence_by_dedups_and_drops_late(spark, lha):
    """SEQUENCE BY: a multi-row key collapses to its highest-sequence
    row; a later commit carrying a LOWER sequence is dropped instead
    of regressing the dimension; same-key history stays one-open."""
    _mk_seq(spark, [("a", "1.00", 10)]).createOrReplaceTempView("sq0")
    lha.sql("CREATE TABLE src AS SELECT * FROM sq0")
    stmt = (
        "APPLY CHANGES INTO dim FROM CHANGES(src) KEYS (k) "
        "SEQUENCE BY seq SCD TYPE 2"
    )
    lha.sql(stmt)
    # commit 1: two rows for 'a' in one batch (seq 30 wins), plus 'b'
    _mk_seq(
        spark, [("a", "3.00", 30), ("a", "2.00", 20), ("b", "5.00", 1)]
    ).createOrReplaceTempView("sq1")
    lha.sql("INSERT INTO src SELECT * FROM sq1")
    lha.sql(stmt)
    rows = {
        tuple(r)
        for r in lha.sql(
            "SELECT k, amt, seq, is_current FROM dim WHERE is_current"
        ).collect()
    }
    assert rows == {
        ("a", Decimal("3.00"), 30, True),
        ("b", Decimal("5.00"), 1, True),
    }
    # commit 2: a LATE row for 'a' (seq 25 < 30) — dropped, no close
    lha.sql("DELETE FROM src WHERE seq = 20")  # tidy the dup row first
    lha.sql(stmt)
    _mk_seq(spark, [("a", "9.99", 25)]).createOrReplaceTempView("sq2")
    lha.sql("INSERT INTO src SELECT * FROM sq2")
    r = lha.sql(stmt).first()
    cur = {
        (r2["k"], r2["amt"], r2["seq"])
        for r2 in lha.sql(
            "SELECT k, amt, seq FROM dim WHERE is_current"
        ).collect()
    }
    assert ("a", Decimal("3.00"), 30) in cur  # late row did not regress
    assert ("a", Decimal("9.99"), 25) not in cur
    # one open row per key throughout
    opens = lha.sql(
        "SELECT k, COUNT(*) AS n FROM dim WHERE is_current GROUP BY k"
    ).collect()
    assert all(r["n"] == 1 for r in opens)


def test_apply_changes_scd1_sequence_by(spark, lha):
    _mk_seq(
        spark, [("a", "1.00", 5), ("a", "2.00", 7)]
    ).createOrReplaceTempView("s1q0")
    lha.sql("CREATE TABLE src AS SELECT * FROM s1q0")
    stmt = (
        "APPLY CHANGES INTO dim FROM CHANGES(src) KEYS (k) "
        "SEQUENCE BY seq SCD TYPE 1"
    )
    lha.sql(stmt)  # init dedups the snapshot to seq 7
    got = {tuple(r) for r in lha.sql("SELECT k, amt, seq FROM dim").collect()}
    assert got == {("a", Decimal("2.00"), 7)}
    # a late arrival in a new commit is dropped
    _mk_seq(spark, [("a", "0.50", 6)]).createOrReplaceTempView("s1q1")
    lha.sql("INSERT INTO src SELECT * FROM s1q1")
    lha.sql(stmt)
    got = {tuple(r) for r in lha.sql("SELECT k, amt, seq FROM dim").collect()}
    assert got == {("a", Decimal("2.00"), 7)}
    # a fresh (higher-seq) change applies
    _mk_seq(spark, [("a", "4.00", 9)]).createOrReplaceTempView("s1q2")
    lha.sql("INSERT INTO src SELECT * FROM s1q2")
    lha.sql(stmt)
    got = {tuple(r) for r in lha.sql("SELECT k, amt, seq FROM dim").collect()}
    assert got == {("a", Decimal("4.00"), 9)}


def test_apply_changes_sequence_by_rejections(spark, lha):
    _mk(spark, [("a", "1.00")]).createOrReplaceTempView("sqr0")
    lha.sql("CREATE TABLE src AS SELECT * FROM sqr0")
    with pytest.raises(ValueError, match="SEQUENCE BY column"):
        lha.sql(
            "APPLY CHANGES INTO dim FROM CHANGES(src) KEYS (k) "
            "SEQUENCE BY nope SCD TYPE 2"
        )
    lha.sql("APPLY CHANGES INTO dim FROM CHANGES(src) KEYS (k) SCD TYPE 2")
    with pytest.raises(ValueError, match="SEQUENCE BY"):
        lha.sql(
            "APPLY CHANGES INTO dim FROM CHANGES(src) KEYS (k) "
            "SEQUENCE BY amt SCD TYPE 2"
        )


# ---------------------------------------------------------------------------
# SEQUENCE BY: NULL rejection + churn-key prune; MV restore guard
# ---------------------------------------------------------------------------


def test_apply_changes_null_sequence_rejected(spark, lha):
    """DLT's contract: NULL SEQUENCE BY values are rejected outright —
    NULL orders against nothing, so accepting one would silently drop
    or misorder changes. Both the initial snapshot and a later commit's
    feed fail loudly."""
    spark.createDataFrame(
        [Row(k="a", amt=Decimal("1.00"), seq=None)],
        "k string, amt decimal(12,2), seq bigint",
    ).createOrReplaceTempView("nq0")
    lha.sql("CREATE TABLE src AS SELECT * FROM nq0")
    stmt = (
        "APPLY CHANGES INTO dim FROM CHANGES(src) KEYS (k) "
        "SEQUENCE BY seq SCD TYPE 2"
    )
    with pytest.raises(ValueError, match="NULL value in SEQUENCE BY"):
        lha.sql(stmt)
    # clean snapshot inits fine; a NULL-seq row in a LATER commit raises
    lha.sql("DELETE FROM src WHERE seq IS NULL")
    _mk_seq(spark, [("a", "1.00", 1)]).createOrReplaceTempView("nq1")
    lha.sql("INSERT INTO src SELECT * FROM nq1")
    lha.sql(stmt)
    spark.createDataFrame(
        [Row(k="b", amt=Decimal("2.00"), seq=None)],
        "k string, amt decimal(12,2), seq bigint",
    ).createOrReplaceTempView("nq2")
    lha.sql("INSERT INTO src SELECT * FROM nq2")
    with pytest.raises(ValueError, match="NULL value in SEQUENCE BY"):
        lha.sql(stmt)


def test_sequence_filter_prunes_cur_to_churn_keys(spark):
    """The SEQUENCE BY late-arrival check reads the current dimension
    LEFT-SEMI pruned to the feed's keys — per-commit cost is a
    broadcast semi join against churn-sized keys, never a full-dim
    shuffle (VERDICT r12: same shape as the SCD2 close pass)."""
    from aws_lakehouse_project_spark.plans.apply_changes import (
        _sequence_filter,
    )

    delta = spark.createDataFrame(
        [Row(_change_type="insert", k="a", amt=Decimal("2.00"), seq=2)],
        "_change_type string, k string, amt decimal(12,2), seq bigint",
    )
    cur = _mk_seq(
        spark, [("a", "1.00", 1), ("b", "5.00", 9), ("c", "6.00", 9)]
    )
    out = _sequence_filter(delta, cur, ["k"], ["amt", "seq"], "seq")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftSemi" in plan  # cur pruned before its (keys, seq) read
    rows = {(r["_change_type"], r["k"], r["seq"]) for r in out.collect()}
    assert rows == {("insert", "a", 2)}  # b/c untouched, a's 2 > 1


def test_restore_guard_refuses_incremental_after_mv_restore(spark, lh):
    """RESTORE of the MV rolls its rows back but not its watermark meta
    — incremental refresh (or a streaming fold) would fold new churn
    onto stale rows. The guard detects the restore commit and demands
    REFRESH ... FULL, which rebuilds and re-arms."""
    _create(spark, lh, [("a", "1.00"), ("b", "5.00")])
    lh.sql("UPDATE base SET amt = amt + 1 WHERE k = 'a'")
    lh.sql("REFRESH MATERIALIZED VIEW mv")  # mv v1 carries watermark
    lh.sql("RESTORE TABLE mv TO VERSION AS OF 0")
    lh.sql("UPDATE base SET amt = amt + 1 WHERE k = 'b'")
    with pytest.raises(ValueError, match="RESTOREd"):
        lh.sql("REFRESH MATERIALIZED VIEW mv")
    r = lh.sql("REFRESH MATERIALIZED VIEW mv FULL").first()
    assert r["mode"] == "full"
    assert _mv_rows(lh) == _recompute(lh)
    # watermark re-armed: incremental works again after the rebuild
    lh.sql("UPDATE base SET amt = amt + 1 WHERE k = 'a'")
    r = lh.sql("REFRESH MATERIALIZED VIEW mv").first()
    assert r["mode"] == "incremental"
    assert _mv_rows(lh) == _recompute(lh)


def test_mv_filter_clause_aggregates(spark, lh):
    """``COUNT(*) FILTER (WHERE p)`` / ``SUM(e) FILTER (WHERE p)``
    desugar onto the SUM fold with exact semantics: the filtered count
    is 0 (not NULL) when no row matches while the group lives; the
    filtered sum is NULL then. Fold ≡ recompute under UPDATE/DELETE
    churn (the reference's converted-leads shape)."""
    _mk3(
        spark,
        [("a", 1, "1.00"), ("a", 2, "2.00"), ("b", 1, "5.00")],
    ).createOrReplaceTempView("fsrc")
    lh.sql("CREATE TABLE base AS SELECT * FROM fsrc")
    lh.sql(
        "CREATE MATERIALIZED VIEW mv AS SELECT k, "
        "COUNT(*) FILTER (WHERE cust = 1) AS n_c1, "
        "SUM(amt) FILTER (WHERE cust = 1) AS amt_c1, "
        "COUNT(*) AS n FROM base GROUP BY k"
    )

    def recompute():
        return {
            tuple(r)
            for r in lh.sql(
                "SELECT k, COUNT(*) FILTER (WHERE cust = 1) AS n_c1, "
                "SUM(amt) FILTER (WHERE cust = 1) AS amt_c1, "
                "COUNT(*) AS n FROM base GROUP BY k"
            ).collect()
        }

    q = "SELECT k, n_c1, amt_c1, n FROM mv"
    assert {tuple(r) for r in lh.sql(q).collect()} == recompute() == {
        ("a", 1, Decimal("1.00"), 2),
        ("b", 1, Decimal("5.00"), 1),
    }
    # churn: the last cust=1 row of 'a' leaves (count -> 0, sum -> NULL)
    lh.sql("DELETE FROM base WHERE k = 'a' AND cust = 1")
    lh.sql("UPDATE base SET amt = amt + 1 WHERE k = 'b'")
    r = lh.sql("REFRESH MATERIALIZED VIEW mv").first()
    assert r["mode"] == "incremental"
    got = {tuple(r2) for r2 in lh.sql(q).collect()}
    assert got == recompute() == {
        ("a", 0, None, 1),
        ("b", 1, Decimal("6.00"), 1),
    }
    # every aggregate kind takes FILTER via the CASE desugar — MIN
    # rides the rescan machinery (NULLs ignored), COUNT(DISTINCT) the
    # support table (NULL values never counted)
    lh.create("mv2", str(lh.table("mv").path) + "2")
    lh.sql(
        "CREATE MATERIALIZED VIEW mv2 AS SELECT k, "
        "MIN(amt) FILTER (WHERE cust = 2) AS lo_c2, "
        "AVG(amt) FILTER (WHERE cust = 2) AS avg_c2, "
        "COUNT(DISTINCT amt) FILTER (WHERE cust = 2) AS nv_c2, "
        "COUNT(*) AS n FROM base GROUP BY k"
    )
    lh.sql("DELETE FROM base WHERE k = 'b'")
    lh.sql("REFRESH MATERIALIZED VIEW mv2")
    got = {
        tuple(r2)
        for r2 in lh.sql(
            "SELECT k, lo_c2, avg_c2, nv_c2, n FROM mv2"
        ).collect()
    }
    want = {
        tuple(r2)
        for r2 in lh.sql(
            "SELECT k, MIN(amt) FILTER (WHERE cust = 2) AS lo_c2, "
            "CAST(AVG(amt) FILTER (WHERE cust = 2) AS DOUBLE) AS avg_c2, "
            "COUNT(DISTINCT amt) FILTER (WHERE cust = 2) AS nv_c2, "
            "COUNT(*) AS n FROM base GROUP BY k"
        ).collect()
    }
    assert got == want
    # malformed FILTER items still refuse rather than mis-parse
    with pytest.raises(ValueError, match="FILTER"):
        lh.sql(
            "CREATE MATERIALIZED VIEW mv2 AS SELECT k, "
            "COUNT(amt) FILTER (WHERE cust = 1) AS m FROM base GROUP BY k"
        )


def test_apply_changes_delete_when_and_except(spark, lha):
    """APPLY AS DELETE WHEN + COLUMNS * EXCEPT (DLT's CDC clause set):
    snapshot rows matching the condition never enter; a later additive
    change matching it deletes the key; the marker column stays out of
    the target while the condition still reads it; SCD2 closes (never
    reopens) on a soft delete."""
    spark.createDataFrame(
        [
            Row(k="a", amt=Decimal("1.00"), op="I"),
            Row(k="b", amt=Decimal("2.00"), op="D"),  # dead on arrival
        ],
        "k string, amt decimal(12,2), op string",
    ).createOrReplaceTempView("cdc0")
    lha.sql("CREATE TABLE src AS SELECT * FROM cdc0")
    stmt = (
        "APPLY CHANGES INTO dim FROM CHANGES(src) KEYS (k) "
        "APPLY AS DELETE WHEN op = 'D' COLUMNS * EXCEPT (op) SCD TYPE 2"
    )
    lha.sql(stmt)
    rows = {tuple(r) for r in lha.sql("SELECT * FROM dim").collect()}
    cols = lha.sql("SELECT * FROM dim").columns
    assert "op" not in cols
    assert rows == {("a", Decimal("1.00"), 0, None, True)}
    # soft delete: op flips to 'D' — the SCD2 row closes
    lha.sql("UPDATE src SET op = 'D' WHERE k = 'a'")
    lha.sql(stmt)
    rows = {
        tuple(r)
        for r in lha.sql("SELECT k, amt, end_v, is_current FROM dim").collect()
    }
    assert rows == {("a", Decimal("1.00"), 1, False)}
    # drift guard: re-running with different clauses is refused
    with pytest.raises(ValueError, match="DELETE\\s+WHEN"):
        lha.sql(
            "APPLY CHANGES INTO dim FROM CHANGES(src) KEYS (k) "
            "COLUMNS * EXCEPT (op) SCD TYPE 2"
        )
    # validation: EXCEPT cannot drop keys / unknown / SEQUENCE BY column
    with pytest.raises(ValueError, match="EXCEPT cannot drop KEYS"):
        lha.sql(
            "APPLY CHANGES INTO dim FROM CHANGES(src) KEYS (k) "
            "APPLY AS DELETE WHEN op = 'D' COLUMNS * EXCEPT (k, op) "
            "SCD TYPE 2"
        )
    with pytest.raises(ValueError, match="EXCEPT names"):
        lha.sql(
            "APPLY CHANGES INTO dim FROM CHANGES(src) KEYS (k) "
            "APPLY AS DELETE WHEN op = 'D' COLUMNS * EXCEPT (nope) "
            "SCD TYPE 2"
        )
    with pytest.raises(ValueError, match="SEQUENCE"):
        lha.sql(
            "APPLY CHANGES INTO dim FROM CHANGES(src) KEYS (k) "
            "SEQUENCE BY amt COLUMNS * EXCEPT (amt) SCD TYPE 2"
        )


def test_apply_changes_ignore_null_updates(spark, lha):
    """IGNORE NULL UPDATES (DLT): a NULL attr in an additive change
    keeps the key's current value (partial-column CDC merge); without
    the flag the NULL overwrites. SCD1 and SCD2 both honor it; drift
    vs the stored watermark is refused."""
    spark.createDataFrame(
        [Row(k="a", amt=Decimal("1.00"), note="first")],
        "k string, amt decimal(12,2), note string",
    ).createOrReplaceTempView("inu0")
    lha.sql("CREATE TABLE src AS SELECT * FROM inu0")
    stmt = (
        "APPLY CHANGES INTO dim FROM CHANGES(src) KEYS (k) "
        "IGNORE NULL UPDATES SCD TYPE 1"
    )
    lha.sql(stmt)
    # partial update: amt moves, note arrives NULL — note must survive
    lha.sql("UPDATE src SET amt = 2.00, note = NULL WHERE k = 'a'")
    lha.sql(stmt)
    got = {tuple(r) for r in lha.sql("SELECT k, amt, note FROM dim").collect()}
    assert got == {("a", Decimal("2.00"), "first")}
    # flag drift is refused
    with pytest.raises(ValueError, match="IGNORE NULL"):
        lha.sql(
            "APPLY CHANGES INTO dim FROM CHANGES(src) KEYS (k) SCD TYPE 1"
        )


def test_apply_changes_ignore_null_updates_scd2(spark, lha):
    """SCD2 + IGNORE NULL UPDATES: the newly-opened history row
    inherits the closing row's value for NULL attrs; a brand-new key's
    NULLs stay NULL (nothing to preserve)."""
    spark.createDataFrame(
        [Row(k="a", amt=Decimal("1.00"), note="keepme")],
        "k string, amt decimal(12,2), note string",
    ).createOrReplaceTempView("inu2a")
    lha.sql("CREATE TABLE src AS SELECT * FROM inu2a")
    stmt = (
        "APPLY CHANGES INTO dim FROM CHANGES(src) KEYS (k) "
        "IGNORE NULL UPDATES SCD TYPE 2"
    )
    lha.sql(stmt)
    lha.sql("UPDATE src SET amt = 5.00, note = NULL WHERE k = 'a'")
    spark.createDataFrame(
        [Row(k="b", amt=Decimal("9.00"), note=None)],
        "k string, amt decimal(12,2), note string",
    ).createOrReplaceTempView("inu2b")
    lha.sql("INSERT INTO src SELECT * FROM inu2b")
    lha.sql(stmt)
    cur = {
        tuple(r)
        for r in lha.sql(
            "SELECT k, amt, note FROM dim WHERE is_current"
        ).collect()
    }
    assert cur == {
        ("a", Decimal("5.00"), "keepme"),  # inherited across the close
        ("b", Decimal("9.00"), None),      # new key: nothing to keep
    }
    closed = {
        tuple(r)
        for r in lha.sql(
            "SELECT k, amt, note FROM dim WHERE NOT is_current"
        ).collect()
    }
    assert closed == {("a", Decimal("1.00"), "keepme")}


def test_apply_changes_track_history_except(spark, lha):
    """TRACK HISTORY ON * EXCEPT (DLT): an untracked-only change
    updates the current row IN PLACE (same start_v, no close, no new
    row); a tracked change still closes+opens; the in-place key's
    paired preimage never leaks into the fold as a delete; TYPE 1
    refuses the clause."""
    spark.createDataFrame(
        [Row(k="a", seg="s1", bal=Decimal("10.00")),
         Row(k="b", seg="s1", bal=Decimal("20.00"))],
        "k string, seg string, bal decimal(12,2)",
    ).createOrReplaceTempView("th0")
    lha.sql("CREATE TABLE src AS SELECT * FROM th0")
    stmt = (
        "APPLY CHANGES INTO dim FROM CHANGES(src) KEYS (k) "
        "TRACK HISTORY ON * EXCEPT (bal) SCD TYPE 2"
    )
    lha.sql(stmt)
    # untracked-only churn: bal moves, seg doesn't — in-place update
    lha.sql("UPDATE src SET bal = bal + 5 WHERE k = 'a'")
    r = lha.sql(stmt).first()
    assert r["mode"] == "incremental"
    rows = {
        tuple(r2)
        for r2 in lha.sql(
            "SELECT k, seg, bal, start_v, end_v, is_current FROM dim"
        ).collect()
    }
    assert rows == {
        ("a", "s1", Decimal("15.00"), 0, None, True),  # in place
        ("b", "s1", Decimal("20.00"), 0, None, True),
    }
    # tracked churn: seg moves — ordinary close+open; and one MIXED
    # commit where a's bal ALSO moved earlier stays closed-immutable
    lha.sql("UPDATE src SET seg = 's2' WHERE k = 'a'")
    lha.sql(stmt)
    rows = {
        tuple(r2)
        for r2 in lha.sql(
            "SELECT k, seg, bal, start_v, end_v, is_current FROM dim"
        ).collect()
    }
    assert rows == {
        ("a", "s1", Decimal("15.00"), 0, 2, False),
        ("a", "s2", Decimal("15.00"), 2, None, True),
        ("b", "s1", Decimal("20.00"), 0, None, True),
    }
    # deletes still close even under track-history
    lha.sql("DELETE FROM src WHERE k = 'b'")
    lha.sql(stmt)
    cur = {
        tuple(r2)
        for r2 in lha.sql(
            "SELECT k, is_current FROM dim WHERE k = 'b'"
        ).collect()
    }
    assert cur == {("b", False)}
    # drift + TYPE 1 refusals
    with pytest.raises(ValueError, match="TRACK HISTORY"):
        lha.sql(
            "APPLY CHANGES INTO dim FROM CHANGES(src) KEYS (k) SCD TYPE 2"
        )
    with pytest.raises(ValueError, match="TYPE 2 only"):
        lha.sql(
            "APPLY CHANGES INTO dim FROM CHANGES(src) KEYS (k) "
            "TRACK HISTORY ON * EXCEPT (bal) SCD TYPE 1"
        )
    with pytest.raises(ValueError, match="not stored attribute"):
        lha.sql(
            "APPLY CHANGES INTO dim FROM CHANGES(src) KEYS (k) "
            "TRACK HISTORY ON * EXCEPT (nope) SCD TYPE 2"
        )


def test_mv_expression_group_keys(spark, tmp_path):
    """Expression group keys: the alias column never exists on the
    base; refresh ≡ recompute across churn that moves rows between
    expression groups and retracts extrema (MIN forces the rescan
    through the expression); both GROUP BY spellings accepted;
    shadowing a base column and JOIN-view expr keys are refused."""
    lh = LakehouseSession(spark)
    lh.create("base", str(tmp_path / "b"))
    lh.create("mv", str(tmp_path / "m"))
    spark.createDataFrame(
        [
            Row(k="aa", amt=Decimal("1.00")),
            Row(k="ab", amt=Decimal("2.00")),
            Row(k="bb", amt=Decimal("5.00")),
        ],
        "k string, amt decimal(12,2)",
    ).createOrReplaceTempView("ek0")
    lh.sql("CREATE TABLE base AS SELECT * FROM ek0")
    lh.sql(
        "CREATE MATERIALIZED VIEW mv AS "
        "SELECT substring(k, 1, 1) AS fam, SUM(amt) AS total, "
        "MIN(amt) AS lo, COUNT(*) AS n "
        "FROM base GROUP BY substring(k, 1, 1)"
    )

    def recompute():
        return {
            tuple(r)
            for r in lh.sql(
                "SELECT substring(k, 1, 1) AS fam, SUM(amt) AS total, "
                "MIN(amt) AS lo, COUNT(*) AS n FROM base GROUP BY 1"
            ).collect()
        }

    q = "SELECT fam, total, lo, n FROM mv"
    assert {tuple(r) for r in lh.sql(q).collect()} == recompute()
    # churn: retract the 'a' family minimum + move a row across
    # families (the key itself changes => delete+insert in the feed)
    lh.sql("DELETE FROM base WHERE k = 'aa'")
    lh.sql("UPDATE base SET amt = amt + 1 WHERE k = 'bb'")
    _mk(spark, [("ba", "0.50")]).createOrReplaceTempView("ek1")
    lh.sql("INSERT INTO base SELECT * FROM ek1")
    r = lh.sql("REFRESH MATERIALIZED VIEW mv").first()
    assert r["mode"] == "incremental"
    assert {tuple(r2) for r2 in lh.sql(q).collect()} == recompute()
    # group retirement via expression
    lh.sql("DELETE FROM base WHERE k LIKE 'a%'")
    lh.sql("REFRESH MATERIALIZED VIEW mv")
    got = {tuple(r2) for r2 in lh.sql(q).collect()}
    assert got == recompute() and {g for g, *_ in got} == {"b"}
    # refusals: alias shadowing a base column; expr keys on JOIN views;
    # GROUP BY entry not selected
    lh.create("mvx", str(tmp_path / "mx"))
    with pytest.raises(ValueError, match="shadow"):
        lh.sql(
            "CREATE MATERIALIZED VIEW mvx AS "
            "SELECT upper(k) AS amt, COUNT(*) AS n FROM base "
            "GROUP BY upper(k)"
        )
    with pytest.raises(ValueError, match="not a selected"):
        lh.sql(
            "CREATE MATERIALIZED VIEW mvx AS "
            "SELECT upper(k) AS fam, COUNT(*) AS n FROM base "
            "GROUP BY nope"
        )
    lh.create("di", str(tmp_path / "d"))
    _mk_dim(spark, [("ba", "s1")]).createOrReplaceTempView("ekd")
    lh.sql("CREATE TABLE di AS SELECT * FROM ekd")
    # JOIN views accept per-side expressions (r14) but refuse a
    # genuine cross-side one — the join-slice rescan couldn't prune
    with pytest.raises(ValueError, match="BOTH join sides"):
        lh.sql(
            "CREATE MATERIALIZED VIEW mvx AS "
            "SELECT concat(seg, cast(amt as string)) AS s2, "
            "COUNT(*) AS n FROM base JOIN di USING (k) "
            "GROUP BY concat(seg, cast(amt as string))"
        )


def test_track_history_multi_row_key_routes_per_key(spark, lha):
    """Review fix: a commit carrying BOTH an untracked-only row and a
    tracked-change row for the same key (legal without SEQUENCE BY)
    must route the WHOLE key through the kernel — per-row routing
    would emit contradictory merge rows for the same (keys, start_v)
    and could leave two open rows. And a key with several
    untracked-only rows collapses to ONE in-place row."""
    spark.createDataFrame(
        [Row(k="a", seg="s1", bal=Decimal("10.00"))],
        "k string, seg string, bal decimal(12,2)",
    ).createOrReplaceTempView("thm0")
    lha.sql("CREATE TABLE src AS SELECT * FROM thm0")
    stmt = (
        "APPLY CHANGES INTO dim FROM CHANGES(src) KEYS (k) "
        "TRACK HISTORY ON * EXCEPT (bal) SCD TYPE 2"
    )
    lha.sql(stmt)
    # one commit inserts TWO rows for 'a': an untracked-only twin
    # (same seg, new bal) and a tracked change (new seg)
    spark.createDataFrame(
        [Row(k="a", seg="s1", bal=Decimal("99.00")),
         Row(k="a", seg="s2", bal=Decimal("10.00"))],
        "k string, seg string, bal decimal(12,2)",
    ).createOrReplaceTempView("thm1")
    lha.sql("INSERT INTO src SELECT * FROM thm1")
    lha.sql(stmt)
    rows = sorted(
        tuple(r)
        for r in lha.sql(
            "SELECT k, seg, bal, start_v, is_current FROM dim"
        ).collect()
    )
    # the whole key went through the kernel: row0 closed exactly once,
    # both new rows opened at ordinal 1; NO in-place rewrite of (a, 0)
    assert ("a", "s1", Decimal("10.00"), 0, False) in rows
    opens = [r for r in rows if r[4]]
    assert {(r[1], r[2]) for r in opens} == {
        ("s1", Decimal("99.00")), ("s2", Decimal("10.00")),
    }
    assert all(r[3] == 1 for r in opens)


def test_mv_rejects_unsupported_aggregate_items_precisely(spark, lh):
    """Review fix: COUNT(col) (or a misspelled aggregate) must hit the
    precise items error, not be absorbed as an expression group key
    and fail later inside withColumn with a raw AnalysisException."""
    _mk(spark, [("a", "1.00")]).createOrReplaceTempView("uai0")
    lh.sql("CREATE TABLE base AS SELECT * FROM uai0")
    with pytest.raises(ValueError, match="items must be group keys"):
        lh.sql(
            "CREATE MATERIALIZED VIEW mv AS SELECT k, "
            "COUNT(amt) AS n FROM base GROUP BY k"
        )


def test_track_history_same_commit_delete_insert_pair(spark, lha):
    """The same-commit shape: a feed carrying delete('a') AND
    insert('a') where the insert is untracked-only must close the old
    row and open the new one in ONE ordinal — scd2_apply_changes's
    documented close-old/open-new — not rewrite in place."""
    from aws_lakehouse_project_spark.plans.apply_changes import (
        apply_changes_scd2,
    )

    spark.createDataFrame(
        [Row(k="a", seg="s1", bal=Decimal("10.00")),
         Row(k="b", seg="s1", bal=Decimal("20.00"))],
        "k string, seg string, bal decimal(12,2)",
    ).createOrReplaceTempView("thsc0")
    lha.sql("CREATE TABLE src AS SELECT * FROM thsc0")
    apply_changes_scd2(
        spark, lha.table("dim"), lha.table("src"), "src", keys=["k"],
        track_except=["bal"],
    )
    # ONE source commit that deletes 'a' and inserts its untracked-only
    # twin: an overwrite diff yields delete+insert rows in one feed
    spark.createDataFrame(
        [Row(k="a", seg="s1", bal=Decimal("99.00")),
         Row(k="b", seg="s1", bal=Decimal("20.00"))],
        "k string, seg string, bal decimal(12,2)",
    ).createOrReplaceTempView("thsc1")
    lha.sql("CREATE OR REPLACE TABLE src AS SELECT * FROM thsc1")
    apply_changes_scd2(
        spark, lha.table("dim"), lha.table("src"), "src", keys=["k"],
        track_except=["bal"],
    )
    rows = {
        tuple(r)
        for r in lha.sql(
            "SELECT k, seg, bal, start_v, end_v, is_current FROM dim"
        ).collect()
    }
    # 'a' closed at ordinal 1 and reopened — NOT rewritten in place
    assert ("a", "s1", Decimal("10.00"), 0, 1, False) in rows
    assert ("a", "s1", Decimal("99.00"), 1, None, True) in rows
    # 'b' untouched (the overwrite diff nets to nothing for it)
    assert ("b", "s1", Decimal("20.00"), 0, None, True) in rows


def test_apply_changes_refuses_after_restore(spark, lha):
    """Review fix: RESTORE of the history table rolls its rows back
    but not the apply watermark — the next APPLY must refuse (the MV
    restore-guard doctrine) instead of folding post-watermark source
    changes onto rolled-back rows."""
    _mk(spark, [("a", "1.00")]).createOrReplaceTempView("rg0")
    lha.sql("CREATE TABLE src AS SELECT * FROM rg0")
    stmt = "APPLY CHANGES INTO dim FROM CHANGES(src) KEYS (k) SCD TYPE 2"
    lha.sql(stmt)
    lha.sql("UPDATE src SET amt = 2.00 WHERE k = 'a'")
    lha.sql(stmt)  # dim now has a closed + open row pair
    hv = lha.table("dim").latest_version()
    lha.sql(f"RESTORE TABLE dim TO VERSION AS OF {hv - 1}")
    lha.sql("UPDATE src SET amt = 3.00 WHERE k = 'a'")
    with pytest.raises(ValueError, match="RESTOREd"):
        lha.sql(stmt)
    # SCD TYPE 1 takes the same guard
    lha.create("dim1", str(lha.table("dim").path + "_d1"))
    stmt1 = "APPLY CHANGES INTO dim1 FROM CHANGES(src) KEYS (k) SCD TYPE 1"
    lha.sql(stmt1)
    lha.sql("UPDATE src SET amt = 4.00 WHERE k = 'a'")
    lha.sql(stmt1)
    lha.sql("RESTORE TABLE dim1 TO VERSION AS OF 0")
    lha.sql("UPDATE src SET amt = 5.00 WHERE k = 'a'")
    with pytest.raises(ValueError, match="RESTOREd"):
        lha.sql(stmt1)


def test_mv_expr_key_validated_at_create(spark, lh):
    """Review fix: an unsupported aggregate that IS referenced in
    GROUP BY (median(amt) AS k) and a typo'd column both fail at
    CREATE with the offending expression named — never a raw
    AnalysisException later inside _with_key_exprs, and nothing armed
    on the MV handle."""
    _mk(spark, [("a", "1.00")]).createOrReplaceTempView("ekv0")
    lh.sql("CREATE TABLE base AS SELECT * FROM ekv0")
    with pytest.raises(ValueError, match="median"):
        lh.sql(
            "CREATE MATERIALIZED VIEW mv AS SELECT median(amt) AS m, "
            "COUNT(*) AS n FROM base GROUP BY median(amt)"
        )
    with pytest.raises(ValueError, match="upper"):
        lh.sql(
            "CREATE MATERIALIZED VIEW mv AS SELECT upper(nope) AS u, "
            "COUNT(*) AS n FROM base GROUP BY upper(nope)"
        )
    # nothing armed: the MV table has no commits
    assert not lh.table("mv").exists()


# ---------------------------------------------------------------------------
# View-level WHERE (r14): filter-then-aggregate as one maintained view
# ---------------------------------------------------------------------------


def _where_recompute(lh):
    return {
        tuple(r)
        for r in lh.sql(
            "SELECT k, SUM(amt) AS total, MIN(amt) AS lo, COUNT(*) AS n "
            "FROM base WHERE amt < 100.00 GROUP BY k"
        ).collect()
    }


def _where_mv(lh):
    return {
        tuple(r)
        for r in lh.sql("SELECT k, total, lo, n FROM mv").collect()
    }


def test_mv_view_level_where_boundary_crossings(spark, lh):
    """View-level WHERE: refresh == recompute across UPDATE churn that
    moves rows ACROSS the predicate boundary in BOTH directions — a
    passing row leaves the filter (its group loses the MIN, forcing a
    filtered retraction rescan) and a failing row enters it (its group
    materializes) — plus a group retiring entirely and a FULL rebuild."""
    _mk(
        spark,
        [("a", "10.00"), ("a", "20.00"), ("b", "150.00"), ("c", "50.00")],
    ).createOrReplaceTempView("vw0")
    lh.sql("CREATE TABLE base AS SELECT * FROM vw0")
    lh.sql(
        "CREATE MATERIALIZED VIEW mv AS "
        "SELECT k, SUM(amt) AS total, MIN(amt) AS lo, COUNT(*) AS n "
        "FROM base WHERE amt < 100.00 GROUP BY k"
    )
    assert _where_mv(lh) == _where_recompute(lh)
    assert {g for g, *_ in _where_mv(lh)} == {"a", "c"}  # b filtered out
    # leave: a's 10.00 (the group MIN) crosses out of the predicate
    lh.sql("UPDATE base SET amt = 120.00 WHERE k = 'a' AND amt = 10.00")
    # enter: b's 150.00 drops inside the predicate — group b appears
    lh.sql("UPDATE base SET amt = 60.00 WHERE k = 'b'")
    # retire: c's only passing row deleted
    lh.sql("DELETE FROM base WHERE k = 'c'")
    r = lh.sql("REFRESH MATERIALIZED VIEW mv").first()
    assert r["mode"] == "incremental"
    got = _where_mv(lh)
    assert got == _where_recompute(lh)
    assert {g for g, *_ in got} == {"a", "b"}
    assert ("a", Decimal("20.00"), Decimal("20.00"), 1) in got
    # DESCRIBE surfaces the predicate; FULL rebuild agrees
    desc = lh.sql("DESCRIBE MATERIALIZED VIEW mv").first()
    assert desc["where"] == "amt < 100.00"
    lh.sql("REFRESH MATERIALIZED VIEW mv FULL")
    assert _where_mv(lh) == _where_recompute(lh)
    # an invalid predicate refuses at create, naming it
    lh.create("mvx", str(lh.table("mv").path + "_x"))
    with pytest.raises(ValueError, match="WHERE predicate"):
        lh.sql(
            "CREATE MATERIALIZED VIEW mvx AS SELECT k, COUNT(*) AS n "
            "FROM base WHERE nope > 1 GROUP BY k"
        )
    with pytest.raises(ValueError, match="WHERE predicate"):
        lh.sql(
            "CREATE MATERIALIZED VIEW mvx AS SELECT k, COUNT(*) AS n "
            "FROM base WHERE sum(amt) > 1 GROUP BY k"
        )
    assert not lh.table("mvx").exists()


def test_mv_where_with_distinct_and_exprkey(spark, lh):
    """WHERE composes with COUNT(DISTINCT) (the support fold sees only
    predicate-passing rows) and with expression group keys."""
    spark.createDataFrame(
        [
            Row(k="ax", cust=1, amt=Decimal("10.00")),
            Row(k="ay", cust=1, amt=Decimal("20.00")),
            Row(k="az", cust=2, amt=Decimal("500.00")),
            Row(k="bx", cust=3, amt=Decimal("30.00")),
        ],
        "k string, cust int, amt decimal(12,2)",
    ).createOrReplaceTempView("vwd0")
    lh.sql("CREATE TABLE base AS SELECT * FROM vwd0")
    lh.sql(
        "CREATE MATERIALIZED VIEW mv AS "
        "SELECT substring(k, 1, 1) AS fam, COUNT(DISTINCT cust) AS nc, "
        "COUNT(*) AS n FROM base WHERE amt < 100.00 "
        "GROUP BY substring(k, 1, 1)"
    )

    def recompute():
        return {
            tuple(r)
            for r in lh.sql(
                "SELECT substring(k, 1, 1) AS fam, "
                "COUNT(DISTINCT cust) AS nc, COUNT(*) AS n "
                "FROM base WHERE amt < 100.00 GROUP BY 1"
            ).collect()
        }

    q = "SELECT fam, nc, n FROM mv"
    assert {tuple(r) for r in lh.sql(q).collect()} == recompute()
    # az enters the filter (cust 2 joins fam 'a''s distinct set);
    # ax leaves it (cust 1 still covered by ay — count must NOT drop)
    lh.sql("UPDATE base SET amt = 40.00 WHERE k = 'az'")
    lh.sql("UPDATE base SET amt = 400.00 WHERE k = 'ax'")
    lh.sql("DELETE FROM base WHERE k = 'bx'")
    r = lh.sql("REFRESH MATERIALIZED VIEW mv").first()
    assert r["mode"] == "incremental"
    got = {tuple(r2) for r2 in lh.sql(q).collect()}
    assert got == recompute()
    assert got == {("a", 2, 2)}


def test_mv_where_streaming_fold(spark, lhs, tmp_path):
    """WHERE rides the streaming fold: live feed rows filter before
    netting, and the MIN-retraction rescan over the folded state sees
    only predicate-passing rows."""
    _mk(
        spark, [("a", "10.00"), ("a", "20.00"), ("b", "150.00")]
    ).createOrReplaceTempView("vws0")
    lhs.sql("CREATE TABLE base AS SELECT * FROM vws0")
    lhs.sql(
        "CREATE MATERIALIZED VIEW mv AS "
        "SELECT k, SUM(amt) AS total, MIN(amt) AS lo, COUNT(*) AS n "
        "FROM base WHERE amt < 100.00 GROUP BY k"
    )
    # retract a's MIN out of the filter + bring b inside it
    lhs.sql("UPDATE base SET amt = 130.00 WHERE k = 'a' AND amt = 10.00")
    lhs.sql("UPDATE base SET amt = 70.00 WHERE k = 'b'")
    n = stream_refresh_materialized_view(
        spark, lhs.table("mv"), lhs.table("base"), str(tmp_path / "cw")
    )
    assert n >= 1
    assert _where_mv(lhs) == _where_recompute(lhs)


def test_mv_where_join_view(spark, tmp_path):
    """WHERE on a JOIN view filters the JOINED rows (either side's
    columns) through create, the bilinear-delta refresh, and the
    join-slice MIN rescan."""
    spark_ = spark
    lh = LakehouseSession(spark_)
    lh.create("f", str(tmp_path / "f"), change_feed=False)
    lh.create("di", str(tmp_path / "di"))
    lh.create("mv", str(tmp_path / "mv"))
    spark.createDataFrame(
        [Row(k="a", amt=Decimal("10.00")), Row(k="a", amt=Decimal("20.00")),
         Row(k="b", amt=Decimal("30.00")), Row(k="c", amt=Decimal("40.00"))],
        "k string, amt decimal(12,2)",
    ).createOrReplaceTempView("vwj_f")
    spark.createDataFrame(
        [Row(k="a", seg="s1"), Row(k="b", seg="s2"), Row(k="c", seg="s2")],
        "k string, seg string",
    ).createOrReplaceTempView("vwj_d")
    lh.sql("CREATE TABLE f AS SELECT * FROM vwj_f")
    lh.sql("CREATE TABLE di AS SELECT * FROM vwj_d")
    lh.sql(
        "CREATE MATERIALIZED VIEW mv AS "
        "SELECT seg, SUM(amt) AS total, MIN(amt) AS lo, COUNT(*) AS n "
        "FROM f JOIN di USING (k) WHERE amt < 35.00 AND seg <> 's3' "
        "GROUP BY seg"
    )

    def recompute():
        return {
            tuple(r)
            for r in lh.sql(
                "SELECT seg, SUM(amt) AS total, MIN(amt) AS lo, "
                "COUNT(*) AS n FROM f JOIN di USING (k) "
                "WHERE amt < 35.00 AND seg <> 's3' GROUP BY seg"
            ).collect()
        }

    q = "SELECT seg, total, lo, n FROM mv"
    assert {tuple(r) for r in lh.sql(q).collect()} == recompute()
    # fact churn crosses the amt boundary both ways; dim churn moves a
    # key into the excluded segment (leaves via the dim-side predicate)
    lh.sql("UPDATE f SET amt = 50.00 WHERE k = 'a' AND amt = 10.00")
    lh.sql("UPDATE f SET amt = 25.00 WHERE k = 'c'")
    lh.sql("UPDATE di SET seg = 's3' WHERE k = 'b'")
    r = lh.sql("REFRESH MATERIALIZED VIEW mv").first()
    assert r["mode"] == "incremental"
    assert {tuple(r2) for r2 in lh.sql(q).collect()} == recompute()


# ---------------------------------------------------------------------------
# APPLY CHANGES FROM SNAPSHOT (r14): full re-ingests as the feed
# ---------------------------------------------------------------------------


def test_apply_changes_from_snapshot_scd2(spark, lha):
    """FROM SNAPSHOT: each source data commit is a full re-ingested
    snapshot; the fold diffs consecutive snapshots on KEYS. A key
    present in snapshot N-1 and absent in N closes its history row;
    a re-appearing key opens a NEW row; a changed key closes+opens;
    an unchanged key is untouched (no ordinal churn for it)."""
    _mk(spark, [("a", "1.00"), ("b", "2.00"), ("c", "3.00")]
        ).createOrReplaceTempView("sn0")
    lha.sql("CREATE TABLE src AS SELECT * FROM sn0")
    stmt = "APPLY CHANGES INTO dim FROM SNAPSHOT src KEYS (k) SCD TYPE 2"
    r = lha.sql(stmt).first()
    assert r["mode"] == "init"
    # snapshot 2: 'a' changes, 'b' DISAPPEARS, 'c' unchanged, 'd' new
    _mk(spark, [("a", "9.00"), ("c", "3.00"), ("d", "4.00")]
        ).createOrReplaceTempView("sn1")
    lha.sql("CREATE OR REPLACE TABLE src AS SELECT * FROM sn1")
    r = lha.sql(stmt).first()
    assert r["mode"] == "incremental" and r["ordinals_applied"] == 1
    assert _hist_rows(lha) == {
        ("a", Decimal("1.00"), 0, 1, False),
        ("a", Decimal("9.00"), 1, None, True),
        ("b", Decimal("2.00"), 0, 1, False),   # absence closed it
        ("c", Decimal("3.00"), 0, None, True),  # untouched
        ("d", Decimal("4.00"), 1, None, True),
    }
    # snapshot 3: 'b' REAPPEARS (new history row), everything else same
    _mk(spark, [("a", "9.00"), ("b", "5.00"), ("c", "3.00"),
                ("d", "4.00")]).createOrReplaceTempView("sn2")
    lha.sql("CREATE OR REPLACE TABLE src AS SELECT * FROM sn2")
    r = lha.sql(stmt).first()
    assert r["mode"] == "incremental"
    rows = _hist_rows(lha)
    assert ("b", Decimal("2.00"), 0, 1, False) in rows
    assert ("b", Decimal("5.00"), 2, None, True) in rows
    # no-op when nothing changed
    assert lha.sql(stmt).first()["mode"] == "noop"
    # verb drift refused: the history was built FROM SNAPSHOT
    with pytest.raises(ValueError, match="FROM SNAPSHOT"):
        lha.sql(
            "APPLY CHANGES INTO dim FROM CHANGES(src) KEYS (k) SCD TYPE 2"
        )
    # CDC-only clauses refused up front
    lha.create("dim2", lha.table("dim").path + "_2")
    with pytest.raises(ValueError, match="change feeds only"):
        lha.sql(
            "APPLY CHANGES INTO dim2 FROM SNAPSHOT src KEYS (k) "
            "SEQUENCE BY amt SCD TYPE 2"
        )


def test_apply_changes_from_snapshot_scd1_and_dups(spark, lha):
    """FROM SNAPSHOT ... SCD TYPE 1 mirrors the current snapshot; a
    key-duplicated snapshot is rejected loudly (init: full check;
    incremental: netted-diff check)."""
    _mk(spark, [("a", "1.00"), ("b", "2.00")]).createOrReplaceTempView("s10")
    lha.sql("CREATE TABLE src AS SELECT * FROM s10")
    stmt = "APPLY CHANGES INTO dim FROM SNAPSHOT src KEYS (k) SCD TYPE 1"
    assert lha.sql(stmt).first()["mode"] == "init"
    _mk(spark, [("a", "7.00"), ("c", "3.00")]).createOrReplaceTempView("s11")
    lha.sql("CREATE OR REPLACE TABLE src AS SELECT * FROM s11")
    assert lha.sql(stmt).first()["mode"] == "incremental"
    cur = {
        tuple(r) for r in lha.sql("SELECT k, amt FROM dim").collect()
    }
    assert cur == {("a", Decimal("7.00")), ("c", Decimal("3.00"))}
    # a duplicate-key snapshot refuses at the fold
    _mk(spark, [("a", "7.00"), ("x", "1.00"), ("x", "2.00")]
        ).createOrReplaceTempView("s12")
    lha.sql("CREATE OR REPLACE TABLE src AS SELECT * FROM s12")
    with pytest.raises(ValueError, match="key-unique"):
        lha.sql(stmt)
    # and a duplicate-key INITIAL snapshot refuses at init
    lha.create("dim3", lha.table("dim").path + "_3")
    with pytest.raises(ValueError, match="key-unique"):
        lha.sql(
            "APPLY CHANGES INTO dim3 FROM SNAPSHOT src KEYS (k) SCD TYPE 1"
        )


# ---------------------------------------------------------------------------
# Expression group keys on JOIN views (r14)
# ---------------------------------------------------------------------------


def test_mv_join_view_expression_keys(spark, tmp_path):
    """Per-side expression group keys on a JOIN view: the fact-side
    expression (amt bucket) and the dim-side expression (upper(seg))
    both maintain incrementally — including a MIN retraction whose
    join-slice rescan must prune each base through its OWN stamped
    expression — and refresh == recompute across churn on both sides."""
    lh = LakehouseSession(spark)
    lh.create("f", str(tmp_path / "f"))
    lh.create("di", str(tmp_path / "di"))
    lh.create("mv", str(tmp_path / "mv"))
    spark.createDataFrame(
        [Row(k="a", amt=Decimal("10.00")), Row(k="a", amt=Decimal("25.00")),
         Row(k="b", amt=Decimal("30.00")), Row(k="c", amt=Decimal("45.00"))],
        "k string, amt decimal(12,2)",
    ).createOrReplaceTempView("jek_f")
    spark.createDataFrame(
        [Row(k="a", seg="s1"), Row(k="b", seg="s2"), Row(k="c", seg="s2")],
        "k string, seg string",
    ).createOrReplaceTempView("jek_d")
    lh.sql("CREATE TABLE f AS SELECT * FROM jek_f")
    lh.sql("CREATE TABLE di AS SELECT * FROM jek_d")
    lh.sql(
        "CREATE MATERIALIZED VIEW mv AS "
        "SELECT upper(seg) AS useg, floor(amt / 20) AS bucket, "
        "SUM(amt) AS total, MIN(amt) AS lo, COUNT(*) AS n "
        "FROM f JOIN di USING (k) "
        "GROUP BY upper(seg), floor(amt / 20)"
    )

    def recompute():
        return {
            tuple(r)
            for r in lh.sql(
                "SELECT upper(seg) AS useg, floor(amt / 20) AS bucket, "
                "SUM(amt) AS total, MIN(amt) AS lo, COUNT(*) AS n "
                "FROM f JOIN di USING (k) GROUP BY 1, 2"
            ).collect()
        }

    q = "SELECT useg, bucket, total, lo, n FROM mv"
    assert {tuple(r) for r in lh.sql(q).collect()} == recompute()
    # fact churn: retract the (S1, bucket0) MIN and move a row across
    # buckets; dim churn: move 'b' across segments (the dim-side expr)
    lh.sql("UPDATE f SET amt = 55.00 WHERE k = 'a' AND amt = 10.00")
    lh.sql("UPDATE di SET seg = 's1' WHERE k = 'b'")
    r = lh.sql("REFRESH MATERIALIZED VIEW mv").first()
    assert r["mode"] == "incremental"
    assert {tuple(r2) for r2 in lh.sql(q).collect()} == recompute()
    # group retirement through both expressions
    lh.sql("DELETE FROM f WHERE k = 'c'")
    lh.sql("REFRESH MATERIALIZED VIEW mv")
    assert {tuple(r2) for r2 in lh.sql(q).collect()} == recompute()
    # alias shadowing a JOINED column refuses
    lh.create("mvx", str(tmp_path / "mx"))
    with pytest.raises(ValueError, match="shadow"):
        lh.sql(
            "CREATE MATERIALIZED VIEW mvx AS "
            "SELECT upper(seg) AS amt, COUNT(*) AS n "
            "FROM f JOIN di USING (k) GROUP BY upper(seg)"
        )


def test_mv_join_minmax_phantom_pair_in_new_group(spark, tmp_path):
    """r14 fix: the bilinear join delta emits cancelling +1/-1 pairs
    instead of netting them; when such a pair lands in a group the MV
    does not yet hold, the MIN fold must NOT adopt the phantom value
    (no stored extremum to probe) — the group rescans instead. Built
    deterministically: one key changes its measure on the fact side
    AND its group on the dim side in the same refresh window, so the
    old measure value rides a cancelling pair into the NEW group."""
    lh = LakehouseSession(spark)
    lh.create("f", str(tmp_path / "f"))
    lh.create("di", str(tmp_path / "di"))
    lh.create("mv", str(tmp_path / "mv"))
    spark.createDataFrame(
        [Row(k="a", amt=Decimal("10.00"))], "k string, amt decimal(12,2)"
    ).createOrReplaceTempView("pp_f")
    spark.createDataFrame(
        [Row(k="a", seg="s1")], "k string, seg string"
    ).createOrReplaceTempView("pp_d")
    lh.sql("CREATE TABLE f AS SELECT * FROM pp_f")
    lh.sql("CREATE TABLE di AS SELECT * FROM pp_d")
    lh.sql(
        "CREATE MATERIALIZED VIEW mv AS "
        "SELECT seg, MIN(amt) AS lo, COUNT(*) AS n "
        "FROM f JOIN di USING (k) GROUP BY seg"
    )
    lh.sql("UPDATE f SET amt = 20.00 WHERE k = 'a'")
    lh.sql("UPDATE di SET seg = 's2' WHERE k = 'a'")
    r = lh.sql("REFRESH MATERIALIZED VIEW mv").first()
    assert r["mode"] == "incremental"
    got = {tuple(r2) for r2 in lh.sql("SELECT seg, lo, n FROM mv").collect()}
    # the phantom (10.00, s2) pair must not survive as s2's MIN
    assert got == {("s2", Decimal("20.00"), 1)}

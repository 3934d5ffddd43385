"""Incremental MV maintenance on the declarative engine
(plans/matview.py): a REFRESH that folds the change feed must be
indistinguishable from a full recompute — including group birth, group
retirement at count zero, NULL-exact sums, schema stability across
refreshes, the bounded MIN/MAX rescan and the COUNT(DISTINCT) support
tables. Base rows carry an ``id`` so every delete/update is an exact
predicate."""

from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from aws_lakehouse_project_spark.plans.matview import (
    _support_table,
    create_materialized_view,
    join_signed_delta,
    refresh_materialized_view,
)
from aws_lakehouse_project_spark.plans.versioned import VersionedTable

DEC = "decimal(28,2)"
SUM_SCHEMA = "id bigint, k string, rev decimal(28,2)"


def _base(spark, tmp_path, rows, schema):
    base = VersionedTable(str(tmp_path / "base"))
    base.write_full(spark.createDataFrame(rows, schema))
    return base


def _refresh(spark, mv, base):
    """One incremental REFRESH; returns the stored view."""
    _, mode = refresh_materialized_view(spark, mv, base)
    assert mode == "incremental"
    return mv.read(spark)


def _sum_view(spark, tmp_path, rows):
    """Base (id, k, rev) and a per-k SUM(rev)/COUNT(*) view over it."""
    base = _base(spark, tmp_path, rows, SUM_SCHEMA)
    mv = VersionedTable(str(tmp_path / "mv"))
    create_materialized_view(
        spark, "base", base, mv, keys=["k"], sums=[["rev", "rev"]],
        count_col="n",
    )
    return base, mv


def _append(spark, base, rows):
    base.append(spark.createDataFrame(rows, SUM_SCHEMA))


def _as_dict(df):
    return {r["k"]: (r["rev"], r["n"]) for r in df.collect()}


def test_insert_updates_and_new_group(spark, tmp_path):
    base, mv = _sum_view(
        spark, tmp_path, [(1, "a", Decimal("4.00")), (2, "a", Decimal("6.00"))]
    )
    _append(spark, base, [(3, "a", Decimal("5.00")), (4, "b", Decimal("7.50"))])
    assert _as_dict(_refresh(spark, mv, base)) == {
        "a": (Decimal("15.00"), 3),
        "b": (Decimal("7.50"), 1),
    }


def test_update_pair_is_net_change(spark, tmp_path):
    base, mv = _sum_view(
        spark, tmp_path, [(1, "a", Decimal("4.00")), (2, "a", Decimal("6.00"))]
    )
    # the feed carries update_preimage 4.00 / update_postimage 9.00
    base.update_where(spark, "id = 1", {"rev": "cast(9.00 as decimal(28,2))"})
    out = _as_dict(_refresh(spark, mv, base))
    assert out == {"a": (Decimal("15.00"), 2)}  # count unchanged


def test_group_retires_at_zero_count(spark, tmp_path):
    base, mv = _sum_view(
        spark, tmp_path, [(1, "a", Decimal("10.00")), (2, "b", Decimal("3.00"))]
    )
    base.delete_where(spark, "id = 1")
    assert _as_dict(_refresh(spark, mv, base)) == {"b": (Decimal("3.00"), 1)}


def test_schema_stable_across_folds(spark, tmp_path):
    """Repeated refreshes must not widen types — the view is a stored
    table and its schema is its contract."""
    base, mv = _sum_view(
        spark, tmp_path, [(1, "a", Decimal("4.00")), (2, "a", Decimal("6.00"))]
    )

    def shape(df):  # nullability is not part of the contract
        return [(f.name, f.dataType) for f in df.schema.fields]

    before = shape(mv.read(spark))
    for i in range(3):
        _append(spark, base, [(10 + i, "a", Decimal("1.00"))])
        assert shape(_refresh(spark, mv, base)) == before, (
            f"refresh {i} changed the schema"
        )
    assert _as_dict(mv.read(spark)) == {"a": (Decimal("13.00"), 5)}


def test_fold_equals_recompute_random(spark, tmp_path):
    """Property: refresh(create(S0), S0→S1) == recompute(S1) on a
    generated state pair with inserts, deletes, and updates mixed."""
    base_rows = [(i, f"k{i % 7}", Decimal(i)) for i in range(50)]
    base, mv = _sum_view(spark, tmp_path, base_rows)
    s0 = spark.createDataFrame(base_rows, SUM_SCHEMA)
    # S1: drop rows with rev % 5 == 0, double rev where rev % 3 == 0,
    # add 10 brand-new rows in new groups
    new_rows = [(50 + i, f"new{i}", Decimal(100 + i)) for i in range(10)]
    s1 = (
        s0.filter(F.col("rev") % 5 != 0)
        .withColumn(
            "rev",
            F.when(F.col("rev") % 3 == 0, F.col("rev") * 2)
            .otherwise(F.col("rev"))
            .cast(DEC),
        )
        .unionByName(spark.createDataFrame(new_rows, SUM_SCHEMA))
    )
    base.delete_where(spark, "rev % 5 = 0")
    base.update_where(
        spark, "rev % 3 = 0", {"rev": "cast(rev * 2 as decimal(28,2))"}
    )
    _append(spark, base, new_rows)

    def recompute(df):
        return df.groupBy("k").agg(
            F.sum("rev").cast(DEC).alias("rev"),
            F.count(F.lit(1)).alias("n"),
        )

    assert _as_dict(_refresh(spark, mv, base)) == _as_dict(recompute(s1))


def test_delta_must_carry_mv_names(spark, tmp_path):
    """A measure naming a column the base (and so its change feed) does
    not carry fails loudly instead of folding."""
    base = _base(spark, tmp_path, [(1, "a", Decimal("1.00"))], SUM_SCHEMA)
    mv = VersionedTable(str(tmp_path / "mv"))
    with pytest.raises(Exception, match="amount|UNRESOLVED"):
        create_materialized_view(
            spark, "base", base, mv, keys=["k"], sums=[["amount", "amount"]]
        )


def test_stream_mv_equals_batch_mv(spark):
    """The streaming refresh (q_stream_mv) and the batch refresh
    (q_incremental_mv) must land on identical MV content — SUM/COUNT
    folds are commutative/associative, so micro-batch boundaries are
    invisible in the result."""
    from aws_lakehouse_project_spark.operators.incremental import (
        q_incremental_mv,
        q_stream_mv,
    )

    sf = "/root/testdata/sf0.001"
    batch = {tuple(r) for r in q_incremental_mv(spark, sf).collect()}
    stream = {tuple(r) for r in q_stream_mv(spark, sf).collect()}
    assert batch == stream


def test_null_sum_group_stays_null(spark, tmp_path):
    """SQL SUM of an all-NULL group is NULL; a refresh whose feed adds no
    values must not rewrite it as 0 (and a value arriving later sums
    from 0, matching SUM-ignores-NULLs)."""
    base, mv = _sum_view(
        spark,
        tmp_path,
        [(1, "a", None), (2, "a", None), (3, "b", Decimal("3.00"))],
    )
    # a NULL-valued insert into group a: count moves, sum stays NULL
    _append(spark, base, [(4, "a", None)])
    out = _as_dict(_refresh(spark, mv, base))
    assert out == {"a": (None, 3), "b": (Decimal("3.00"), 1)}
    # a real value arriving later starts the sum from 0, not NULL
    _append(spark, base, [(5, "a", Decimal("5.00"))])
    assert _as_dict(_refresh(spark, mv, base))["a"] == (Decimal("5.00"), 4)


# -- MIN/MAX with bounded rescan-on-retraction --------------------------------

MM_SCHEMA = "id bigint, k string, v int"


def _mm_view(spark, tmp_path, vals):
    """Base (id, k, v) with ids 1.. in ``vals`` order, and a per-k
    MIN/MAX/COUNT view over it."""
    base = _base(
        spark,
        tmp_path,
        [(i, k, v) for i, (k, v) in enumerate(vals, start=1)],
        MM_SCHEMA,
    )
    mv = VersionedTable(str(tmp_path / "mv"))
    create_materialized_view(
        spark, "base", base, mv, keys=["k"], sums=[], count_col="n",
        mins=[["v", "lo"]], maxs=[["v", "hi"]],
    )
    return base, mv


def _mm_dict(df):
    return {r["k"]: (r["lo"], r["hi"], r["n"]) for r in df.collect()}


def _rescanned(rescans):
    return [k for call in rescans for (k,) in call]


def test_minmax_insert_only_no_rescan(spark, tmp_path, rescans):
    base, mv = _mm_view(spark, tmp_path, [("a", 5), ("a", 9)])
    base.append(spark.createDataFrame([(3, "a", 3), (4, "b", 7)], MM_SCHEMA))
    out = _mm_dict(_refresh(spark, mv, base))
    assert _rescanned(rescans) == []  # inserts never rescan
    assert out == {"a": (3, 9, 3), "b": (7, 7, 1)}


def test_minmax_non_extremum_delete_no_rescan(spark, tmp_path, rescans):
    base, mv = _mm_view(spark, tmp_path, [("a", 1), ("a", 5), ("a", 9)])
    base.delete_where(spark, "id = 2")
    out = _mm_dict(_refresh(spark, mv, base))
    assert _rescanned(rescans) == []  # 1 < 5 < 9: extrema untouched
    assert out == {"a": (1, 9, 2)}


def test_minmax_retracted_min_rescans_that_group_only(spark, tmp_path, rescans):
    base, mv = _mm_view(
        spark, tmp_path, [("a", 1), ("a", 5), ("a", 9), ("b", 2), ("b", 4)]
    )
    base.delete_where(spark, "id = 1")
    out = _mm_dict(_refresh(spark, mv, base))
    assert _rescanned(rescans) == ["a"]
    assert out == {"a": (5, 9, 2), "b": (2, 4, 2)}


def test_minmax_deleted_duplicate_extremum_rescans_harmlessly(
    spark, tmp_path, rescans
):
    base, mv = _mm_view(spark, tmp_path, [("a", 1), ("a", 1), ("a", 9)])
    base.delete_where(spark, "id = 1")
    out = _mm_dict(_refresh(spark, mv, base))
    assert _rescanned(rescans) == ["a"]  # conservative: ties trigger
    assert out == {"a": (1, 9, 2)}  # duplicate min survives


def test_minmax_update_pair_retraction(spark, tmp_path, rescans):
    # update 9 -> 18: preimage retracts the max, postimage inserts
    base, mv = _mm_view(spark, tmp_path, [("a", 1), ("a", 9)])
    base.update_where(spark, "id = 2", {"v": "18"})
    out = _mm_dict(_refresh(spark, mv, base))
    assert _rescanned(rescans) == ["a"]
    assert out == {"a": (1, 18, 2)}


def test_minmax_group_retires_when_fully_deleted(spark, tmp_path, rescans):
    base, mv = _mm_view(spark, tmp_path, [("a", 1), ("a", 9), ("b", 3)])
    base.delete_where(spark, "k = 'a'")
    out = _mm_dict(_refresh(spark, mv, base))
    # a group whose count reaches zero is deleted without a rescan
    assert _rescanned(rescans) == []
    assert out == {"b": (3, 3, 1)}


def test_minmax_null_values_never_trigger(spark, tmp_path, rescans):
    base, mv = _mm_view(spark, tmp_path, [("a", 1), ("a", None), ("a", 9)])
    base.delete_where(spark, "id = 2")
    out = _mm_dict(_refresh(spark, mv, base))
    assert _rescanned(rescans) == []  # MIN/MAX ignore NULLs
    assert out == {"a": (1, 9, 2)}


def test_minmax_fold_equals_recompute_random(spark, tmp_path, rescans):
    """End-to-end over random mutations: refresh ≡ recompute, and the
    rescan set stays a strict subset of the groups (bounded)."""
    import random

    rng = random.Random(11)
    vals = [(f"g{rng.randrange(12)}", rng.randrange(1000)) for _ in range(400)]
    base, mv = _mm_view(spark, tmp_path, vals)
    state = [(i, k, v) for i, (k, v) in enumerate(vals, start=1)]
    next_id = len(state) + 1
    total_rescans = 0
    for _ in range(3):
        dels = rng.sample(state, 60)
        inss = []
        for _ in range(40):
            inss.append((next_id, f"g{rng.randrange(12)}", rng.randrange(1000)))
            next_id += 1
        gone = {i for i, _, _ in dels}
        state = [r for r in state if r[0] not in gone] + inss
        base.delete_where(spark, f"id IN ({', '.join(map(str, sorted(gone)))})")
        base.append(spark.createDataFrame(inss, MM_SCHEMA))
        rescans.clear()
        _refresh(spark, mv, base)
        n_res = len(_rescanned(rescans))
        assert n_res < 12
        total_rescans += n_res
    expect = _mm_dict(
        spark.createDataFrame(state, MM_SCHEMA).groupBy("k").agg(
            F.min("v").alias("lo"), F.max("v").alias("hi"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    assert _mm_dict(mv.read(spark)) == expect
    assert total_rescans >= 1


# ---------------------------------------------------------------------------
# join_signed_delta: the bilinear delta rule Δ(A⋈B) = ΔA⋈B₀ + A₀⋈ΔB + ΔA⋈ΔB
# ---------------------------------------------------------------------------

A_SCHEMA = "cid bigint, amount decimal(28,2)"
B_SCHEMA = "cid bigint, nation string"


def _diff_cdf(old, new, cols):
    ins = new.exceptAll(old).withColumn("_change_type", F.lit("insert"))
    dels = old.exceptAll(new).withColumn("_change_type", F.lit("delete"))
    return ins.unionByName(dels).select("_change_type", *cols)


def _join_ms(a, b):
    """Multiset of the join as a dict for exact comparison."""
    rows = a.join(b, "cid").select("cid", "amount", "nation").collect()
    out = {}
    for r in rows:
        key = (r["cid"], r["amount"], r["nation"])
        out[key] = out.get(key, 0) + 1
    return out


def _apply_signed(base_ms, signed):
    out = dict(base_ms)
    for r in signed.collect():
        key = (r["cid"], r["amount"], r["nation"])
        s = 1 if r["_change_type"] == "insert" else -1
        out[key] = out.get(key, 0) + s
        if out[key] == 0:
            del out[key]
    return out


def _scenario(spark):
    a0 = spark.createDataFrame(
        [(i % 6, Decimal(i)) for i in range(30)], A_SCHEMA
    )
    b0 = spark.createDataFrame(
        [(c, f"n{c % 3}") for c in range(6)], B_SCHEMA
    )
    # A: delete amounts %5==0, double %3==0, insert new rows incl. a
    # key with NO dim match (cid=99) and a duplicate-row multiset case
    a1 = (
        a0.filter(F.col("amount") % 5 != 0)
        .withColumn(
            "amount",
            F.when(F.col("amount") % 3 == 0, F.col("amount") * 2)
            .otherwise(F.col("amount"))
            .cast("decimal(28,2)"),
        )
        .unionByName(
            spark.createDataFrame(
                [(1, Decimal(500)), (1, Decimal(500)), (99, Decimal(7))],
                A_SCHEMA,
            )
        )
    )
    # B: move cid%2==0 to a new nation, delete cid=5 entirely,
    # insert a dim row with NO fact match (cid=100)
    b1 = (
        b0.filter(F.col("cid") != 5)
        .withColumn(
            "nation",
            F.when(F.col("cid") % 2 == 0, F.concat(F.lit("m"), F.col("cid")))
            .otherwise(F.col("nation")),
        )
        .unionByName(
            spark.createDataFrame([(100, "x")], B_SCHEMA)
        )
    )
    return a0, a1, b0, b1


def test_join_delta_fact_only(spark):
    a0, a1, b0, _ = _scenario(spark)
    signed = join_signed_delta(
        a0, _diff_cdf(a0, a1, ["cid", "amount"]), b0, None, on=["cid"]
    )
    assert _apply_signed(_join_ms(a0, b0), signed) == _join_ms(a1, b0)


def test_join_delta_dim_only(spark):
    a0, _, b0, b1 = _scenario(spark)
    signed = join_signed_delta(
        a0, None, b0, _diff_cdf(b0, b1, ["cid", "nation"]), on=["cid"]
    )
    assert _apply_signed(_join_ms(a0, b0), signed) == _join_ms(a0, b1)


def test_join_delta_both_sides(spark):
    """All three terms fire; the ΔA⋈ΔB cross term is what keeps keys
    changed on BOTH sides (deleted fact rows of a moved dim key) from
    being double-counted."""
    a0, a1, b0, b1 = _scenario(spark)
    signed = join_signed_delta(
        a0,
        _diff_cdf(a0, a1, ["cid", "amount"]),
        b0,
        _diff_cdf(b0, b1, ["cid", "nation"]),
        on=["cid"],
    )
    assert _apply_signed(_join_ms(a0, b0), signed) == _join_ms(a1, b1)


def test_join_delta_update_vocabulary(spark):
    """update_preimage/update_postimage sign exactly like delete/insert."""
    a0 = spark.createDataFrame([(1, Decimal(10))], A_SCHEMA)
    b0 = spark.createDataFrame([(1, "n0")], B_SCHEMA)
    da = spark.createDataFrame(
        [("update_preimage", 1, Decimal(10)),
         ("update_postimage", 1, Decimal(20))],
        "_change_type string, cid bigint, amount decimal(28,2)",
    )
    signed = join_signed_delta(a0, da, b0, None, on=["cid"])
    a1 = spark.createDataFrame([(1, Decimal(20))], A_SCHEMA)
    assert _apply_signed(_join_ms(a0, b0), signed) == _join_ms(a1, b0)


def test_join_delta_rejects_column_drift(spark):
    a0, _, b0, _ = _scenario(spark)
    bad = spark.createDataFrame(
        [("insert", 1, Decimal(1))],
        "_change_type string, cid bigint, price decimal(28,2)",
    )
    with pytest.raises(ValueError, match="columns"):
        join_signed_delta(a0, bad, b0, None, on=["cid"])


def test_join_delta_rejects_payload_collision(spark):
    a0, _, b0, _ = _scenario(spark)
    b_clash = b0.withColumnRenamed("nation", "amount")
    with pytest.raises(ValueError, match="collide"):
        join_signed_delta(a0, None, b_clash, b_clash.limit(0).withColumn(
            "_change_type", F.lit("insert")), on=["cid"])


def test_join_delta_both_none_rejected(spark):
    a0, _, b0, _ = _scenario(spark)
    with pytest.raises(ValueError, match="both deltas"):
        join_signed_delta(a0, None, b0, None, on=["cid"])


# ---------------------------------------------------------------------------
# COUNT(DISTINCT) support-table maintenance (the value joins the group key)
# ---------------------------------------------------------------------------

DIST_SCHEMA = "id bigint, g string, v bigint, amt int"


def _distinct_view(spark, tmp_path, rows):
    """Base (id, g, v, amt) and a per-g COUNT(DISTINCT v) view over it."""
    base = _base(spark, tmp_path, rows, DIST_SCHEMA)
    mv = VersionedTable(str(tmp_path / "mv"))
    create_materialized_view(
        spark, "base", base, mv, keys=["g"], sums=[], count_col="n",
        distincts=[["v", "d"]],
    )
    return base, mv


def _support_rows(spark, mv):
    return {
        (r["g"], r["__dv"], r["__mult"])
        for r in _support_table(mv, "d").read(spark).collect()
    }


def test_distinct_delete_decrements_only_on_last_occurrence(spark, tmp_path):
    base, mv = _distinct_view(
        spark, tmp_path, [(1, "a", 1, 0), (2, "a", 1, 0), (3, "a", 2, 0)]
    )
    # one of the two (a,1) rows goes: multiplicity 2→1, distinct stays 2
    base.delete_where(spark, "id = 1")
    out1 = _refresh(spark, mv, base)
    assert _support_rows(spark, mv) == {("a", 1, 1), ("a", 2, 1)}
    assert [r["d"] for r in out1.collect()] == [2]
    # the LAST (a,2) row goes: support row retires, distinct drops to 1
    base.delete_where(spark, "id = 3")
    out2 = _refresh(spark, mv, base)
    assert {(g, v) for g, v, _ in _support_rows(spark, mv)} == {("a", 1)}
    assert [r["d"] for r in out2.collect()] == [1]


def test_distinct_update_pair_same_value_cancels(spark, tmp_path):
    """A measure-only update (same group, same distinct value) must not
    move the multiplicity."""
    base, mv = _distinct_view(
        spark, tmp_path, [(1, "a", 1, 0), (2, "a", 1, 0), (3, "a", 1, 0)]
    )
    base.update_where(spark, "id = 1", {"amt": "amt + 5"})
    _refresh(spark, mv, base)
    assert _support_rows(spark, mv) == {("a", 1, 3)}


def test_distinct_update_moves_value_across_support_rows(spark, tmp_path):
    base, mv = _distinct_view(spark, tmp_path, [(1, "a", 1, 0)])
    base.update_where(spark, "id = 1", {"v": "9"})
    _refresh(spark, mv, base)
    assert _support_rows(spark, mv) == {("a", 9, 1)}


# ---------------------------------------------------------------------------
# SCD2 from CDF (dimensions.scd2_apply_changes)
# ---------------------------------------------------------------------------

from aws_lakehouse_project_spark.operators.dimensions import (  # noqa: E402
    scd2_apply_changes,
)

HIST_SCHEMA = (
    "k bigint, seg string, start_v bigint, end_v bigint, is_current boolean"
)
CDF_SCHEMA = "_change_type string, k bigint, seg string"


def _hist_rows(df):
    return {
        (r["k"], r["seg"], r["start_v"], r["end_v"], r["is_current"])
        for r in df.collect()
    }


def test_scd2_update_pair_closes_and_opens(spark):
    hist = spark.createDataFrame([(1, "A", 0, None, True)], HIST_SCHEMA)
    delta = spark.createDataFrame(
        [("update_preimage", 1, "A"), ("update_postimage", 1, "B")],
        CDF_SCHEMA,
    )
    out = scd2_apply_changes(hist, delta, ["k"], ["seg"], version=1)
    assert _hist_rows(out) == {
        (1, "A", 0, 1, False),
        (1, "B", 1, None, True),
    }


def test_scd2_delete_closes_without_opening(spark):
    hist = spark.createDataFrame([(1, "A", 0, None, True)], HIST_SCHEMA)
    delta = spark.createDataFrame([("delete", 1, "A")], CDF_SCHEMA)
    out = scd2_apply_changes(hist, delta, ["k"], ["seg"], version=2)
    assert _hist_rows(out) == {(1, "A", 0, 2, False)}


def test_scd2_new_key_opens_without_closing(spark):
    hist = spark.createDataFrame([(1, "A", 0, None, True)], HIST_SCHEMA)
    delta = spark.createDataFrame([("insert", 2, "X")], CDF_SCHEMA)
    out = scd2_apply_changes(hist, delta, ["k"], ["seg"], version=1)
    assert _hist_rows(out) == {
        (1, "A", 0, None, True),
        (2, "X", 1, None, True),
    }


def test_scd2_reinsert_after_delete_reopens(spark):
    hist = spark.createDataFrame([(1, "A", 0, 1, False)], HIST_SCHEMA)
    delta = spark.createDataFrame([("insert", 1, "C")], CDF_SCHEMA)
    out = scd2_apply_changes(hist, delta, ["k"], ["seg"], version=3)
    assert _hist_rows(out) == {
        (1, "A", 0, 1, False),
        (1, "C", 3, None, True),
    }


def test_scd2_closed_rows_are_immutable(spark):
    """A later change to a key must not touch its already-closed rows."""
    hist = spark.createDataFrame(
        [(1, "A", 0, 1, False), (1, "B", 1, None, True)], HIST_SCHEMA
    )
    delta = spark.createDataFrame(
        [("update_preimage", 1, "B"), ("update_postimage", 1, "C")],
        CDF_SCHEMA,
    )
    out = scd2_apply_changes(hist, delta, ["k"], ["seg"], version=2)
    assert _hist_rows(out) == {
        (1, "A", 0, 1, False),
        (1, "B", 1, 2, False),
        (1, "C", 2, None, True),
    }


def test_scd2_rejects_column_drift(spark):
    hist = spark.createDataFrame(
        [(1, "A", 0, None, True)], HIST_SCHEMA
    ).select("k", "start_v", "seg", "end_v", "is_current")
    delta = spark.createDataFrame([("insert", 1, "A")], CDF_SCHEMA)
    with pytest.raises(ValueError, match="history columns"):
        scd2_apply_changes(hist, delta, ["k"], ["seg"], version=1)

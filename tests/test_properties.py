"""Property-based tests (hypothesis) — SURVEY.md §5: the reference ships
zero automated tests; these go beyond fixed fixtures by checking
algebraic properties on generated data.

Each property materializes ONE generated dataset per example into a
DataFrame (examples kept small — Spark round-trips dominate runtime).
"""

from __future__ import annotations

from decimal import Decimal

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SLOW = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),  # key
        st.integers(min_value=0, max_value=3),  # day
        st.decimals(
            min_value=Decimal("-999.99"),
            max_value=Decimal("999.99"),
            places=2,
            allow_nan=False,
            allow_infinity=False,
        ),
    ),
    min_size=0,
    max_size=30,
)


@given(rows=rows_strategy)
@settings(**SLOW)
def test_salted_agg_equals_direct(spark, rows):
    """Two-phase salted aggregation ≡ direct aggregation, for any data
    (the exact-decimal discipline is what makes this hold)."""
    df = spark.createDataFrame(
        [(k, d, float(v)) for k, d, v in rows], "k INT, d INT, v DOUBLE"
    )
    direct = {
        (r["k"],): (r["s"], r["c"])
        for r in df.groupBy("k")
        .agg(
            F.sum(F.col("v").cast("decimal(12,2)")).cast("double").alias("s"),
            F.count(F.lit(1)).alias("c"),
        )
        .collect()
    }
    salted = (
        df.withColumn("salt", F.pmod(F.xxhash64("d"), F.lit(4)))
        .groupBy("k", "salt")
        .agg(
            F.sum(F.col("v").cast("decimal(12,2)")).alias("ps"),
            F.count(F.lit(1)).alias("pc"),
        )
        .groupBy("k")
        .agg(F.sum("ps").cast("double").alias("s"), F.sum("pc").alias("c"))
    )
    got = {(r["k"],): (r["s"], r["c"]) for r in salted.collect()}
    assert got == direct


@given(rows=rows_strategy)
@settings(**SLOW)
def test_merge_upsert_idempotent_and_converges(spark, rows, tmp_path_factory):
    """merge_upsert applied twice with the same updates equals once, and
    the result contains exactly the union of keys."""
    from aws_lakehouse_project_spark.plans.merge import PartitionOverwriteMergeWriter

    if not rows:
        return
    base_dir = tmp_path_factory.mktemp("merge_prop")
    df = spark.createDataFrame(
        [(k, str(d), float(v)) for k, d, v in rows], "k INT, d STRING, v DOUBLE"
    ).groupBy("k", "d").agg(F.sum(F.col("v").cast("decimal(12,2)")).cast("double").alias("v"))

    writer = PartitionOverwriteMergeWriter(str(base_dir / "t"), partition_col="d")
    writer.write_full(df)
    updates = df.filter(F.col("k") % 2 == 0).withColumn("v", F.col("v") + 1.0)
    writer.merge_upsert(spark, updates, ["k", "d"])
    once = sorted(
        (r["k"], str(r["d"]), r["v"]) for r in writer.read(spark).collect()
    )
    writer.merge_upsert(spark, updates, ["k", "d"])
    twice = sorted(
        (r["k"], str(r["d"]), r["v"]) for r in writer.read(spark).collect()
    )
    assert once == twice
    all_keys = {(r["k"], str(r["d"])) for r in df.collect()}
    assert {(k, d) for k, d, _ in once} == all_keys


@given(
    left=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100)), min_size=0, max_size=15
    ),
    right=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100)), min_size=0, max_size=15
    ),
)
@settings(**SLOW)
def test_asof_join_matches_naive(spark, left, right):
    """asof_join ≡ the naive per-row 'max right ts <= left ts' spec."""
    from aws_lakehouse_project_spark.operators.analytics import asof_join

    if not left:
        return
    ldf = spark.createDataFrame(left, "user_id INT, ts INT").distinct()
    rdf = spark.createDataFrame(right or [(99, 0)], "user_id INT, ts INT")
    got = {
        (r["user_id"], r["ts"]): r["_asof"]
        for r in asof_join(ldf, rdf, on="user_id").collect()
    }
    for uid, ts in {(u, t) for u, t in left}:
        candidates = [rt for ru, rt in right if ru == uid and rt <= ts]
        want = max(candidates) if candidates else None
        assert got[(uid, ts)] == want, (uid, ts)


@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from("ab @."),
            min_size=0,
            max_size=12,
        ),
        min_size=1,
        max_size=20,
    )
)
@settings(**SLOW)
def test_expectation_regex_matches_python(spark, texts):
    """The compiled regex violation count ≡ Python's re over the same
    rows (nulls excluded by construction here)."""
    import re

    from aws_lakehouse_project_spark.quality.expectations import Expectation

    pattern = r"^.+@.+\..+$"
    df = spark.createDataFrame([(t,) for t in texts], "email STRING")
    exp = Expectation(
        "expect_column_values_to_match_regex",
        {"column": "email", "regex": pattern},
    )
    n = df.agg(F.count_if(exp.violation_condition()).alias("v")).collect()[0]["v"]
    want = sum(0 if re.match(pattern, t) else 1 for t in texts)
    assert n == want


scd2_feed = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),  # user_id
        st.integers(min_value=0, max_value=20),  # ts offset (seconds)
        st.integers(min_value=0, max_value=100),  # event_id (tiebreak)
        st.sampled_from(["view", "click", "purchase"]),  # attr
    ),
    min_size=1,
    max_size=25,
    unique_by=lambda t: (t[0], t[1], t[2]),
)


@given(feed=scd2_feed)
@settings(**SLOW)
def test_scd2_tiles_each_timeline(spark, feed):
    """SCD2 invariants on arbitrary feeds: per key, version ranges are
    contiguous (each valid_to equals the next valid_from), exactly one
    current row exists, consecutive versions differ in the attribute,
    and replaying any event timestamp against the ranges returns the
    event's own attribute value."""
    import datetime as dt

    from aws_lakehouse_project_spark.operators.dimensions import scd2_from_events

    base = dt.datetime(2024, 1, 1)
    rows = [
        (u, base + dt.timedelta(seconds=s), e, a) for u, s, e, a in feed
    ]
    events = spark.createDataFrame(
        rows, "user_id int, ts timestamp, event_id int, event_type string"
    )
    out = scd2_from_events(events).collect()

    by_user: dict[int, list] = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append(r)
    feed_users = {u for u, *_ in feed}
    assert set(by_user) == feed_users

    for u, versions in by_user.items():
        versions.sort(key=lambda r: r["valid_from"])
        # exactly one open-ended current version
        assert sum(1 for r in versions if r["is_current"]) == 1
        assert versions[-1]["is_current"] and versions[-1]["valid_to"] is None
        for prev, nxt in zip(versions, versions[1:]):
            assert prev["valid_to"] == nxt["valid_from"]  # contiguous tiling
            assert prev["event_type"] != nxt["event_type"]  # real changes only

    # replay: every event's attr must be the version covering its ts
    # (ties within one timestamp resolve to the last event by event_id —
    # the version ordering used by the operator)
    for u in feed_users:
        user_events = sorted(
            (r for r in rows if r[0] == u), key=lambda t: (t[1], t[2])
        )
        versions = by_user[u]
        for _, ts, _, attr in user_events:
            covering = [
                r
                for r in versions
                if r["valid_from"] <= ts
                and (r["valid_to"] is None or ts < r["valid_to"])
            ]
            if covering:
                # a timestamp shared by multiple events maps to the run
                # started at that instant; the covering version's attr is
                # one of the attrs observed at ts
                attrs_at_ts = {
                    a for _, t, _, a in user_events if t == ts
                }
                assert covering[-1]["event_type"] in attrs_at_ts or (
                    covering[-1]["event_type"] == attr
                )


diff_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),   # key
        st.integers(min_value=0, max_value=99),  # value
        st.integers(min_value=0, max_value=3),   # partition day index
    ),
    min_size=0,
    max_size=20,
    unique_by=lambda t: t[0],
)


@given(old_rows=diff_rows, new_rows=diff_rows)
@settings(**SLOW)
def test_table_diff_roundtrip_property(spark, old_rows, new_rows, tmp_path_factory):
    """For ANY old/new versions: applying table_diff(old, new) onto old
    reproduces new exactly (inserts, updates, deletes, moved-partition
    keys, emptied partitions)."""
    from aws_lakehouse_project_spark.plans.merge import (
        PartitionOverwriteMergeWriter,
        merge_apply,
        table_diff,
    )

    schema = "k int, v int, dt string"
    old = spark.createDataFrame(
        [(k, v, f"d{d}") for k, v, d in old_rows], schema
    )
    new = spark.createDataFrame(
        [(k, v, f"d{d}") for k, v, d in new_rows], schema
    )
    # keys are (k, dt): a key that moved partition appears as delete+insert
    diff = table_diff(old, new, keys=["k", "dt"])

    path = str(tmp_path_factory.mktemp("roundtrip") / "t")
    writer = PartitionOverwriteMergeWriter(path, partition_col="dt")
    if old_rows:
        writer.write_full(old)
        merge_apply(writer, spark, diff.select("k", "v", "dt", "op"), keys=["k", "dt"])
        got = {tuple(r) for r in writer.read(spark).select("k", "v", "dt").collect()}
    else:
        # empty old: the diff is pure upserts; applying to a missing
        # target is the initial load
        if [r for r in diff.collect()]:
            merge_apply(writer, spark, diff.select("k", "v", "dt", "op"), keys=["k", "dt"])
            got = {tuple(r) for r in writer.read(spark).select("k", "v", "dt").collect()}
        else:
            got = set()
    want = {tuple(r) for r in new.collect()}
    assert got == want


def test_merge_apply_rejects_unknown_ops(spark, tmp_path):
    import pytest

    from aws_lakehouse_project_spark.plans.merge import (
        PartitionOverwriteMergeWriter,
        merge_apply,
    )

    writer = PartitionOverwriteMergeWriter(str(tmp_path / "t"), partition_col="dt")
    changes = spark.createDataFrame(
        [(1, 1.0, "d1", "UPSERT")], "k int, v double, dt string, op string"
    )
    with pytest.raises(ValueError, match="unknown op"):
        merge_apply(writer, spark, changes, keys=["k", "dt"])
    with pytest.raises(ValueError, match="no 'op' column"):
        merge_apply(writer, spark, changes.drop("op"), keys=["k", "dt"])


compact_params = st.tuples(
    st.integers(min_value=1, max_value=500),   # n_rows
    st.integers(min_value=1, max_value=200),   # target rows per file
    st.integers(min_value=1, max_value=12),    # initial shards
)


@given(params=compact_params)
@settings(**SLOW)
def test_compact_table_preserves_content(spark, params, tmp_path_factory):
    """Compaction must preserve content exactly for any (row count,
    target size, initial fragmentation) combination, and never produce
    more files than ceil(rows/target)+1."""
    import math
    import os

    from aws_lakehouse_project_spark.sources.writers import compact_table

    n_rows, target, shards = params
    path = str(tmp_path_factory.mktemp("compact") / "t")
    spark.range(0, n_rows).selectExpr("id", "id % 5 AS grp").repartition(
        shards
    ).write.parquet(path)

    _, after = compact_table(spark, path, target_rows_per_file=target, sort_within=["id"])
    back = spark.read.parquet(path)
    assert back.count() == n_rows
    assert back.agg({"id": "sum"}).collect()[0][0] == n_rows * (n_rows - 1) // 2
    n_files = sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
    assert n_files == after
    assert n_files <= math.ceil(n_rows / target) + 1


docs_strategy = st.lists(
    st.lists(
        st.sampled_from(["a", "bb", "ccc", "data", "spark", "x9"]),
        min_size=1,
        max_size=90,
    ),
    min_size=1,
    max_size=8,
)


@given(docs=docs_strategy)
@settings(**SLOW)
def test_chunk_windows_cover_every_token_exactly(spark, docs):
    """Window arithmetic invariants for ANY token list: chunk count =
    ceil(len/stride); every chunk ≤ 32 tokens; chunk i starts at
    i*stride; concatenating each chunk's FIRST stride tokens (plus the
    final chunk's tail) reconstructs the document byte-for-byte."""
    from aws_lakehouse_project_spark.operators.text import (
        _CHUNK_STRIDE,
        _CHUNK_W,
    )

    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id LONG, text STRING",
    )
    toks = df.select("doc_id", F.split(F.lower("text"), " ").alias("w"))
    chunks = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, size(w) - 1, {_CHUNK_STRIDE}), "
                f"i -> slice(w, i + 1, {_CHUNK_W}))"
            )
        ).alias("chunk_idx", "c"),
    ).collect()
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], {})[r["chunk_idx"]] = r["c"]
    for i, want in enumerate(docs):
        got = by_doc[i]
        n = len(want)
        expect_chunks = (n + _CHUNK_STRIDE - 1) // _CHUNK_STRIDE
        assert sorted(got) == list(range(expect_chunks))
        rebuilt = []
        for j in range(expect_chunks):
            c = got[j]
            assert len(c) <= _CHUNK_W
            assert c == [w.lower() for w in want[j * _CHUNK_STRIDE :][: len(c)]]
            rebuilt.extend(
                c if j == expect_chunks - 1 else c[:_CHUNK_STRIDE]
            )
        # overlapping tails drop out; stride-prefixes + final tail == doc
        assert rebuilt[: len(want)] == [w.lower() for w in want]


@given(docs=docs_strategy)
@settings(**SLOW)
def test_containment_of_prefix_excerpt_is_one(spark, docs):
    """The prefix property behind q_dedup_containment's plant: for ANY
    document with ≥ 3 tokens, a prefix excerpt's distinct-shingle set is
    a subset of the original's, so containment is exactly 1.0."""
    rows = []
    for i, toks in enumerate(docs):
        if len(toks) < 5:
            continue
        keep = max(3, (3 * len(toks)) // 5)
        rows.append((2 * i, " ".join(toks)))
        rows.append((2 * i + 1, " ".join(toks[:keep])))
    if not rows:
        return
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    grams = df.select(
        "doc_id",
        F.array_distinct(
            F.expr(
                "transform(sequence(0, greatest(size(split(lower(text), ' '))-3, -1)), "
                "i -> concat_ws(' ', split(lower(text), ' ')[i], "
                "split(lower(text), ' ')[i+1], split(lower(text), ' ')[i+2]))"
            )
        ).alias("sh"),
    ).collect()
    sets = {r["doc_id"]: set(r["sh"]) for r in grams}
    for i in range(0, max(sets) + 1, 2):
        if i + 1 in sets and sets[i + 1]:
            inter = len(sets[i + 1] & sets[i])
            assert inter == len(sets[i + 1])  # containment == 1.0


edges_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),    # bucket
        st.integers(min_value=0, max_value=11),   # node a (within-bucket id)
        st.integers(min_value=0, max_value=11),   # node b
    ),
    min_size=1,
    max_size=25,
)


@settings(**SLOW)
@given(edges_strategy)
def test_bucket_local_cc_equals_global_cc(spark, edges):
    """For ANY edge set where each edge lives in one bucket and node ids
    are bucket-scoped (the single-probe LSH contract), the bucket-local
    union-find must compute exactly the global min-label components."""
    from aws_lakehouse_project_spark.operators.dedup import (
        bucket_local_components,
        connected_components,
    )

    # scope node ids to their bucket (node = bucket*100 + local id) so
    # the single-probe invariant — components never span buckets — holds
    # by construction, and drop self-loops (a pair join never emits
    # d1 == d2)
    scoped = [
        (b, b * 100 + x, b * 100 + y) for b, x, y in edges if x != y
    ]
    if not scoped:
        return
    pairs = spark.createDataFrame(scoped, "bucket int, d1 long, d2 long")
    local = {
        (r["node"], r["component"])
        for r in bucket_local_components(pairs).collect()
    }
    global_cc = {
        (r["node"], r["component"])
        for r in connected_components(pairs.select("d1", "d2")).collect()
    }
    assert local == global_cc


@given(n=st.integers(min_value=0, max_value=10**13))
@settings(max_examples=300, deadline=None)
def test_planes_for_sql_python_parity(n):
    """The masked dynamic-plane oracles (q_similarity_pairs_scaled and
    family) stand on one device: the PRODUCTION ``_np_sql()`` string —
    run verbatim over an n-row stand-in embeddings relation — must
    equal Python's planes_for(n, 30) for EVERY corpus size, including
    n=0 (the LOG2(0) guard) and exact power-of-two boundaries where a
    libm disagreement would flip the ceil. Same for the banded width
    LEAST(16, npl) = banded_bits_for."""
    import duckdb

    from aws_lakehouse_project_spark.operators.similarity import (
        _BANDED_MAX_BITS,
        _SCALED_TARGET,
        _np_sql,
        banded_bits_for,
        planes_for,
    )

    con = duckdb.connect()
    if n <= 100_000:
        # _np_sql only touches COUNT(*), so an n-row range is a faithful
        # embeddings stand-in — the exact production SQL text runs
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM range({n})")
        np_sql = _np_sql()
    else:
        # counting a 10^13-row relation is the slow part, not the point:
        # splice the literal count into the otherwise-unchanged
        # production string so the formula text still comes from _np_sql
        np_sql = _np_sql().replace("COUNT(*)", str(n)).replace(
            "FROM embeddings", ""
        )
    got_np = con.execute(np_sql).fetchone()[0]
    got_nb = con.execute(
        f"WITH np AS ({np_sql}) SELECT LEAST({_BANDED_MAX_BITS}, npl) FROM np"
    ).fetchone()[0]
    assert got_np == planes_for(n, _SCALED_TARGET), n
    assert got_nb == banded_bits_for(n), n


# -- versioned-table CDF: replay ≡ head for ANY commit sequence -------------

ops_strategy = st.lists(
    st.tuples(
        st.sampled_from(["upsert", "delete", "append_new"]),
        st.sets(st.integers(min_value=0, max_value=9), min_size=1, max_size=4),
    ),
    min_size=1,
    max_size=5,
)


@given(base=st.sets(st.integers(min_value=0, max_value=9), min_size=1, max_size=8),
       ops=ops_strategy)
@settings(**SLOW)
def test_cdf_replay_reconstructs_head_for_any_history(spark, tmp_path_factory, base, ops):
    """For ANY sequence of upsert/delete/append commits, applying the
    materialized change feed in commit order (latest change per key
    wins; the insert/update postimage beats its same-commit paired
    preimage) rebuilds the head snapshot exactly — the contract every
    CDC consumer (q_stream_cdf, q_table_replicate) rests on."""
    from pyspark.sql import Row, Window

    from aws_lakehouse_project_spark.plans.versioned import VersionedTable

    work = tmp_path_factory.mktemp("cdfprop")
    vt = VersionedTable(str(work / "t"), change_feed=True)

    def mk(keys, tag):
        return spark.createDataFrame(
            [Row(k=k, v=f"{tag}{k}") for k in sorted(keys)], "k int, v string"
        )

    vt.write_full(mk(base, "b"))
    for i, (op, keys) in enumerate(ops):
        if op == "upsert":
            vt.merge_upsert(spark, mk(keys, f"u{i}_"), keys=["k"])
        elif op == "delete":
            pred = " OR ".join(f"k = {k}" for k in keys)
            vt.delete_where(spark, pred)
        else:  # append of guaranteed-new keys (shifted out of range)
            vt.append(mk({k + 100 + 10 * i for k in keys}, f"a{i}_"))

    import os

    root = os.path.join(vt.path, "_change_data")
    feed = (
        spark.read.option("basePath", root)
        .schema(vt.changes_schema())
        .parquet(root)
    )
    post = F.col("_change_type").isin("insert", "update_postimage")
    w = Window.partitionBy("k").orderBy(
        F.desc("_commit_version"),
        F.when(post, 1).otherwise(0).desc(),
    )
    head = (
        feed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .filter(post)
        .select("k", "v")
    )
    assert sorted(map(tuple, head.collect())) == sorted(
        map(tuple, vt.read(spark).collect())
    )


mv_state_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),  # group key
        st.decimals(
            min_value=Decimal("-99.99"),
            max_value=Decimal("99.99"),
            places=2,
            allow_nan=False,
            allow_infinity=False,
        ),
    ),
    min_size=0,
    max_size=20,
)


@given(s0=mv_state_strategy, s1=mv_state_strategy)
@settings(**SLOW)
def test_mv_fold_equals_recompute_any_states(spark, s0, s1, tmp_path_factory):
    """For ANY two multiset states, refreshing S0's materialized view
    after the commits that turn S0 into S1 (deletes and inserts of the
    insert/delete diff, each row addressed by its id) reproduces S1's
    aggregate exactly — including groups that appear, vanish, or change
    only in value (plans/matview.py)."""
    from aws_lakehouse_project_spark.plans.matview import (
        create_materialized_view,
        refresh_materialized_view,
    )
    from aws_lakehouse_project_spark.plans.versioned import VersionedTable

    schema = "id bigint, k int, rev decimal(28,2)"
    rows0 = [(i, k, v) for i, (k, v) in enumerate(s0)]
    # the multiset diff S0→S1: each S1 row keeps one unused equal S0 row
    # or is inserted; S0 rows left unmatched are deleted
    unused = {}
    for i, k, v in rows0:
        unused.setdefault((k, v), []).append(i)
    ins = []
    for k, v in s1:
        if unused.get((k, v)):
            unused[(k, v)].pop()
        else:
            ins.append((len(rows0) + len(ins), k, v))
    gone = sorted(i for ids in unused.values() for i in ids)

    work = tmp_path_factory.mktemp("mvprop")
    base = VersionedTable(str(work / "base"))
    base.write_full(spark.createDataFrame(rows0, schema))
    mv = VersionedTable(str(work / "mv"))
    create_materialized_view(
        spark, "base", base, mv, keys=["k"], sums=[["rev", "rev"]],
        count_col="n",
    )
    if gone:
        base.delete_where(spark, f"id IN ({', '.join(map(str, gone))})")
    if ins:
        base.append(spark.createDataFrame(ins, schema))
    refresh_materialized_view(spark, mv, base)

    def recompute(df):
        return df.groupBy("k").agg(
            F.sum("rev").cast("decimal(28,2)").alias("rev"),
            F.count(F.lit(1)).alias("n"),
        )

    folded = {r["k"]: (r["rev"], r["n"]) for r in mv.read(spark).collect()}
    d1 = spark.createDataFrame([(k, v) for k, v in s1], "k int, rev decimal(28,2)")
    full = {r["k"]: (r["rev"], r["n"]) for r in recompute(d1).collect()}
    assert folded == full


@given(
    keys=st.sets(st.integers(min_value=0, max_value=10_000), max_size=60),
    probes=st.sets(st.integers(min_value=0, max_value=10_000), max_size=60),
)
@settings(**SLOW)
def test_bloom_never_drops_a_member(spark, keys, probes):
    """For ANY key set and probe set, every probe that IS a key survives
    bloom_prune — the no-false-negatives contract the exact rejoin in
    q_bloom_join depends on (operators/joins.py)."""
    from aws_lakehouse_project_spark.operators.joins import (
        bloom_prune,
        build_bloom_blocks,
    )

    if not keys:
        return  # an empty build side prunes everything, trivially safe
    kdf = spark.createDataFrame([(k,) for k in keys], "k long")
    pdf = spark.createDataFrame(
        [(p,) for p in probes | keys], "k long"
    )
    blocks, nblocks = build_bloom_blocks(kdf, "k")
    got = {r["k"] for r in bloom_prune(pdf, "k", blocks, nblocks).collect()}
    assert keys <= got


# -- vacuum model property (r11: concurrent-writer-safe vacuum) -------------

vacuum_ops = st.lists(
    st.one_of(
        st.tuples(st.just("append"), st.integers(0, 9)),
        st.tuples(st.just("overwrite"), st.integers(0, 9)),
        st.tuples(st.just("delete"), st.integers(0, 2)),
        st.tuples(st.just("vacuum"), st.integers(1, 3)),
        st.tuples(st.just("restore"), st.integers(0, 9)),
        st.tuples(st.just("optimize"), st.integers(2, 50)),
        st.tuples(st.just("copy"), st.integers(0, 9)),
    ),
    min_size=2,
    max_size=7,
)


@given(ops=vacuum_ops)
@settings(**SLOW)
def test_vacuum_model_invariants(spark, ops, tmp_path_factory):
    """Model-based vacuum check over random op sequences: after every
    vacuum, (1) every RETAINED version's content is exactly what the
    Python model holds for it, (2) every retained manifest resolves to
    files on disk, (3) every DROPPED version raises
    VacuumedVersionError, and (4) the COPY INTO ledger equals the
    model's loaded-file set at every step — vacuum must rescue it when
    the last carrier drops, restore must not rewind it, and a re-run
    copy must never re-ingest — regardless of how appends, overwrites,
    CoW deletes, copies, restores, and vacuums interleave."""
    import os

    from aws_lakehouse_project_spark.plans.ingest import (
        copy_into,
        loaded_files,
    )
    from aws_lakehouse_project_spark.plans.versioned import (
        VacuumedVersionError,
        VersionedTable,
    )

    base_dir = tmp_path_factory.mktemp("vacprop")
    path = str(base_dir / "t")
    landing = str(base_dir / "landing")
    ledger_model: set[str] = set()
    wave = [0]
    vt = VersionedTable(path, stats_cols=["k"])
    vt.write_full(
        spark.createDataFrame([(100 + i, "seed") for i in range(4)],
                              "k int, v string").coalesce(1)
    )
    current = sorted([(100 + i, "seed") for i in range(4)])
    snapshots = {0: list(current)}  # version -> expected rows
    dropped: set[int] = set()

    def _df(seed):
        rows = [(seed * 10 + j, f"s{seed}") for j in range(3)]
        return (
            spark.createDataFrame(rows, "k int, v string").coalesce(1),
            rows,
        )

    for kind, p in ops:
        if kind == "append":
            df, rows = _df(p)
            v = vt.append(df)
            current = sorted(current + rows)
            snapshots[v] = list(current)
        elif kind == "overwrite":
            df, rows = _df(p)
            v = vt.write_full(df)
            current = sorted(rows)
            snapshots[v] = list(current)
        elif kind == "delete":
            before = vt.latest_version()
            v = vt.delete_where(spark, f"k % 3 = {p}")
            current = sorted(r for r in current if r[0] % 3 != p)
            if v != before:  # no-op deletes commit nothing
                snapshots[v] = list(current)
        elif kind == "optimize":
            before = vt.latest_version()
            v = vt.optimize(spark, target_rows_per_file=p)
            if v != before:  # no-op optimize commits nothing
                snapshots[v] = list(current)  # layout-only: same content
        elif kind == "copy":
            import glob as _glob

            df, rows = _df(p)
            wdir = os.path.join(landing, f"wave{wave[0]}")
            wave[0] += 1
            df.write.mode("overwrite").parquet(wdir)
            new_files = set(_glob.glob(os.path.join(wdir, "*.parquet")))
            out = copy_into(spark, vt, landing, "wave*/*.parquet")
            assert out["files_loaded"] == len(new_files - ledger_model)
            ledger_model |= new_files
            if out["files_loaded"]:
                current = sorted(current + rows)
                snapshots[out["version"]] = list(current)
            # exactly-once: an immediate re-run ingests nothing
            rerun = copy_into(spark, vt, landing, "wave*/*.parquet")
            assert rerun["files_loaded"] == 0
            assert set(loaded_files(vt)) == ledger_model
        elif kind == "restore":
            all_vs = sorted(snapshots)
            target = all_vs[p % len(all_vs)]
            if target in dropped:
                # below the vacuum horizon: the manifest is gone AND the
                # head's vacuum_horizon guard refuses — either path must
                # surface VacuumedVersionError, never a head referencing
                # reclaimed files
                with pytest.raises(VacuumedVersionError):
                    vt.restore(target)
            else:
                v = vt.restore(target)
                current = list(snapshots[target])
                snapshots[v] = list(current)
        else:
            res = vt.vacuum(retain_last=p, retain_recent_s=0.0)
            if res["horizon_commit"] is not None:
                # the marker commit is a metadata-only snapshot of the
                # pre-vacuum head: same content, new version
                snapshots[res["horizon_commit"]] = list(current)
            dropped |= {
                u for u in snapshots if u not in res["retained_versions"]
            }
            for u in res["retained_versions"]:
                got = sorted(tuple(r) for r in vt.read(spark, u).collect())
                assert got == snapshots[u], (u, ops)
                for f in vt._manifest(u)["files"]:
                    assert os.path.exists(os.path.join(path, f)), (u, f)
            for u in sorted(dropped):
                with pytest.raises(VacuumedVersionError):
                    vt.read(spark, u)
        # ledger invariant after EVERY op: vacuum rescues it, restore
        # doesn't rewind it, copies grow it
        assert set(loaded_files(vt)) == ledger_model, (kind, ops)
    # terminal audit on a FRESH instance (cold cache)
    fresh = VersionedTable(path)
    got = sorted(tuple(r) for r in fresh.read(spark).collect())
    assert got == sorted(current)
    assert set(loaded_files(fresh)) == ledger_model


subdocs_strategy = st.lists(
    st.lists(st.sampled_from("abc"), min_size=0, max_size=12),
    min_size=1,
    max_size=6,
)


@given(docs=subdocs_strategy)
@settings(**SLOW)
def test_substring_spans_match_bruteforce(spark, docs):
    """substring_spans ≡ a brute-force Python reference (count k-gram
    occurrences corpus-wide, flag duplicated positions, merge
    consecutive runs maximally) for any random corpus."""
    from collections import Counter

    from aws_lakehouse_project_spark.operators.dedup import substring_spans

    K = 3
    grams: Counter = Counter()
    for toks in docs:
        for p in range(len(toks) - K + 1):
            grams[tuple(toks[p : p + K])] += 1
    expected = set()
    for i, toks in enumerate(docs):
        flagged = [
            p + 1
            for p in range(len(toks) - K + 1)
            if grams[tuple(toks[p : p + K])] > 1
        ]
        run_start = None
        prev = None
        for p in flagged + [None]:
            if p is not None and prev is not None and p == prev + 1:
                prev = p
                continue
            if run_start is not None:
                expected.add(
                    (i, run_start, prev + K - 1, prev - run_start + K)
                )
            run_start, prev = p, p
    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id LONG, text STRING",
    )
    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in substring_spans(df, k=K).collect()
    }
    assert got == expected, docs


# ---------------------------------------------------------------------------
# COUNT(DISTINCT) materialized-view maintenance (plans/matview.py)
# ---------------------------------------------------------------------------

_dmv_ops = st.lists(
    st.one_of(
        st.tuples(st.just("insert"), st.integers(0, 4)),
        st.tuples(st.just("delete"), st.integers(0, 4)),
        st.tuples(st.just("bump"), st.integers(0, 4)),
        st.tuples(st.just("move"), st.integers(0, 4)),
        st.tuples(st.just("refresh"), st.just(0)),
    ),
    min_size=1,
    max_size=8,
)


@given(ops=_dmv_ops)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_distinct_mv_model(spark, ops, tmp_path_factory):
    """COUNT(DISTINCT) MV invariant under random op interleavings:
    after every REFRESH (and a final one) the view equals the full
    recompute — the support-table fold may never drift, whatever mix
    of inserts (incl. NULL distinct values), multi-occurrence deletes,
    measure-only updates (support pairs must cancel), and value-MOVING
    updates (decrement old value, increment new) preceded it."""
    from aws_lakehouse_project_spark.plans.lakehouse_sql import (
        LakehouseSession,
    )

    base_dir = tmp_path_factory.mktemp("dmvprop")
    lh = LakehouseSession(spark)
    lh.create("b", str(base_dir / "b"))
    lh.create("m", str(base_dir / "m"))

    def _mk(rows):
        return spark.createDataFrame(
            [
                (k, c, Decimal(a))
                for k, c, a in rows
            ],
            "k string, cust int, amt decimal(12,2)",
        )

    _mk(
        [("a", 1, "1.00"), ("a", None, "2.00"), ("b", 1, "3.00"),
         ("b", 2, "3.50")]
    ).createOrReplaceTempView("dmv_seed")
    lh.sql("CREATE TABLE b AS SELECT * FROM dmv_seed")
    lh.sql(
        "CREATE MATERIALIZED VIEW m AS SELECT k, "
        "COUNT(DISTINCT cust) AS d, SUM(amt) AS s, COUNT(*) AS n "
        "FROM b GROUP BY k"
    )

    def _check():
        got = {
            tuple(r) for r in lh.sql("SELECT k, d, s, n FROM m").collect()
        }
        want = {
            tuple(r)
            for r in lh.sql(
                "SELECT k, COUNT(DISTINCT cust) AS d, SUM(amt) AS s, "
                "COUNT(*) AS n FROM b GROUP BY k"
            ).collect()
        }
        assert got == want

    _check()
    nins = [0]
    for kind, p in ops:
        if kind == "insert":
            nins[0] += 1
            _mk(
                [
                    ("a" if p % 2 else "b", p if p % 3 else None,
                     f"{p + 1}.25"),
                    ("b", (p + nins[0]) % 5, f"{p}.75"),
                ]
            ).createOrReplaceTempView("dmv_ins")
            lh.sql("INSERT INTO b SELECT * FROM dmv_ins")
        elif kind == "delete":
            lh.sql(f"DELETE FROM b WHERE cust = {p}")
        elif kind == "bump":
            lh.sql(f"UPDATE b SET amt = amt + 1 WHERE cust = {p}")
        elif kind == "move":
            lh.sql(f"UPDATE b SET cust = cust + 1 WHERE cust = {p}")
        else:
            lh.sql("REFRESH MATERIALIZED VIEW m")
            _check()
    lh.sql("REFRESH MATERIALIZED VIEW m")
    _check()


# ---------------------------------------------------------------------------
# APPLY CHANGES INTO ... SCD TYPE 2 (plans/apply_changes.py)
# ---------------------------------------------------------------------------

_scd_sql_ops = st.lists(
    st.one_of(
        st.tuples(st.just("upsert"), st.integers(0, 4)),
        st.tuples(st.just("delete"), st.integers(0, 4)),
        st.tuples(st.just("apply"), st.just(0)),
    ),
    min_size=1,
    max_size=8,
)


@given(ops=_scd_sql_ops)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_apply_changes_scd2_model(spark, ops, tmp_path_factory):
    """APPLY CHANGES ... SCD TYPE 2 invariants under random commit
    interleavings, checked after every APPLY: (1) the current rows are
    exactly the source snapshot, one current row per live key; (2) each
    key's validity intervals are disjoint and ordered with only the
    last open; (3) closed rows are immutable — once closed, a row
    never changes or disappears across later APPLYs."""
    from aws_lakehouse_project_spark.plans.lakehouse_sql import (
        LakehouseSession,
    )

    base_dir = tmp_path_factory.mktemp("scdprop")
    lh = LakehouseSession(spark)
    lh.create("src", str(base_dir / "src"))
    lh.create("dim", str(base_dir / "dim"))

    def _mk(rows):
        return spark.createDataFrame(
            [(k, Decimal(a)) for k, a in rows],
            "k string, amt decimal(12,2)",
        )

    _mk([("k0", "0.00"), ("k1", "1.00")]).createOrReplaceTempView("sc_seed")
    lh.sql("CREATE TABLE src AS SELECT * FROM sc_seed")
    stmt = "APPLY CHANGES INTO dim FROM CHANGES(src) KEYS (k) SCD TYPE 2"
    closed_seen: set = set()
    tick = [0]

    def _apply_and_check():
        lh.sql(stmt)
        rows = lh.sql(
            "SELECT k, amt, start_v, end_v, is_current FROM dim"
        ).collect()
        cur = sorted((r.k, r.amt) for r in rows if r.is_current)
        src = sorted(
            (r.k, r.amt)
            for r in lh.sql("SELECT k, amt FROM src").collect()
        )
        assert cur == src  # exactly the snapshot, one current row/key
        by_key: dict = {}
        for r in rows:
            by_key.setdefault(r.k, []).append((r.start_v, r.end_v))
        for ivs in by_key.values():
            ivs.sort(key=lambda t: t[0])
            for (s1, e1), (s2, _e2) in zip(ivs, ivs[1:]):
                assert e1 is not None and e1 <= s2  # disjoint, ordered
            assert all(e is not None for _, e in ivs[:-1])
        closed = {
            (r.k, r.amt, r.start_v, r.end_v)
            for r in rows
            if not r.is_current
        }
        assert closed_seen <= closed  # closed history immutable
        closed_seen.clear()
        closed_seen.update(closed)

    _apply_and_check()  # init
    for kind, p in ops:
        if kind == "upsert":
            tick[0] += 1
            # KEYS is the dim's primary key: one row per key per batch
            # (the statement's documented contract, as in DLT)
            q = (p + tick[0]) % 5
            if q == p:
                q = (q + 1) % 5
            _mk(
                [(f"k{p}", f"{tick[0]}.25"), (f"k{q}", f"{tick[0]}.75")]
            ).createOrReplaceTempView("sc_up")
            lh.sql(
                "MERGE INTO src USING sc_up ON src.k = sc_up.k "
                "WHEN MATCHED THEN UPDATE SET * "
                "WHEN NOT MATCHED THEN INSERT *"
            )
        elif kind == "delete":
            lh.sql(f"DELETE FROM src WHERE k = 'k{p}'")
        else:
            _apply_and_check()
    _apply_and_check()


# ---------------------------------------------------------------------------
# APPLY CHANGES full clause set vs a dict reference model
# ---------------------------------------------------------------------------

_ac_step = st.tuples(
    # upserts: key -> (val-or-None, seq, op)
    st.dictionaries(
        st.sampled_from(["a", "b", "c", "d"]),
        st.tuples(
            st.one_of(st.none(), st.sampled_from(["x", "y", "z"])),
            st.integers(min_value=0, max_value=5),
            st.sampled_from(["I", "I", "I", "D"]),  # deletes rarer
        ),
        max_size=4,
    ),
    # hard deletes
    st.sets(st.sampled_from(["a", "b", "c", "d"]), max_size=2),
)


@given(
    snap=st.dictionaries(
        st.sampled_from(["a", "b", "c", "d"]),
        st.tuples(
            st.one_of(st.none(), st.sampled_from(["x", "y", "z"])),
            st.integers(min_value=0, max_value=5),
            st.sampled_from(["I", "I", "D"]),
        ),
        max_size=4,
    ),
    steps=st.lists(_ac_step, min_size=1, max_size=3),
)
@settings(**SLOW)
def test_apply_changes_full_clause_model(spark, tmp_path_factory, snap, steps):
    """APPLY CHANGES with the FULL clause set — IGNORE NULL UPDATES +
    APPLY AS DELETE WHEN op = 'D' + SEQUENCE BY seq + COLUMNS * EXCEPT
    (op), SCD TYPE 1 — against a dict reference model, for any
    snapshot and mutation sequence. The model encodes the documented
    semantics: op='D' rows never enter (init) / delete (later, with
    the winning sequence of the reclassified postimage vs the paired
    preimage); additive changes apply only when their sequence exceeds
    the stored one; NULL vals keep the current value; hard deletes use
    the deleted row's sequence."""
    from aws_lakehouse_project_spark.plans.lakehouse_sql import (
        LakehouseSession,
    )

    work = tmp_path_factory.mktemp("ac_model")
    lh = LakehouseSession(spark)
    lh.create("src", str(work / "src"))
    lh.create("dim", str(work / "dim"))

    def df_of(d):
        from pyspark.sql import Row
        rows = [
            Row(k=k, val=v, seq=s, op=o) for k, (v, s, o) in sorted(d.items())
        ]
        return spark.createDataFrame(
            rows, "k string, val string, seq bigint, op string"
        )

    src_state = dict(snap)
    df_of(src_state).createOrReplaceTempView("ac_seed")
    lh.sql("CREATE TABLE src AS SELECT * FROM ac_seed")
    stmt = (
        "APPLY CHANGES INTO dim FROM CHANGES(src) KEYS (k) "
        "IGNORE NULL UPDATES APPLY AS DELETE WHEN op = 'D' "
        "SEQUENCE BY seq COLUMNS * EXCEPT (op) SCD TYPE 1"
    )
    # first APPLY loads the SNAPSHOT (the documented init contract);
    # the mutation commits after it fold per-commit
    lh.sql(stmt)
    commits = []  # (before, after) per data commit, in order
    for upserts, deletes in steps:
        if deletes:
            before = dict(src_state)
            for k in deletes:
                src_state.pop(k, None)
            lh.table("src").delete_where(
                spark,
                " OR ".join(f"k = '{k}'" for k in sorted(deletes)),
            )
            commits.append((before, dict(src_state)))
        if upserts:
            before = dict(src_state)
            src_state.update(upserts)
            lh.table("src").merge_upsert(spark, df_of(upserts), keys=["k"])
            commits.append((before, dict(src_state)))
    lh.sql(stmt)

    # ---- reference model -------------------------------------------------
    dim = {
        k: (v, s)
        for k, (v, s, o) in snap.items()
        if o != "D"  # delete-marked snapshot rows never enter
    }
    for before, after in commits:
        for k in sorted(set(before) | set(after)):
            b, a = before.get(k), after.get(k)
            if b == a:
                continue
            cur = dim.get(k)
            if a is None:  # hard delete: deleted row's seq
                kind, seq = "del", b[1]
            elif a[2] == "D":
                # reclassified delete; if an update pair, the paired
                # preimage is also delete-side and the higher sequence
                # wins the dedup window
                kind = "del"
                seq = a[1] if b is None else max(a[1], b[1])
            else:
                kind, seq = "add", a[1]
            if kind == "del":
                if cur is not None and seq >= cur[1]:
                    del dim[k]
            else:
                if cur is None or seq > cur[1]:
                    val = a[0]
                    if val is None and cur is not None:
                        val = cur[0]  # IGNORE NULL UPDATES
                    dim[k] = (val, seq)

    got = {
        r["k"]: (r["val"], r["seq"])
        for r in lh.sql("SELECT k, val, seq FROM dim").collect()
    }
    assert got == dim
    # and the statement is idempotent at head
    assert lh.sql(stmt).first()["mode"] == "noop"

"""Deduplication operators over the ``documents`` table (SURVEY.md §7.2
M6b — the training-data-pipeline extension surface).

The strategies, all shuffle-conscious:

- exact (hash-groupBy on content / keep-lowest-id window / LEFT ANTI
  victims report)
- word-3-gram Jaccard and its asymmetric containment twin (explode →
  self-join on shingle → ratio of int counts; SQL-expressible,
  oracle-checked)
- MinHash + LSH banding (k min-aggregates, band-bucket join — the scale
  path: candidate pairs only, never all pairs), with an md5-portable
  twin whose signature VALUES are oracle-checked
- SimHash (bit-vote aggregation into 16-bit bands, pigeonhole band join
  for hamming<=3), same portable-twin arrangement
- connected-components clustering (min-label propagation + pointer
  jumping) and blocked fuzzy (thresholded-levenshtein) matching

All hashing is built-in (xxhash64 on the production paths, md5 on the
verification twins) or integer arithmetic — JVM-side, whole-stage-
codegen'd, no UDFs anywhere.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import demo_query

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


@demo_query(
    "q_dedup_exact",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT text) AS BIGINT) AS n_distinct,
           CAST(COUNT(*) - COUNT(DISTINCT text) AS BIGINT) AS n_dups
    FROM documents GROUP BY lang
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate profile: hash-groupBy on full content per language.

    At 100 TB you'd group on xxhash64(text) instead of the raw string to
    shrink shuffle width; here the distinct is on text directly so the
    oracle is byte-identical.
    """
    docs = load_table(spark, sf_dir, "documents")
    # Two-level instead of mixed distinct+plain (the mixed form plans an
    # Expand that doubles the corpus stream — BASELINE.md r6): per
    # (lang, text) counts collapse duplicates map-side, then the rollup
    # aggregates group-count vs instance-sum per language. NULL-correct
    # by construction: a NULL text forms its own inner group, so the
    # rollup counts distincts with count_if(text IS NOT NULL) — exactly
    # COUNT(DISTINCT)'s NULL-dropping semantics — while n_docs keeps
    # every row (COUNT(*) semantics). Same pattern in
    # tpch.py::q_distinct_agg and analytics.py::q_approx_distinct;
    # nullable-key oracle parity is pinned by
    # tests/test_nullkey_distinct.py.
    per_text = docs.groupBy("lang", "text").agg(
        F.count(F.lit(1)).alias("n_copies")
    )
    n_distinct = F.count_if(F.col("text").isNotNull())
    return per_text.groupBy("lang").agg(
        F.sum("n_copies").alias("n_docs"),
        n_distinct.alias("n_distinct"),
        (F.sum("n_copies") - n_distinct).alias("n_dups"),
    )


@demo_query(
    "q_dedup_keep_first",
    oracle="""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    QUALIFY ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) = 1
    """,
)
def q_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keeping the canonical (lowest-id) copy per content
    group — the window-rank dedup pattern (SURVEY.md §2.7 extension).
    One shuffle on the content key; survivors keep full metadata."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("text").orderBy("doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "source", "n_chars")
    )


# ---------------------------------------------------------------------------
# shingling (shared by jaccard / minhash)
# ---------------------------------------------------------------------------


def _cpu_spread(df: DataFrame) -> DataFrame:
    """Rebalance a file-count-bound scan to core-bound parallelism before
    CPU-heavy per-row work. The testdata tables are single parquet files
    (1 input split); on a cluster the same applies whenever upstream
    partitioning is coarser than the CPU budget — the shuffle moves only
    the narrow input columns and unlocks N-way expression evaluation.

    Guarded: when upstream already has >= defaultParallelism partitions
    (the normal case at warehouse scale, where a 100 TB table has far
    more splits than cores), this is the identity — no gratuitous
    full-corpus shuffle (tune maxPartitionBytes instead if splits are
    oversized)."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() >= sc.defaultParallelism:
        return df
    return df.repartition(sc.defaultParallelism)


def word_shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) — distinct word n-grams per document, built with
    array built-ins (split → transform over an index sequence →
    array_distinct → explode). No UDFs; codegen keeps this in the JVM."""
    # Pre-filter docs shorter than n tokens instead of guarding inside
    # the transform: Spark's sequence(0, -1) is a DESCENDING [0, -1]
    # (step defaults to -1 when start > stop), so the old
    # greatest(size-n, -1) idiom produced index -1 and w[i+j] throws
    # INVALID_ARRAY_INDEX under Spark 4's default ANSI mode. The filter
    # is map-side, keeps the array expr unguarded (a when() inside the
    # Generate node is re-evaluated per output row, ~2× slower
    # measured), and is semantics-preserving: short docs yield zero
    # shingles either way.
    toks = (
        _cpu_spread(docs)
        .select("doc_id", F.split(F.lower(F.col("text")), " ").alias("w"))
        .filter(F.size("w") >= n)
    )
    grams = toks.select(
        "doc_id",
        F.array_distinct(
            F.expr(
                f"transform(sequence(0, size(w)-{n}), "
                f"i -> concat_ws(' ', {', '.join(f'w[i+{j}]' for j in range(n))}))"
            )
        ).alias("shingles"),
    )
    # explode_outer, not explode: plain explode plants a size(expr)>0
    # filter that duplicates the whole shingle expression (measured ~3×
    # slower); outer emits one null for empty arrays, dropped after.
    return grams.select(
        "doc_id", F.explode_outer("shingles").alias("shingle")
    ).filter(F.col("shingle").isNotNull())


JACCARD_THRESHOLD = 0.01  # testdata docs are unique word salad; max observed ≈ 0.02

# DuckDB twin of word_shingles + pairwise jaccard on one source bucket.
# Restricting to a bucket keeps the candidate-pair space bounded — the
# full-corpus path is q_dedup_minhash (LSH candidates, no all-pairs).
_JACCARD_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w
      FROM documents WHERE source = 'src0'
    ),
    tok AS (
      SELECT doc_id,
             unnest(CASE WHEN len(w) >= 3 THEN generate_series(1, len(w)-2)
                         ELSE [] END) AS i,
             w
      FROM toks
    ),
    sh AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      FROM tok
    ),
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS c
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT d1, d2,
           ROUND(CAST(c AS DOUBLE) / (ca.n + cb.n - c), 6) AS jaccard
    FROM shared
    JOIN cnt ca ON ca.doc_id = d1
    JOIN cnt cb ON cb.doc_id = d2
    WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= {JACCARD_THRESHOLD}
"""


@demo_query("q_ngram_jaccard", oracle=_JACCARD_ORACLE)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup pairs within one source bucket.

    shared-count self-join on exploded shingles → jaccard as a ratio of
    integer counts (deterministic doubles, oracle-exact). The join key is
    the shingle, so the shuffle is bounded by total shingle occurrences,
    not by doc pairs.
    """
    docs = load_table(spark, sf_dir, "documents").filter(F.col("source") == "src0")
    # materialize once (three subtrees read it below); localCheckpoint
    # not cache() so the blocks free with the result instead of pinning
    # executor storage for the session
    sh = word_shingles(docs).localCheckpoint(eager=True)
    cnt = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("d1"), "shingle")
    b = sh.select(F.col("doc_id").alias("d2"), "shingle")
    shared = (
        a.join(b, "shingle")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ca = cnt.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
    cb = cnt.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
    jac = F.col("c").cast("double") / (F.col("n1") + F.col("n2") - F.col("c"))
    return (
        shared.join(ca, "d1")
        .join(cb, "d2")
        .filter(jac >= F.lit(JACCARD_THRESHOLD))
        .select("d1", "d2", F.round(jac, 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

_MINHASH_K = 32  # signature length
_LSH_ROWS = 4  # rows per band → 8 bands; s-curve threshold ≈ (1/8)^(1/4) ≈ .59
_MERSENNE = 4294967311  # prime > 2^32; a*x stays under 2^63
_rng = random.Random(42)
_MINHASH_COEFFS = [
    (_rng.randrange(1, 2**31), _rng.randrange(0, 2**31)) for _ in range(_MINHASH_K)
]


def _minhash_grams(docs: DataFrame) -> DataFrame:
    """(doc_id, sh) — each document's DISTINCT word-3-gram shingle
    hashes. Shingles never materialize as strings: tokens are hashed
    first and a shingle's identity is xxhash64 over its 3 token hashes —
    cheaper than concat'ing strings and byte-equivalent for MinHash
    purposes."""
    # size>=3 pre-filter: see word_shingles — sequence(0,-1) is [0,-1]
    # in Spark, and hw[-1] throws under ANSI; short docs yield no grams.
    toks = (
        _cpu_spread(docs)
        .select(
            "doc_id",
            F.expr("transform(split(lower(text), ' '), t -> xxhash64(t))").alias(
                "hw"
            ),
        )
        .filter(F.size("hw") >= 3)
    )
    return toks.select(
        "doc_id",
        F.array_distinct(
            F.expr(
                "transform(sequence(0, size(hw)-3), "
                "i -> xxhash64(hw[i], hw[i+1], hw[i+2]))"
            )
        ).alias("sh"),
    )


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, mh_0..mh_{k-1}) — k-permutation MinHash over word-3-gram
    shingles (``_minhash_grams``). Each permutation is (a*x+b) mod p
    over the 32-bit shingle hash; the signature is k mins per document.

    The k-permutation fold runs as ONE vectorized numpy kernel over
    Arrow batches (``mapInArrow``, guide §4.2): shingle lists arrive as
    a contiguous int64 buffer + offsets, the (n_shingles × k) permuted
    matrix is one broadcasted multiply-add-mod, and per-document mins
    are one ``np.minimum.reduceat`` over the list offsets — no explode,
    no aggregation exchange, byte-identical to the JVM expression form
    (``_minhash_signatures_agg``, kept as the parity reference;
    tests/test_neardup_planted.py pins equality). Measured 0.95→0.59 s
    on the signature stage at sf0.1 (the r15 A/B; the earlier JVM
    explode+min form was itself 3.5× faster than array_min(transform)
    lambdas, which drop out of codegen)."""
    import numpy as np

    a_np = np.array([a for a, _ in _MINHASH_COEFFS], dtype=np.uint64)
    b_np = np.array([b for _, b in _MINHASH_COEFFS], dtype=np.uint64)
    p_np = np.uint64(_MERSENNE)
    k = len(_MINHASH_COEFFS)
    names = ["doc_id"] + [f"mh_{j}" for j in range(k)]

    def kernel(batches):
        import pyarrow as pa

        for batch in batches:
            lst = batch.column(1)
            if isinstance(lst, pa.ChunkedArray):  # pragma: no cover
                lst = lst.combine_chunks()
            # offsets are ABSOLUTE into the (possibly shared) values
            # buffer; slice the value range this batch actually covers
            # so reduceat's trailing segment can never fold a foreign
            # row's shingles into the last document
            offs = lst.offsets.to_numpy().astype(np.int64)
            lo, hi = int(offs[0]), int(offs[-1])
            flat = (
                lst.values.to_numpy(zero_copy_only=False)
                .astype(np.int64)[lo:hi]
                .view(np.uint64)
            )
            x = flat & np.uint64(0xFFFFFFFF)  # pmod(h, 2^32) bit-exact
            # uint64 wrap is intended (mod-p math); scoped so the worker's
            # other UDFs keep numpy's default overflow handling
            with np.errstate(over="ignore"):
                m = (a_np[None, :] * x[:, None] + b_np[None, :]) % p_np
            mins = np.minimum.reduceat(m, offs[:-1] - lo, axis=0)
            yield pa.RecordBatch.from_arrays(
                [batch.column(0)]
                + [pa.array(mins[:, j].astype(np.int64)) for j in range(k)],
                names=names,
            )

    schema = "doc_id long, " + ", ".join(f"mh_{j} long" for j in range(k))
    return _minhash_grams(docs).mapInArrow(kernel, schema)


def _minhash_signatures_agg(docs: DataFrame) -> DataFrame:
    """The JVM expression-tree form of ``minhash_signatures`` — the
    explode + k min-aggregates plan the Arrow kernel replaced. Kept as
    the parity oracle for the kernel (byte-identical by contract): a
    document's shingles are generated inside one partition, so the
    partial aggregation collapses map-side and the exchange moves
    docs × (k+1) longs."""
    base = (
        _minhash_grams(docs)
        .select("doc_id", F.explode_outer("sh").alias("h"))
        .filter(F.col("h").isNotNull())  # see word_shingles: avoids expr-dup
        .select("doc_id", F.pmod("h", F.lit(2**32)).alias("x"))
    )
    aggs = [
        F.min(
            F.pmod(F.col("x") * F.lit(a) + F.lit(b), F.lit(_MERSENNE))
        ).alias(f"mh_{j}")
        for j, (a, b) in enumerate(_MINHASH_COEFFS)
    ]
    return base.groupBy("doc_id").agg(*aggs)


@demo_query("q_dedup_minhash", oracle=None)  # portable-hash algorithm; rows-only
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs over the documents table; see
    minhash_pairs for the algorithm and scale shape."""
    return minhash_pairs(load_table(spark, sf_dir, "documents"))


def minhash_pairs(docs: DataFrame) -> DataFrame:
    """(d1, d2, est_jaccard) — MinHash+LSH candidate pairs: band the
    k-wide signature into k/r buckets, exact-match join within
    (band_idx, band_signature), then estimate similarity as the fraction
    of agreeing minhashes.

    Banding makes the join key (band_idx, hash of r minhash values) —
    candidate generation is a hash join on bucket collisions, never an
    all-pairs comparison.
    """
    sig = minhash_signatures(docs)
    # every subtree below derives from the signature table — materialize
    # it once (eager localCheckpoint), otherwise each subtree recomputes
    # the full shingle+minhash pass. localCheckpoint, not cache(): the
    # blocks are released when the result goes out of scope instead of
    # pinning executor storage for the session (a cache here leaks into
    # every later query). At warehouse scale: persist to a table instead.
    sig = sig.localCheckpoint(eager=True)
    n_bands = _MINHASH_K // _LSH_ROWS
    # candidate generation carries ONLY (doc_id, band keys) through the
    # self-join — the k-wide signatures would multiply the exchange width
    # by ~16× for no benefit; they re-join after the (much smaller)
    # candidate set is known.
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band_idx"),
                        F.xxhash64(
                            *[
                                F.col(f"mh_{bi * _LSH_ROWS + r}")
                                for r in range(_LSH_ROWS)
                            ]
                        ).alias("band_sig"),
                    )
                    for bi in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.*")
    cand = (
        bands.select(F.col("doc_id").alias("d1"), "band_idx", "band_sig")
        .join(
            bands.select(F.col("doc_id").alias("d2"), "band_idx", "band_sig"),
            ["band_idx", "band_sig"],
        )
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .distinct()
    )
    agree = sum(
        F.when(F.col(f"a_{j}") == F.col(f"b_{j}"), 1).otherwise(0)
        for j in range(_MINHASH_K)
    )
    sig_a = sig.select(
        F.col("doc_id").alias("d1"),
        *[F.col(f"mh_{j}").alias(f"a_{j}") for j in range(_MINHASH_K)],
    )
    sig_b = sig.select(
        F.col("doc_id").alias("d2"),
        *[F.col(f"mh_{j}").alias(f"b_{j}") for j in range(_MINHASH_K)],
    )
    return (
        cand.join(sig_a, "d1")
        .join(sig_b, "d2")
        .select("d1", "d2", (agree / F.lit(_MINHASH_K)).alias("est_jaccard"))
    )


# ---------------------------------------------------------------------------
# near-dup clustering (connected components over candidate pairs)
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame, a: str = "d1", b: str = "d2", max_iter: int = 20
) -> DataFrame:
    """(node, component) — connected components of an undirected pair
    graph via min-label propagation: every node repeatedly adopts the
    smallest label among itself and its neighbors until fixpoint. The
    component id is therefore the smallest node id in the component
    (deterministic).

    Each iteration is one neighbor-min join + aggregation followed by a
    pointer-jump join (label ← label's label, Shiloach-Vishkin style):
    neighbor propagation alone needs O(diameter) rounds; the jump
    compresses label paths each round on top of it (measured on the
    sf0.1 cosine-similarity graph: 15 rounds → 10, 1.6× wall-clock).
    Every avoided round is a full corpus-sized join at 100 TB.
    ``localCheckpoint`` breaks lineage per round; without it the plan
    doubles every iteration and the job dies on plan explosion long
    before data size matters.
    """
    edges = (
        pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
        .unionByName(pairs.select(F.col(b).alias("src"), F.col(a).alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)  # reread every round; frees with GC
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        propagated = labels.join(
            neighbor_min, labels.node == neighbor_min.src, "left"
        ).select(
            "node",
            F.least(
                F.col("label"), F.coalesce("nbr_label", F.col("label"))
            ).alias("label"),
        )
        # pointer jump: adopt the label of one's label. Labels only ever
        # shrink toward the component minimum and every label value is a
        # node id present in `propagated`, so the self-join is total and
        # p.label <= u.label — least() keeps the smaller.
        updated = (
            propagated.alias("u")
            .join(
                propagated.select(
                    F.col("node").alias("p_node"), F.col("label").alias("p_label")
                ),
                F.col("u.label") == F.col("p_node"),
            )
            .select(
                "node", F.least(F.col("u.label"), F.col("p_label")).alias("label")
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            updated.alias("u")
            .join(labels.alias("l"), "node")
            .filter(F.col("u.label") != F.col("l.label"))
            .count()
        )
        labels = updated
        if changed == 0:
            break
    edges.unpersist()
    return labels.select("node", F.col("label").alias("component"))


def bucket_local_components(
    pairs: DataFrame, bucket: str = "bucket", a: str = "d1", b: str = "d2"
) -> DataFrame:
    """(node, component) for an edge set whose every edge lives inside
    exactly ONE partitioning key (single-probe LSH: each node has one
    bucket and edges join equal buckets) — components can never span
    buckets, so the O(diameter)-round global loop of
    ``connected_components`` is pure overhead. One shuffle of the edge
    list on the bucket key, then an Arrow-batched union-find per bucket
    (``applyInPandas`` — per-group imperative logic is the one thing
    the relational operators can't express), component id = smallest
    node id, same deterministic min-label semantics as the iterative
    version.

    Scale shape: the per-group state is the bucket's node set, already
    bounded by the LSH design upstream — the candidate pair join that
    produced ``pairs`` materializes |B|² rows per bucket, so any bucket
    small enough to survive the join is trivially small here. Versus
    the global loop this replaces ~10 driver rounds × (join + agg +
    pointer-jump + localCheckpoint) with a single stage (measured 2.6×
    end-to-end on q_dedup_clusters_semantic at sf0.1). NOT for edge
    sets where a node can occur under many keys (shingle buckets) —
    those components span buckets; use ``connected_components``.
    """
    import pandas as pd

    def uf(pdf: pd.DataFrame) -> pd.DataFrame:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for x, y in zip(pdf[a], pdf[b]):
            x, y = int(x), int(y)
            parent.setdefault(x, x)
            parent.setdefault(y, y)
            rx, ry = find(x), find(y)
            if rx != ry:
                # smaller root wins ⇒ every tree root is the min of its
                # set ⇒ final component id = min node id (matches the
                # min-label fixpoint of connected_components)
                if rx < ry:
                    parent[ry] = rx
                else:
                    parent[rx] = ry
        nodes = sorted(parent)
        return pd.DataFrame(
            {
                "node": pd.Series(nodes, dtype="int64"),
                "component": pd.Series(
                    [find(n) for n in nodes], dtype="int64"
                ),
            }
        )

    return (
        pairs.select(bucket, a, b)
        .groupBy(bucket)
        .applyInPandas(uf, schema="node long, component long")
    )


# Recursive-CTE twin of connected_components over the (oracle-exact)
# Jaccard edge set: transitive closure via WITH RECURSIVE, component =
# min reachable node — same min-label semantics as the Spark iteration.
_CLUSTERS_ORACLE = f"""
    WITH RECURSIVE pairs AS (
      SELECT d1, d2 FROM ({_JACCARD_ORACLE})
    ),
    edges AS (
      SELECT d1 AS src, d2 AS dst FROM pairs
      UNION
      SELECT d2 AS src, d1 AS dst FROM pairs
    ),
    reach AS (
      SELECT src AS node, dst AS r FROM edges
      UNION
      SELECT re.node, e.dst FROM reach re JOIN edges e ON re.r = e.src
    ),
    comp AS (
      SELECT node, LEAST(node, MIN(r)) AS component FROM reach GROUP BY node
    )
    SELECT component,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           string_agg(CAST(node AS VARCHAR), ',' ORDER BY node) AS doc_ids
    FROM comp GROUP BY component
"""


@demo_query("q_dedup_clusters", oracle=_CLUSTERS_ORACLE)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: Jaccard candidate pairs → connected components
    → cluster profile (component id = smallest doc_id, size, doc list).
    The keep-one-per-cluster dedup policy is then 'keep node ==
    component'.

    Oracle-checked: the edge set (q_ngram_jaccard) is engine-portable,
    and the DuckDB recursive-CTE closure computes the same min-label
    components the Spark iteration converges to."""
    pairs = q_ngram_jaccard(spark, sf_dir)
    clusters = cluster_profiles(pairs)
    # the driver canonicalizer sorts/hashes every column via pandas, which
    # can't hash an array<bigint> — publish the doc list as a CSV string
    # (same information, hashable); programmatic callers use
    # cluster_profiles() for the typed array
    return clusters.withColumn("doc_ids", F.array_join("doc_ids", ","))


def cluster_profiles(pairs: DataFrame) -> DataFrame:
    """(component, n_docs, doc_ids: array<bigint>) — cluster profile with
    the typed member list, for library callers."""
    comps = connected_components(pairs)
    return comps.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sort_array(F.collect_list("node")).alias("doc_ids"),
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 64
_SIMHASH_BANDS = 4  # 16 bits per band; hamming<=3 ⇒ ≥1 band equal (pigeonhole)


def simhash_bands(docs: DataFrame) -> DataFrame:
    """(doc_id, sb_0..sb_3) — 64-bit SimHash as four 16-bit band values.

    Per token: xxhash64 → per-bit ±1 votes, summed per document; bit b
    of the simhash is 1 iff its vote is positive. The vote sums run as
    64 map-side partial aggregates over the exploded token hashes — the
    partial agg collapses to one row per document before the exchange
    (same shape as minhash_signatures; a zero-shuffle
    higher-order-function variant loses whole-stage codegen and is
    slower). Band values stay < 2^16 so no sign issues; hamming distance
    is reconstructable from the four bands via xor+bit_count.
    """
    toks = _cpu_spread(docs).select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok")
    ).select("doc_id", F.xxhash64("tok").alias("h"))
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"(h >> {b}) & 1") == 1, 1).otherwise(-1)
            ).alias(f"v_{b}")
            for b in range(_SIMHASH_BITS)
        ]
    )
    band_cols = []
    for bi in range(_SIMHASH_BANDS):
        bits = range(bi * 16, (bi + 1) * 16)
        band = sum(
            F.when(F.col(f"v_{b}") > 0, F.lit(1 << (b - bi * 16))).otherwise(0)
            for b in bits
        )
        band_cols.append(band.cast("long").alias(f"sb_{bi}"))
    return votes.select("doc_id", *band_cols)


@demo_query("q_dedup_simhash", oracle=None)  # portable-hash algorithm; rows-only
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with hamming distance <= 3 (see
    ``simhash_pairs``)."""
    return simhash_pairs(load_table(spark, sf_dir, "documents"))


def simhash_pairs(docs: DataFrame) -> DataFrame:
    """(d1, d2, hamming) — SimHash near-dup pairs with hamming <= 3.

    Pigeonhole banding: any pair within hamming 3 of a 64-bit simhash
    agrees exactly on at least one of 4 16-bit bands, so candidates come
    from 4 exact-match self-joins (cheap), then the true hamming distance
    filters via xor + bit_count.
    """
    sig = simhash_bands(docs)
    exploded = sig.select(
        "doc_id",
        *[f"sb_{b}" for b in range(_SIMHASH_BANDS)],
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"), F.col(f"sb_{b}").alias("band_val")
                    )
                    for b in range(_SIMHASH_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", *[f"sb_{b}" for b in range(_SIMHASH_BANDS)], "band.*")
    exploded = exploded.localCheckpoint(eager=True)

    left = exploded.select(
        F.col("doc_id").alias("d1"),
        *[F.col(f"sb_{b}").alias(f"x_{b}") for b in range(_SIMHASH_BANDS)],
        "band_idx",
        "band_val",
    )
    right = exploded.select(
        F.col("doc_id").alias("d2"),
        *[F.col(f"sb_{b}").alias(f"y_{b}") for b in range(_SIMHASH_BANDS)],
        "band_idx",
        "band_val",
    )
    hamming = sum(
        F.bit_count(F.col(f"x_{b}").bitwiseXOR(F.col(f"y_{b}")))
        for b in range(_SIMHASH_BANDS)
    )
    return (
        left.join(right, ["band_idx", "band_val"])
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2", hamming.alias("hamming"))
        .filter(F.col("hamming") <= 3)
        .distinct()
    )


# ---------------------------------------------------------------------------
# fuzzy entity matching (blocked edit-distance join)
# ---------------------------------------------------------------------------


def fuzzy_name_pairs(
    df: DataFrame,
    key: str,
    name: str,
    block_len: int = 16,
    max_dist: int = 1,
    max_block: int | None = 4096,
) -> DataFrame:
    """Entity-resolution candidate pairs: names within ``max_dist`` edits
    of each other, found by a *blocked* self-join — records pair only
    inside a (prefix, length) OR a (suffix, length) block, never
    all-against-all.

    This is the string twin of the LSH pattern: the union of the two
    complementary block keys is the pigeonhole — a same-length pair
    within 1 edit differs at a single position, which cannot be inside
    both the first ``block_len`` and the last ``block_len`` characters
    (for names longer than 2·block_len with several interior edits,
    production adds a phonetic key). Two block-key self-joins run
    independently; the suffix join drops prefix-equal pairs map-side, so
    the result sets are DISJOINT by construction and the union needs no
    dedup shuffle — levenshtein, the expensive part, runs map-side on
    in-block pairs only. Length rides in both block keys to keep blocks
    bounded, which restricts recall to same-length (substitution) edits
    — the documented trade.

    ``max_block`` is the skew guard: a block key hot enough to exceed it
    (data pathology — thousands of same-length names sharing a 16-char
    prefix) would go quadratic at 100×, so oversize blocks are excluded
    wholesale rather than salted (salting an edit-distance self-join
    loses cross-salt pairs anyway, so the cap makes the recall loss
    explicit and bounded: dropped keys are identifiable by re-running
    the block-size count). The hot-key set is found by one keys-only
    aggregate and removed via broadcast anti-join — no extra shuffle of
    the record side beyond the count itself.
    """
    def pairs_on(blk_col) -> DataFrame:
        blocked = df.select(
            F.col(key).alias("k"), F.col(name).alias("nm"), blk_col.alias("blk")
        )
        if max_block is not None:
            hot = (
                blocked.groupBy("blk")
                .agg(F.count(F.lit(1)).alias("bw"))
                .filter(F.col("bw") > max_block)
                .select("blk")
            )
            blocked = blocked.join(F.broadcast(hot), "blk", "left_anti")
        a = blocked.select(F.col("k").alias("k1"), F.col("nm").alias("n1"), "blk")
        b = blocked.select(F.col("k").alias("k2"), F.col("nm").alias("n2"), "blk")
        return a.join(b, "blk").filter(F.col("k1") < F.col("k2"))

    length = F.length(F.col(name))
    prefix_blk = F.struct(
        F.substring(F.col(name), 1, block_len).alias("sub"), length.alias("len")
    )
    suffix_blk = F.struct(
        F.expr(
            f"substring({name}, greatest(length({name})-{block_len - 1}, 1), "
            f"{block_len})"
        ).alias("sub"),
        length.alias("len"),
    )
    by_prefix = pairs_on(prefix_blk)
    by_suffix = pairs_on(suffix_blk).filter(
        # disjointness: anything the prefix key already pairs is skipped
        F.substring("n1", 1, block_len) != F.substring("n2", 1, block_len)
    )
    return (
        by_prefix.unionByName(by_suffix)
        # thresholded levenshtein early-exits once the running distance
        # exceeds max_dist (returns -1): O(len·max_dist) per pair, not
        # O(len²) — the in-block candidate count is what scales, so the
        # per-pair cost is the whole operator's cost
        .withColumn("dist", F.levenshtein("n1", "n2", max_dist))
        .filter((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
        .select("k1", "k2", "n1", "n2", F.col("dist").cast("int").alias("dist"))
    )


@demo_query(
    "q_fuzzy_match",
    oracle="""
    WITH pre AS (
      SELECT * FROM (
        SELECT c_custkey AS k, c_name AS nm,
               substr(c_name, 1, 16) AS sub, length(c_name) AS len
        FROM customer
      ) QUALIFY COUNT(*) OVER (PARTITION BY sub, len) <= 4096
    ),
    suf AS (
      SELECT * FROM (
        SELECT c_custkey AS k, c_name AS nm,
               substr(c_name, greatest(length(c_name) - 15, 1), 16) AS sub,
               length(c_name) AS len
        FROM customer
      ) QUALIFY COUNT(*) OVER (PARTITION BY sub, len) <= 4096
    ),
    cand AS (
      SELECT a.k AS k1, b.k AS k2, a.nm AS n1, b.nm AS n2
      FROM pre a JOIN pre b ON a.sub = b.sub AND a.len = b.len AND a.k < b.k
      UNION ALL
      SELECT a.k, b.k, a.nm, b.nm
      FROM suf a JOIN suf b ON a.sub = b.sub AND a.len = b.len AND a.k < b.k
      WHERE substr(a.nm, 1, 16) <> substr(b.nm, 1, 16)
    )
    SELECT k1, k2, n1, n2, CAST(levenshtein(n1, n2) AS INT) AS dist
    FROM cand WHERE levenshtein(n1, n2) <= 1
    """,
)
def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked edit-distance matching over customer names with unioned
    prefix+suffix block keys (see ``fuzzy_name_pairs``)."""
    return fuzzy_name_pairs(
        load_table(spark, sf_dir, "customer"), key="c_custkey", name="c_name"
    )


@demo_query(
    "q_dedup_anti_join",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_victims,
           CAST(SUM(n_chars) AS BIGINT) AS chars_removed
    FROM documents d
    WHERE EXISTS (SELECT 1 FROM documents b
                  WHERE b.text = d.text AND b.doc_id < d.doc_id)
    GROUP BY lang
    """,
)
def q_dedup_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup expressed as a LEFT ANTI join — the victims report
    (per-language count and bytes removed) for rows that are NOT the
    canonical lowest-id copy of their content group.

    The anti-join formulation is the one you compose into a pipeline at
    scale: derive the canonical-id set once (groupBy content → min id,
    one shuffle whose width is the min-id aggregate, not the corpus),
    then anti-join the corpus against it on the ID ONLY — a
    long-vs-long join, broadcastable when the dup rate is low, with no
    second shuffle of document text (contrast q_dedup_keep_first's
    window, which re-sorts the full rows inside each content group)."""
    docs = load_table(spark, sf_dir, "documents")
    canon_ids = docs.groupBy("text").agg(F.min("doc_id").alias("doc_id")).select(
        "doc_id"
    )
    victims = docs.join(canon_ids, "doc_id", "left_anti")
    return victims.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_victims"),
        F.sum("n_chars").alias("chars_removed"),
    )


# ---------------------------------------------------------------------------
# planted-duplicate recall: driver-checkable evidence for the xxhash64
# paths. The raw minhash/simhash values are engine-specific (hence those
# queries stay rows-only), but recall on EXACT planted copies is provably
# 100% regardless of hash choice — an identical text yields an identical
# signature, so every band collides and the pair must surface. That makes
# the recall COUNT deterministic and oracle-checkable, exercising the
# full shingle→signature→band→join machinery end-to-end under the
# driver's hash gate.
# ---------------------------------------------------------------------------

_RECALL_OFFSET = 10_000_000  # planted-copy ids: far above any real doc_id


def _planted_src0(spark: SparkSession, sf_dir: str, min_tokens: int) -> DataFrame:
    """src0 documents with at least ``min_tokens`` whitespace tokens
    (shorter docs yield no 3-gram shingles, so they can never be
    recalled by construction and are excluded from the plant)."""
    return (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("source") == "src0")
        .filter(F.size(F.split(F.lower(F.col("text")), " ")) >= min_tokens)
        .select("doc_id", "text")
    )


_RECALL_ORACLE = """
    WITH base AS (
      SELECT doc_id FROM documents
      WHERE source = 'src0'
        AND len(string_split(lower(text), ' ')) >= {min_tokens}
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_planted,
           CAST(COUNT(*) AS BIGINT) AS n_recovered,
           TRUE AS full_recall
    FROM base
"""


@demo_query("q_dedup_minhash_recall", oracle=_RECALL_ORACLE.format(min_tokens=3))
def q_dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH recall on planted exact duplicates: every src0 doc
    (with enough tokens to shingle) gets an identical copy at
    ``doc_id + _RECALL_OFFSET``; the LSH pipeline must recover every
    planted pair (est_jaccard 1.0, all bands collide). One row:
    (n_planted, n_recovered, full_recall) — the oracle pins
    n_recovered = n_planted."""
    docs = _planted_src0(spark, sf_dir, min_tokens=3)
    copies = docs.select(
        (F.col("doc_id") + _RECALL_OFFSET).alias("doc_id"), "text"
    )
    pairs = minhash_pairs(docs.unionByName(copies))
    recovered = pairs.filter(
        (F.col("d1") < _RECALL_OFFSET)
        & (F.col("d2") == F.col("d1") + _RECALL_OFFSET)
    ).agg(F.count(F.lit(1)).alias("n_recovered"))
    planted = docs.agg(F.count(F.lit(1)).alias("n_planted"))
    return planted.crossJoin(recovered).select(
        "n_planted",
        "n_recovered",
        (F.col("n_recovered") == F.col("n_planted")).alias("full_recall"),
    )


@demo_query("q_dedup_simhash_recall", oracle=_RECALL_ORACLE.format(min_tokens=1))
def q_dedup_simhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash recall on planted exact duplicates (identical text →
    identical 64-bit simhash → hamming 0, every band collides). Same
    deterministic contract as q_dedup_minhash_recall; simhash needs only
    one token, so the plant covers every src0 doc."""
    docs = _planted_src0(spark, sf_dir, min_tokens=1)
    copies = docs.select(
        (F.col("doc_id") + _RECALL_OFFSET).alias("doc_id"), "text"
    )
    pairs = simhash_pairs(docs.unionByName(copies))
    recovered = pairs.filter(
        (F.col("d1") < _RECALL_OFFSET)
        & (F.col("d2") == F.col("d1") + _RECALL_OFFSET)
    ).agg(F.count(F.lit(1)).alias("n_recovered"))
    planted = docs.agg(F.count(F.lit(1)).alias("n_planted"))
    return planted.crossJoin(recovered).select(
        "n_planted",
        "n_recovered",
        (F.col("n_recovered") == F.col("n_planted")).alias("full_recall"),
    )


# ---------------------------------------------------------------------------
# portable MinHash: the fully driver-verifiable variant. The production
# path above hashes with engine-native xxhash64 (fastest, rows-only by
# necessity); this twin derives every hash from md5 — computable
# bit-identically in DuckDB — so the SIGNATURE VALUES, the band keys,
# the candidate set, and the estimated Jaccard all hash-match the
# oracle. Same algorithm, portable arithmetic: the oracle checks the
# whole shingle→permute→min→band→join→estimate pipeline, not just
# planted-copy recall counts.
# ---------------------------------------------------------------------------

_PMH_K = 16  # signature length
_PMH_ROWS = 4  # rows per band → 4 bands; threshold ≈ (1/4)^(1/4) ≈ .71
_PMH_P = 1_000_000_007  # prime ≈ 2^30: a*x + b stays far under 2^63
_pmh_rng = random.Random(7)
_PMH_COEFFS = [
    (_pmh_rng.randrange(1, 2**30), _pmh_rng.randrange(0, 2**30))
    for _ in range(_PMH_K)
]
_PMH_OFFSET = 20_000_000  # truncated-copy ids: disjoint from real doc_ids
_PMH_MIN_MATCH = 8  # report pairs agreeing on ≥ half the signature


def _pmh_oracle() -> str:
    p = _PMH_P
    mins = ",\n           ".join(
        f"MIN(({a}*x + {b}) % {p}) AS m{j}"
        for j, (a, b) in enumerate(_PMH_COEFFS)
    )
    bands = "\n      UNION ALL\n".join(
        "      SELECT doc_id, {j} AS band, {key} AS bsig FROM sig".format(
            j=j,
            key=" || ',' || ".join(
                f"m{4 * j + r}::VARCHAR" for r in range(_PMH_ROWS)
            ),
        )
        for j in range(_PMH_K // _PMH_ROWS)
    )
    agree = " + ".join(f"CAST(s1.m{j} = s2.m{j} AS INT)" for j in range(_PMH_K))
    return f"""
    WITH base_docs AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w
      FROM documents
      WHERE source = 'src0' AND len(string_split(lower(text), ' ')) >= 10
    ),
    corpus AS (
      SELECT doc_id, w FROM base_docs
      UNION ALL
      SELECT doc_id + {_PMH_OFFSET},
             w[1:CAST(FLOOR(4 * len(w) / 5) AS BIGINT)]
      FROM base_docs
    ),
    sh AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
      FROM (SELECT doc_id, w,
                   unnest(CASE WHEN len(w) >= 3
                               THEN generate_series(1, len(w)-2)
                               ELSE [] END) AS i
            FROM corpus)
    ),
    hashed AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % {p} AS x
      FROM sh
    ),
    sig AS (
      SELECT doc_id,
           {mins}
      FROM hashed GROUP BY doc_id
    ),
    bands AS (
{bands}
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.bsig = b.bsig
                   AND a.doc_id < b.doc_id
    )
    SELECT p.d1, p.d2,
           CAST({agree} AS BIGINT) AS n_match,
           CAST({agree} AS DOUBLE) / {_PMH_K}.0 AS est_jaccard
    FROM pairs p
    JOIN sig s1 ON s1.doc_id = p.d1
    JOIN sig s2 ON s2.doc_id = p.d2
    WHERE {agree} >= {_PMH_MIN_MATCH}
    """


@demo_query("q_dedup_minhash_portable", oracle=_pmh_oracle())
def q_dedup_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH with PORTABLE hashes: the full pipeline — word-3-gram
    shingles, md5-derived base hash, 16 literal (a·x+b) mod p
    permutations, 4 bands of 4, band-key candidate join, agreement
    estimate — produces engine-identical values, so the driver verifies
    the signature arithmetic itself (the xxhash64 production path above
    can only be rows-only). Near-dups are planted in-query: every
    qualifying src0 doc gets an 80%-prefix copy, whose true shingle
    Jaccard (≈0.7) sits at the band s-curve threshold — so the output
    exercises both collision and agreement arithmetic, not just exact
    copies.

    Same scale shape as minhash_pairs: candidates join on
    (band, band-signature) keys only, never all-pairs; the estimate
    re-joins the signature table on the candidate ids. md5-per-shingle
    is slower than xxhash64 (string hex + bigint parse vs one native
    64-bit hash) — the price of portability, paid only in this
    verification twin; the production path stays engine-native."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("source") == "src0")
        .select("doc_id", F.split(F.lower("text"), " ").alias("w"))
        .filter(F.size("w") >= 10)
    )
    copies = docs.select(
        (F.col("doc_id") + _PMH_OFFSET).alias("doc_id"),
        F.slice(F.col("w"), 1, F.floor(F.size("w") * 4 / 5).cast("int")).alias("w"),
    )
    # size>=3 always holds here (upstream token-count filter × slice
    # fraction), but keep the explicit guard: sequence(0,-1) is [0,-1]
    # in Spark and w[-1] throws under ANSI mode.
    corpus = docs.unionByName(copies).filter(F.size("w") >= 3)
    grams = corpus.select(
        "doc_id",
        F.array_distinct(
            F.expr(
                "transform(sequence(0, size(w)-3), "
                "i -> concat_ws(' ', w[i], w[i+1], w[i+2]))"
            )
        ).alias("sh"),
    )
    hashed = (
        grams.select("doc_id", F.explode_outer("sh").alias("g"))
        .filter(F.col("g").isNotNull())
        .select(
            "doc_id",
            (
                F.conv(F.substring(F.md5("g"), 1, 8), 16, 10).cast("long")
                % F.lit(_PMH_P)
            ).alias("x"),
        )
    )
    sig = hashed.groupBy("doc_id").agg(
        *[
            F.min((F.col("x") * F.lit(a) + F.lit(b)) % F.lit(_PMH_P)).alias(
                f"m{j}"
            )
            for j, (a, b) in enumerate(_PMH_COEFFS)
        ]
    )
    n_bands = _PMH_K // _PMH_ROWS
    stack = "stack({n}, {args}) as (band, bsig)".format(
        n=n_bands,
        args=", ".join(
            "{j}, concat_ws(',', {cols})".format(
                j=j,
                cols=", ".join(f"m{4 * j + r}" for r in range(_PMH_ROWS)),
            )
            for j in range(n_bands)
        ),
    )
    bands = sig.selectExpr("doc_id", stack)
    a = bands.select(F.col("doc_id").alias("d1"), "band", "bsig")
    b = bands.select(F.col("doc_id").alias("d2"), "band", "bsig")
    pairs = (
        a.join(b, ["band", "bsig"])
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .distinct()
    )
    s1 = sig.select(
        F.col("doc_id").alias("d1"),
        *[F.col(f"m{j}").alias(f"a{j}") for j in range(_PMH_K)],
    )
    s2 = sig.select(
        F.col("doc_id").alias("d2"),
        *[F.col(f"m{j}").alias(f"b{j}") for j in range(_PMH_K)],
    )
    agree = sum(
        (F.col(f"a{j}") == F.col(f"b{j}")).cast("int") for j in range(_PMH_K)
    )
    return (
        pairs.join(s1, "d1")
        .join(s2, "d2")
        .select(
            "d1",
            "d2",
            agree.cast("bigint").alias("n_match"),
            (agree.cast("double") / F.lit(float(_PMH_K))).alias("est_jaccard"),
        )
        .filter(F.col("n_match") >= _PMH_MIN_MATCH)
    )


# ---------------------------------------------------------------------------
# portable SimHash: md5-twin of the xxhash64 simhash path above, same
# rationale as q_dedup_minhash_portable — the 32-bit signature VALUES,
# the 4×8-bit band candidate set, and the hamming distances are all
# engine-identical, so the driver verifies the sign-sum arithmetic
# itself, not just planted recall.
# ---------------------------------------------------------------------------

_PSH_BITS = 32
_PSH_BANDS = 4  # 8-bit band keys
_PSH_HAM = 3  # report threshold


def _psh_oracle() -> str:
    bits = ", ".join(
        f"CASE WHEN SUM(tf * (2*((x >> {j}) & 1) - 1)) > 0 "
        f"THEN {1 << j}::BIGINT ELSE 0 END AS b{j}"
        for j in range(_PSH_BITS)
    )
    s_sum = " + ".join(f"b{j}" for j in range(_PSH_BITS))
    return f"""
    WITH base_docs AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w
      FROM documents
      WHERE source = 'src0' AND len(string_split(lower(text), ' ')) >= 10
    ),
    corpus AS (
      SELECT doc_id, w FROM base_docs
      UNION ALL
      SELECT doc_id + {_PMH_OFFSET},
             w[1:CAST(FLOOR(4 * len(w) / 5) AS BIGINT)]
      FROM base_docs
    ),
    tf AS (
      SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(w) AS t FROM corpus)
      GROUP BY doc_id, t
    ),
    hx AS (
      SELECT doc_id, tf,
             CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) AS x
      FROM tf
    ),
    sig0 AS (SELECT doc_id, {bits} FROM hx GROUP BY doc_id),
    sh AS (SELECT doc_id, {s_sum} AS s FROM sig0),
    bk AS (
      SELECT doc_id, s, band, (s >> (band * 8)) & 255 AS key
      FROM (SELECT doc_id, s, unnest([0, 1, 2, 3]) AS band FROM sh)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, a.s AS sim1, b.doc_id AS d2, b.s AS sim2
      FROM bk a
      JOIN bk b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    )
    SELECT d1, d2, sim1, sim2,
           CAST(bit_count(CAST(xor(sim1, sim2) AS BIGINT)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(CAST(xor(sim1, sim2) AS BIGINT)) <= {_PSH_HAM}
    """


@demo_query("q_dedup_simhash_portable", oracle=_psh_oracle())
def q_dedup_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash with PORTABLE hashes: tf-weighted sign-sum over
    md5-derived 32-bit token hashes, banded into 4×8-bit keys for
    candidate generation, hamming ≤ 3 refinement — every intermediate
    (signature values, candidate set, distances) hash-matches the
    DuckDB oracle. Planted 80%-prefix copies land at hamming 1-7, so
    the threshold boundary is exercised from both sides alongside
    organic near-collisions of the small synthetic vocabulary.

    Same scale shape as the xxhash64 path: candidates come from the
    band-key equi-join (each doc appears in 4 buckets), never all-pairs;
    the refinement is integer xor/popcount on the joined signatures."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("source") == "src0")
        .select("doc_id", F.split(F.lower("text"), " ").alias("w"))
        .filter(F.size("w") >= 10)
    )
    copies = docs.select(
        (F.col("doc_id") + _PMH_OFFSET).alias("doc_id"),
        F.slice(F.col("w"), 1, F.floor(F.size("w") * 4 / 5).cast("int")).alias("w"),
    )
    corpus = docs.unionByName(copies)
    tf = (
        corpus.select("doc_id", F.explode("w").alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    hx = tf.select(
        "doc_id",
        "tf",
        F.conv(F.substring(F.md5("t"), 1, 8), 16, 10).cast("long").alias("x"),
    )
    bit_aggs = [
        F.when(
            F.sum(
                F.col("tf")
                * (2 * F.shiftright(F.col("x"), j).bitwiseAND(F.lit(1)) - 1)
            )
            > 0,
            F.lit(1 << j).cast("long"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias(f"b{j}")
        for j in range(_PSH_BITS)
    ]
    sig0 = hx.groupBy("doc_id").agg(*bit_aggs)
    sh = sig0.select(
        "doc_id", sum(F.col(f"b{j}") for j in range(_PSH_BITS)).alias("s")
    )
    bk = sh.select(
        "doc_id",
        "s",
        F.explode(F.array(*[F.lit(i) for i in range(_PSH_BANDS)])).alias("band"),
    ).withColumn(
        "key", F.expr("shiftright(s, band * 8) & 255")
    )
    a = bk.select(
        F.col("doc_id").alias("d1"), F.col("s").alias("sim1"), "band", "key"
    )
    b = bk.select(
        F.col("doc_id").alias("d2"), F.col("s").alias("sim2"), "band", "key"
    )
    cand = (
        a.join(b, ["band", "key"])
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2", "sim1", "sim2")
        .distinct()
    )
    ham = F.bit_count(F.col("sim1").bitwiseXOR(F.col("sim2"))).cast("bigint")
    return cand.withColumn("hamming", ham).filter(F.col("hamming") <= _PSH_HAM)


# ---------------------------------------------------------------------------
# n-gram containment — the ASYMMETRIC near-dup relation jaccard misses:
# an excerpt shares only a fraction of the longer doc's shingles
# (low jaccard) but nearly all of ITS OWN (high containment). This is
# how partial-copy / quote-extraction dedup actually works.
# ---------------------------------------------------------------------------

_CONTAIN_T = 0.5
_CONTAIN_OFFSET = 30_000_000  # planted-excerpt ids


_CONTAIN_ORACLE = f"""
    WITH base_docs AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w
      FROM documents
      WHERE source = 'src0' AND len(string_split(lower(text), ' ')) >= 15
    ),
    corpus AS (
      SELECT doc_id, w FROM base_docs
      UNION ALL
      SELECT doc_id + {_CONTAIN_OFFSET},
             w[1:CAST(FLOOR(3 * len(w) / 5) AS BIGINT)]
      FROM base_docs
    ),
    sh AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
      FROM (SELECT doc_id, w,
                   unnest(CASE WHEN len(w) >= 3
                               THEN generate_series(1, len(w)-2)
                               ELSE [] END) AS i
            FROM corpus)
    ),
    cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS inner_id, b.doc_id AS outer_id,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM sh a JOIN sh b USING (g)
      WHERE a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT inner_id, outer_id,
           ROUND(CAST(c AS DOUBLE) / ci.n, 6) AS containment
    FROM shared
    JOIN cnt ci ON ci.doc_id = inner_id
    WHERE CAST(c AS DOUBLE) / ci.n >= {_CONTAIN_T}
"""


@demo_query("q_dedup_containment", oracle=_CONTAIN_ORACLE)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram containment pairs (|sh(inner) ∩ sh(outer)| / |sh(inner)|
    ≥ 0.5) over one source bucket plus planted 60%-prefix excerpts —
    every planted excerpt is fully contained in its original
    (containment 1.0 by the prefix property) while jaccard would score
    it ~0.6, which is exactly the asymmetry this operator exists to
    catch. Ratio of integer counts → oracle-exact doubles.

    Scale shape: same as q_ngram_jaccard — the self-join keys on the
    shingle, so the shuffle is bounded by shingle occurrences, never
    doc pairs; the denominator join ships per-doc counts only."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("source") == "src0")
        .select("doc_id", F.split(F.lower("text"), " ").alias("w"))
        .filter(F.size("w") >= 15)
    )
    excerpts = docs.select(
        (F.col("doc_id") + _CONTAIN_OFFSET).alias("doc_id"),
        F.slice(F.col("w"), 1, F.floor(F.size("w") * 3 / 5).cast("int")).alias("w"),
    )
    # size>=3 always holds here (size>=15 upstream × 3/5 slice), but
    # keep the explicit guard: sequence(0,-1) is [0,-1] in Spark and
    # w[-1] throws under ANSI mode.
    corpus = docs.unionByName(excerpts).filter(F.size("w") >= 3)
    grams = corpus.select(
        "doc_id",
        F.array_distinct(
            F.expr(
                "transform(sequence(0, size(w)-3), "
                "i -> concat_ws(' ', w[i], w[i+1], w[i+2]))"
            )
        ).alias("sh"),
    )
    sh = (
        grams.select("doc_id", F.explode_outer("sh").alias("g"))
        .filter(F.col("g").isNotNull())
        .localCheckpoint(eager=True)
    )
    cnt = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("inner_id"), "g")
    b = sh.select(F.col("doc_id").alias("outer_id"), "g")
    shared = (
        a.join(b, "g")
        .filter(F.col("inner_id") != F.col("outer_id"))
        .groupBy("inner_id", "outer_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ci = cnt.select(F.col("doc_id").alias("inner_id"), F.col("n").alias("ni"))
    return (
        shared.join(ci, "inner_id")
        .withColumn(
            "containment",
            F.round(F.col("c").cast("double") / F.col("ni"), 6),
        )
        .filter(F.col("c").cast("double") / F.col("ni") >= _CONTAIN_T)
        .select("inner_id", "outer_id", "containment")
    )



# -- exact substring-span dedup (Lee et al. 2022, "Deduplicating Training
# -- Data Makes Language Models Better" — the ExactSubstr shape) -------------

_SPAN_K = 8  # tokens per shingle: spans >= K tokens are detectable


def _span_shingles(docs: DataFrame, k: int) -> tuple[DataFrame, DataFrame]:
    """Shared shingle builder for the ExactSubstr passes: ``toks``
    (doc_id, toks, n) and ``grams`` (doc_id, pos, h) — one row per
    1-based shingle position with the md5 digest of the k-token window.
    The three passes (detect / account / rewrite) MUST shingle
    identically or they silently disagree; this is the single place
    tokenization lives. NULL text coalesces to '' (one empty token,
    < k, so no grams — matching the oracle, where unnesting NULL yields
    no rows). Only 16-byte digests ever shuffle, never text."""
    toks = docs.select(
        "doc_id",
        F.split(F.coalesce(F.col("text"), F.lit("")), " ").alias("toks"),
    ).withColumn("n", F.size("toks"))
    grams = (
        toks.filter(F.col("n") >= k)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.col("n") - (k - 1))
            ).alias("pos"),
            "toks",
        )
        .select(
            "doc_id",
            "pos",
            F.md5(F.concat_ws(" ", F.slice("toks", F.col("pos"), k))).alias(
                "h"
            ),
        )
    )
    return toks, grams


def _removal_intervals(grams: DataFrame, k: int) -> DataFrame:
    """Keep-first removal intervals (doc_id, s, e): every duplicated
    shingle occurrence except the globally first — ordered by
    (doc_id, pos), deterministic at any parallelism — marks its k-token
    window for removal. Shared by the accounting and rewrite passes."""
    from pyspark.sql import Window

    wg = Window.partitionBy("h").orderBy("doc_id", "pos")
    occ = grams.select(
        "doc_id",
        "pos",
        F.row_number().over(wg).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("h")).alias("c"),
    )
    return occ.filter((F.col("c") > 1) & (F.col("rk") > 1)).select(
        "doc_id",
        F.col("pos").alias("s"),
        (F.col("pos") + (k - 1)).alias("e"),
    )


def _merged_islands(removal: DataFrame) -> DataFrame:
    """Union overlapping removal intervals per doc (gaps-and-islands on
    a running-max window) → (doc_id, island, ms, me)."""
    from pyspark.sql import Window

    wd = Window.partitionBy("doc_id").orderBy("s")
    cummax_prev = F.max("e").over(
        wd.rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        removal.withColumn(
            "brk",
            F.when(
                F.col("s") > F.coalesce(cummax_prev, F.lit(-1)), 1
            ).otherwise(0),
        )
        .withColumn("island", F.sum("brk").over(wd))
        .groupBy("doc_id", "island")
        .agg(F.min("s").alias("ms"), F.max("e").alias("me"))
    )


def substring_spans(docs: DataFrame, k: int = _SPAN_K) -> DataFrame:
    """Positions of corpus-wide duplicated ``k``-token shingles, merged
    into MAXIMAL per-document spans — the distributed twin of the
    suffix-array pass in exact-substring dedup: every duplicated token
    run of length >= k appears as one (doc_id, span_start, span_end)
    row covering the full run, not k-gram fragments.

    Spark-first shape (no UDFs, 100 TB posture): shingle digests get a
    map-side partial count, duplicated digests broadcast back as a semi
    join, and per doc the consecutive flagged positions collapse into
    maximal runs via the gaps-and-islands ``pos - row_number()`` key.
    Tokenization is a plain single-space split (kept exactly
    oracle-portable); swap a real tokenizer upstream and feed the token
    array instead. Docs shorter than k tokens yield no rows."""
    from pyspark.sql import Window

    _toks, grams = _span_shingles(docs, k)
    dup_h = (
        grams.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .select("h")
    )
    flagged = grams.join(dup_h, "h", "left_semi")
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = flagged.withColumn("grp", F.col("pos") - F.row_number().over(w))
    return runs.groupBy("doc_id", "grp").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + (k - 1)).alias("span_end"),
        (F.max("pos") - F.min("pos") + k).alias("span_tokens"),
    ).select("doc_id", "span_start", "span_end", "span_tokens")


def substring_scrub_accounting(docs: DataFrame, k: int = _SPAN_K) -> DataFrame:
    """Keep-first exact-substring scrub accounting: removal intervals
    (see ``_removal_intervals``) unioned per document and the token
    budget reported — the bookkeeping half of ExactSubstr removal.
    Scale: both windows partition by shingle digest / doc — the shuffle
    carries (digest, doc_id, pos) triples; skew is bounded by the max
    duplication count of a single shingle."""
    toks, grams = _span_shingles(docs, k)
    merged = _merged_islands(_removal_intervals(grams, k))
    per_doc = merged.groupBy("doc_id").agg(
        F.sum(F.col("me") - F.col("ms") + 1).alias("tokens_removed")
    )
    return (
        per_doc.join(toks.select("doc_id", "n"), "doc_id")
        .select(
            "doc_id",
            F.col("n").cast("long").alias("n_tokens"),
            F.col("tokens_removed").cast("long").alias("tokens_removed"),
            (F.col("n") - F.col("tokens_removed"))
            .cast("long")
            .alias("tokens_kept"),
        )
    )


def substring_scrub_rewrite(docs: DataFrame, k: int = _SPAN_K) -> DataFrame:
    """The rewrite half of ExactSubstr removal: the keep-first removal
    intervals actually SPLICED OUT — tokens covered by any merged
    interval dropped, survivors reassembled in order.

    The splice never leaves the JVM: per doc the merged intervals
    arrive as an array column (``collect_list`` after the island merge
    — bounded by the doc's own span count) and the kept positions are
    rebuilt with higher-order functions (``filter``/``exists``/
    ``transform`` + ``element_at``) inside whole-stage codegen — no
    UDF, no Python round trip. Unaffected docs pass through untouched
    via a left join on the interval frame."""
    toks, grams = _span_shingles(docs, k)
    cuts = _merged_islands(_removal_intervals(grams, k)).groupBy(
        "doc_id"
    ).agg(F.collect_list(F.struct("ms", "me")).alias("cuts"))
    joined = toks.join(cuts, "doc_id", "left")
    kept_idx = F.filter(
        F.sequence(F.lit(1), F.col("n")),
        lambda i: ~F.exists(
            F.coalesce(F.col("cuts"), F.array()),
            lambda c: (i >= c["ms"]) & (i <= c["me"]),
        ),
    )
    clean = F.array_join(
        F.transform(kept_idx, lambda i: F.element_at(F.col("toks"), i)), " "
    )
    # token count comes from the kept-position ARRAY, not a re-split of
    # the joined string: a fully-scrubbed doc keeps 0 tokens, but
    # split("", " ") would report 1 (the empty token) — disagreeing
    # with substring_scrub_accounting's tokens_kept for the same doc
    return joined.select(
        "doc_id",
        clean.alias("clean_text"),
        F.size(kept_idx).cast("long").alias("n_tokens_kept"),
    ).select(
        "doc_id",
        F.md5("clean_text").alias("clean_md5"),
        "n_tokens_kept",
    )


# DuckDB twins. _SUBSTR_GRAMS_SQL mirrors _span_shingles (lead-chain
# shingles, NULL at the tail = no gram); _SUBSTR_REMOVAL_SQL mirrors
# _removal_intervals + _merged_islands. ONE copy each — the scrub and
# rewrite oracles compose them, so the SQL can't drift apart either.
_SUBSTR_GRAMS_SQL = """
    toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    ),
    grams AS (
      SELECT doc_id, pos,
             tok || ' ' || lead(tok, 1) OVER w || ' ' ||
             lead(tok, 2) OVER w || ' ' || lead(tok, 3) OVER w || ' ' ||
             lead(tok, 4) OVER w || ' ' || lead(tok, 5) OVER w || ' ' ||
             lead(tok, 6) OVER w || ' ' || lead(tok, 7) OVER w AS gram
      FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    )
"""

_SUBSTR_REMOVAL_SQL = """
    occ AS (
      SELECT doc_id, pos,
             ROW_NUMBER() OVER (PARTITION BY gram ORDER BY doc_id, pos)
               AS rk,
             COUNT(*) OVER (PARTITION BY gram) AS c
      FROM grams WHERE gram IS NOT NULL
    ),
    removal AS (
      SELECT doc_id, pos AS s, pos + 7 AS e FROM occ
      WHERE c > 1 AND rk > 1
    ),
    isl AS (
      SELECT doc_id, s, e,
             CASE WHEN s > COALESCE(MAX(e) OVER (
                    PARTITION BY doc_id ORDER BY s
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  -1)
                  THEN 1 ELSE 0 END AS brk
      FROM removal
    ),
    isl2 AS (
      SELECT doc_id, s, e,
             SUM(brk) OVER (
               PARTITION BY doc_id ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM isl
    ),
    merged AS (
      SELECT doc_id, MIN(s) AS ms, MAX(e) AS me
      FROM isl2 GROUP BY doc_id, island
    )
"""

_SUBSTR_SPAN_ORACLE = f"""
    WITH {_SUBSTR_GRAMS_SQL},
    flagged AS (
      SELECT doc_id, pos FROM (
        SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY gram) AS c
        FROM grams WHERE gram IS NOT NULL
      ) WHERE c > 1
    ),
    runs AS (
      SELECT doc_id, pos,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
               AS grp
      FROM flagged
    )
    SELECT doc_id,
           CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos) + 7 AS BIGINT) AS span_end,
           CAST(MAX(pos) - MIN(pos) + 8 AS BIGINT) AS span_tokens
    FROM runs GROUP BY doc_id, grp
"""

_SUBSTR_SCRUB_ORACLE = f"""
    WITH {_SUBSTR_GRAMS_SQL},
    {_SUBSTR_REMOVAL_SQL},
    per_doc AS (
      SELECT doc_id, CAST(SUM(me - ms + 1) AS BIGINT) AS tokens_removed
      FROM merged GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
           p.tokens_removed,
           CAST(len(string_split(d.text, ' ')) AS BIGINT) - p.tokens_removed
             AS tokens_kept
    FROM per_doc p JOIN documents d USING (doc_id)
"""

_SUBSTR_REWRITE_ORACLE = f"""
    WITH {_SUBSTR_GRAMS_SQL},
    {_SUBSTR_REMOVAL_SQL},
    alltoks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    ),
    keptdoc AS (
      SELECT t.doc_id,
             string_agg(t.tok, ' ' ORDER BY t.pos) AS clean_text,
             CAST(COUNT(*) AS BIGINT) AS n_kept
      FROM alltoks t
      WHERE NOT EXISTS (
        SELECT 1 FROM merged mg
        WHERE mg.doc_id = t.doc_id AND t.pos BETWEEN mg.ms AND mg.me
      )
      GROUP BY t.doc_id
    )
    SELECT d.doc_id,
           md5(COALESCE(kd.clean_text, '')) AS clean_md5,
           COALESCE(kd.n_kept, 0) AS n_tokens_kept
    FROM documents d LEFT JOIN keptdoc kd USING (doc_id)
"""


@demo_query("q_dedup_substring", oracle=_SUBSTR_SPAN_ORACLE)
def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-span dedup, detection pass: maximal duplicated
    token runs (>= 8 tokens) across the whole corpus. See
    ``substring_spans``; the oracle builds the same shingles with a
    window lead-chain and merges runs with the identical
    gaps-and-islands key."""
    docs = load_table(spark, sf_dir, "documents")
    return substring_spans(docs, _SPAN_K).select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        F.col("span_tokens").cast("long").alias("span_tokens"),
    )


@demo_query("q_dedup_substring_scrub", oracle=_SUBSTR_SCRUB_ORACLE)
def q_dedup_substring_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-span dedup, keep-first accounting pass: per
    affected document, how many tokens the scrub removes (union of
    overlapping removal intervals) and how many survive. See
    ``substring_scrub_accounting``."""
    docs = load_table(spark, sf_dir, "documents")
    return substring_scrub_accounting(docs, _SPAN_K)


@demo_query("q_dedup_substring_rewrite", oracle=_SUBSTR_REWRITE_ORACLE)
def q_dedup_substring_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-span dedup, REWRITE pass: the keep-first removal
    intervals actually spliced out of every document, verified by md5
    of the reassembled text against an independent SQL reconstruction.
    See ``substring_scrub_rewrite`` for the all-JVM splice plan."""
    docs = load_table(spark, sf_dir, "documents")
    return substring_scrub_rewrite(docs, _SPAN_K)

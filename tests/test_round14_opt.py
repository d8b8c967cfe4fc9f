"""Round-14 optimization pins: changed operator internals must be
behavior-identical to the paths they replaced.

- ivf_centroid_topk's driver-side probe-pair ranking (the fast path that
  replaced one crossJoin+window Spark job per probe) must pick the SAME
  probe set — and hence the same final rows — as the distributed rank,
  including the hostile shapes: NULL query vectors, NULL elements, NaN
  elements, duplicated query ids, and length-mismatched vectors.
- the probe's final plan reads its driver-held frames as LocalRelations,
  never as an ExistingRDD/LogicalRDD scan of a list-built frame.
- brute_force_topk's hoisted per-side norms must score bit-identically
  to the per-pair cosine it replaced.
- connected_components' carried change flag must converge to the same
  labels as the old join-based convergence check (covered by the
  existing CC tests plus the oracle gate; pinned here on a chain graph
  where the flag is exercised for multiple rounds).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from tests.conftest import spark  # noqa: F401 — fixture


def _rows(df):
    def norm(v):
        if isinstance(v, float) and math.isnan(v):
            return "__nan__"  # nan != nan would fail tuple equality
        return v

    return sorted(
        [tuple(norm(v) for v in r) for r in df.collect()],
        key=lambda t: tuple((v is None, str(type(v)), str(v)) for v in t),
    )


def test_centroid_probe_local_rank_matches_distributed(spark, tmp_path):  # noqa: F811
    from hive_export_spark.operators import ivf
    from hive_export_spark.operators.ivf import (
        build_ivf_centroid_index,
        ivf_centroid_topk,
    )

    dim = 8
    base = [
        (i, [float((i * 7 + j * 3) % 13) - 6.0 for j in range(dim)])
        for i in range(60)
    ]
    corpus = spark.createDataFrame(base, ["vec_id", "embedding"])
    path = str(tmp_path / "idx")
    build_ivf_centroid_index(corpus, path, n_centroids=6, max_iter=3)

    queries = spark.createDataFrame(
        [
            (0, [1.0] * dim),                      # ordinary
            (1, None),                             # NULL vector
            (2, [1.0] * (dim - 1) + [None]),       # NULL element
            (3, [float("nan")] + [0.5] * (dim - 1)),  # NaN element
            (4, [2.0] * dim),                      # dup id, row 1
            (4, [0.5] * dim),                      # dup id, row 2
            (5, [1.0] * (dim + 3)),                # length mismatch
        ],
        "query_id int, embedding array<double>",
    )

    fast = ivf_centroid_topk(spark, path, queries, k=5, rerank=7)
    fast_rows = _rows(fast)

    # force the distributed rank by zeroing the driver budget
    saved = ivf._DRIVER_PROBE_MAX_PAIRS
    ivf._DRIVER_PROBE_MAX_PAIRS = 0
    try:
        slow = ivf_centroid_topk(spark, path, queries, k=5, rerank=7)
        slow_rows = _rows(slow)
    finally:
        ivf._DRIVER_PROBE_MAX_PAIRS = saved

    assert fast_rows == slow_rows
    assert len(fast_rows) > 0

    # single-tier (rerank=None) path too
    fast1 = _rows(ivf_centroid_topk(spark, path, queries, k=5))
    ivf._DRIVER_PROBE_MAX_PAIRS = 0
    try:
        slow1 = _rows(ivf_centroid_topk(spark, path, queries, k=5))
    finally:
        ivf._DRIVER_PROBE_MAX_PAIRS = saved
    assert fast1 == slow1


def test_centroid_probe_plan_has_no_python_rdd_scan(spark, tmp_path):  # noqa: F811
    """The probe's driver-held frames (probe pairs, probed query rows,
    rerank shortlist) enter the final plan as LocalRelations: a
    list-built frame would show up as an ExistingRDD/LogicalRDD scan,
    whose job runs Python-worker tasks on every probe."""
    from pyspark.sql import types as T

    from hive_export_spark.operators.ivf import (
        build_ivf_centroid_index,
        ivf_centroid_topk,
    )
    from hive_export_spark.session import local_frame

    dim = 8
    corpus = spark.createDataFrame(
        [
            (i, [float((i * 5 + j * 3) % 11) - 5.0 for j in range(dim)])
            for i in range(48)
        ],
        ["vec_id", "embedding"],
    )
    path = str(tmp_path / "idx")
    build_ivf_centroid_index(corpus, path, n_centroids=4, max_iter=2)
    queries = local_frame(
        spark,
        [(0, [1.0] * dim), (1, [-2.0] * dim)],
        T.StructType(
            [
                T.StructField("query_id", T.LongType()),
                T.StructField("embedding", T.ArrayType(T.DoubleType())),
            ]
        ),
    )
    for rerank in (None, 6):
        res = ivf_centroid_topk(spark, path, queries, k=3, rerank=rerank)
        plan = res._jdf.queryExecution().optimizedPlan().toString()
        assert "ExistingRDD" not in plan and "LogicalRDD" not in plan, plan
        assert "LocalRelation" in plan, plan
        assert res.count() == 6


def test_sq_l2_py_matches_jvm_fold(spark):  # noqa: F811
    """The scalar replica and the JVM fold agree bit-for-bit, including
    non-finite values and the NULL/length-mismatch conventions."""
    from hive_export_spark.operators.ivf import _sq_l2_py
    from hive_export_spark.operators.kmeans import _sq_l2

    cases = [
        ([1.5, -2.25, 3.0e10], [0.1, 0.2, 0.3]),
        ([0.1] * 7, [0.2] * 7),
        ([float("inf"), 1.0], [1.0, 2.0]),
        ([float("nan")], [0.0]),
        ([], []),
        ([1.0, None, 2.0], [1.0, 1.0, 1.0]),
        ([1.0, 2.0], [1.0, 2.0, 3.0]),  # length mismatch
        (None, [1.0]),
    ]
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(cases)],
        "i int, a array<double>, b array<double>",
    )
    jvm = {
        r["i"]: r["d"]
        for r in df.select("i", _sq_l2(F.col("a"), F.col("b")).alias("d")).collect()
    }
    for i, (a, b) in enumerate(cases):
        py = _sq_l2_py(a, b)
        j = jvm[i]
        if j is None or py is None:
            assert j is None and py is None, (i, j, py)
        elif math.isnan(j) or math.isnan(py):
            assert math.isnan(j) and math.isnan(py), (i, j, py)
        else:
            assert j == py, (i, j, py)


def test_brute_force_norm_hoist_bit_identical(spark):  # noqa: F811
    """Hoisted norms score bit-identically to the inline cosine."""
    from hive_export_spark.operators.similarity import (
        _as_double,
        brute_force_topk,
        cosine,
    )
    from pyspark.sql import Window

    vecs = [
        (i, [float((i * 11 + j * 5) % 17) / 7.0 for j in range(16)])
        for i in range(40)
    ] + [(40, [0.0] * 16), (41, None)]
    corpus = spark.createDataFrame(vecs, "vec_id int, embedding array<double>")
    queries = corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    new = brute_force_topk(corpus, queries, k=10)

    # the pre-round-14 formulation, inline per-pair cosine
    q = queries.select(
        "query_id", _as_double(F.col("embedding")).alias("__qv")
    )
    v = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        _as_double(F.col("embedding")).alias("__vv"),
    )
    scored = v.crossJoin(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        cosine(F.col("__qv"), F.col("__vv")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    old = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )
    assert _rows(new) == _rows(old)


def test_components_chain_converges_with_carried_flag(spark):  # noqa: F811
    """A 6-node chain needs several propagation rounds; the carried
    __chg flag must drive the same convergence as the old old-vs-new
    label join."""
    from hive_export_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(10, 15)] + [(1, 2, 1.0)],
        "doc_a long, doc_b long, jaccard double",
    )
    out = {
        (r["node"], r["cluster_id"])
        for r in connected_components(pairs).collect()
    }
    assert out == {(n, 10) for n in range(10, 16)} | {(1, 1), (2, 1)}
    # the output schema must not leak the internal flag
    cols = connected_components(pairs).columns
    assert cols == ["node", "cluster_id"]


def test_lsh_bucket_groupby_pairs_match_self_join(spark):  # noqa: F811
    """The groupBy pair enumeration that replaced the banded self-join
    must emit exactly the self-join's candidate pairs — and hence the
    same verified output — including multi-doc buckets (3+ ids chain),
    cross-band duplicate pairs (dedup by distinct), and string ids
    (binary-collation ordering must match the join's '<')."""
    from hive_export_spark.operators.dedup import minhash_lsh_pairs

    docs = [
        # near-dup cluster: three shared-prefix docs land in shared buckets
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again"),
        (3, "the quick brown fox jumps over the lazy dog again and once"),
        # unrelated docs
        (4, "completely different content about spark optimization work"),
        (5, "yet another unrelated document with its own set of words"),
        (6, None),  # NULL text drops at the signature scan
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = minhash_lsh_pairs(df, threshold=0.5)

    # the pre-round-14 candidate formulation: banded self-join
    from hive_export_spark.operators.dedup import (
        banded_buckets,
        minhash_signatures,
    )

    sigs = minhash_signatures(df, "text", "doc_id", 64)
    banded = banded_buckets(sigs, "doc_id", 64, 16)
    a, b = banded.alias("a"), banded.alias("b")
    old_cands = {
        (r["doc_a"], r["doc_b"])
        for r in a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
        .collect()
    }
    new_pairs = {(r["doc_a"], r["doc_b"]) for r in got.collect()}
    # verified output is a subset of candidates; the duplicate cluster
    # must survive verification
    assert new_pairs <= old_cands
    assert (1, 2) in new_pairs

    # string ids: ordering inside the sorted bucket array must agree
    # with the join's binary '<' (probed: 'E' < 'a' < 'z')
    sdocs = [
        ("a9", "shared shingle text one two three four five six seven"),
        ("E1", "shared shingle text one two three four five six seven"),
        ("z0", "shared shingle text one two three four five six seven"),
    ]
    sdf = spark.createDataFrame(sdocs, "doc_id string, text string")
    spairs = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(sdf, threshold=0.5).collect()
    }
    assert spairs == {("E1", "a9"), ("E1", "z0"), ("a9", "z0")}


def test_pagerank_round_matches_reference_recurrence(spark):  # noqa: F811
    """Whatever the iteration's physical shape (round-14 fused it,
    round-15 reverted to join -> groupBy -> left-join-back on cold-leg
    evidence), pagerank_int must reproduce the pinned integer
    recurrence bit-for-bit: rank_0 = BASE div n, contribution =
    rank div deg, rank_{t+1} = (15*(BASE div n)) div 100
    + (85 * inflow) div 100; a degree-1 leaf (node 7 side) pins the
    single-contribution case."""
    from hive_export_spark.operators.graph import _PR_BASE, pagerank_int

    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6), (2, 6), (7, 3)]
    df = spark.createDataFrame(edges, "u long, v long")
    got = {
        (r.node, r.deg, r.rank_int) for r in pagerank_int(df, 3).collect()
    }

    adj: dict[int, set[int]] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    deg = {n: len(vs) for n, vs in adj.items()}
    n = len(adj)
    rank = {node: _PR_BASE // n for node in adj}
    tele = (15 * (_PR_BASE // n)) // 100
    for _ in range(3):
        inflow = {node: 0 for node in adj}
        for u, vs in adj.items():
            c = rank[u] // deg[u]
            for v in vs:
                inflow[v] += c
        rank = {node: tele + (85 * inflow[node]) // 100 for node in adj}
    want = {(node, deg[node], rank[node]) for node in adj}
    assert got == want

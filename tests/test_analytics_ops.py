"""Invariant tests for the structural-analytics operators (graph
triangle count, Pareto skyline, windowed distinct, surprisal scoring,
weighted sampling)."""

from __future__ import annotations

import itertools
import random

from pyspark.sql import functions as F

from hive_export_spark.operators.graph import cooccurrence_edges, triangle_count
from hive_export_spark.operators.skyline import skyline_2d


def _brute_triangles(edges: set[tuple[int, int]]) -> int:
    adj: dict[int, set[int]] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    nodes = sorted(adj)
    n = 0
    for a, b, c in itertools.combinations(nodes, 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            n += 1
    return n


def test_triangle_count_matches_bruteforce_on_random_graphs(spark):
    rng = random.Random(7)
    for trial in range(3):
        nodes = list(range(1, 25))
        edges = {
            (u, v)
            for u in nodes
            for v in nodes
            if u < v and rng.random() < 0.25
        }
        df = spark.createDataFrame(sorted(edges), "u long, v long")
        got = triangle_count(df).collect()[0]
        assert got.n_triangles == _brute_triangles(edges)
        assert got.n_edges == len(edges)


def test_triangle_count_skewed_hub(spark):
    # star + one closing edge: hub degree 10, exactly one triangle; the
    # degree orientation must not multiply-count wedges at the hub
    edges = [(1, h) for h in range(2, 12)] + [(2, 3)]
    df = spark.createDataFrame(sorted(edges), "u long, v long")
    got = triangle_count(df).collect()[0]
    assert got.n_triangles == 1
    assert got.n_nodes == 11


def test_cooccurrence_edges_support_threshold(spark):
    rows = [
        (1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a"), (3, "c"),
    ]
    df = spark.createDataFrame(rows, "g long, i string")
    got = {
        (r.u, r.v): r.n_common
        for r in cooccurrence_edges(df, "g", "i", min_support=2).collect()
    }
    assert got == {("a", "b"): 2}


def _brute_skyline(pts):
    out = []
    for p in pts:
        dominated = any(
            q[1] <= p[1] and q[2] >= p[2] and (q[1] < p[1] or q[2] > p[2])
            for q in pts
        )
        if not dominated:
            out.append(p)
    return sorted(out)


def test_skyline_matches_bruteforce_with_ties_and_dups(spark):
    rng = random.Random(11)
    pts = [
        (i, float(rng.randint(0, 8)), rng.randint(0, 8))
        for i in range(120)
    ]
    # force exact duplicates (both must be kept if non-dominated)
    pts += [(200, 0.0, 8), (201, 0.0, 8)]
    df = spark.createDataFrame(pts, "id long, price double, size long")
    got = sorted(
        (r.id, r.price, r.size)
        for r in skyline_2d(df, "price", "size").collect()
    )
    assert got == _brute_skyline(pts)


def test_skyline_local_prune_is_superset_safe(spark):
    # adversarial partitioning: repartition scatters dominators away from
    # the rows they dominate; result must be partitioning-independent
    pts = [(i, float(i % 13), (i * 7) % 17) for i in range(300)]
    df = spark.createDataFrame(pts, "id long, price double, size long")
    a = sorted(r.id for r in skyline_2d(df, "price", "size").collect())
    b = sorted(
        r.id
        for r in skyline_2d(df.repartition(7, "size"), "price", "size").collect()
    )
    assert a == b == sorted(p[0] for p in _brute_skyline(pts))


def test_running_distinct_never_decreases(spark, sf_dir):
    from hive_export_spark.queries.analytics_queries import (
        window_running_distinct,
    )

    out = window_running_distinct(spark, sf_dir)
    w_chk = (
        out.groupBy("user_id")
        .agg(
            F.max("n_distinct_types").alias("mx"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    bad = w_chk.filter(F.col("mx") > F.col("n")).count()
    assert bad == 0
    # monotone within a user: max == last value in event order
    assert out.filter(F.col("n_distinct_types") < 1).count() == 0


def test_weighted_sample_prefers_heavy_docs(spark, sf_dir):
    from hive_export_spark.queries.llm_queries import llm_sample_weighted

    sel = llm_sample_weighted(spark, sf_dir)
    rows = sel.collect()
    assert len(rows) == 50
    # deterministic across invocations
    again = {r.doc_id for r in llm_sample_weighted(spark, sf_dir).collect()}
    assert {r.doc_id for r in rows} == again
    # weight-proportional inclusion: mean n_chars of the sample should
    # exceed the corpus mean (heavier docs preferred)
    from hive_export_spark.sources import load_table

    corpus_mean = (
        load_table(spark, "documents", sf_dir)
        .agg(F.avg("n_chars"))
        .collect()[0][0]
    )
    sample_mean = sum(r.n_chars for r in rows) / len(rows)
    assert sample_mean > corpus_mean


def test_perplexity_rare_tokens_score_higher(spark, sf_dir):
    from hive_export_spark.queries.llm_queries import llm_text_perplexity

    out = llm_text_perplexity(spark, sf_dir)
    stats = out.agg(
        F.min("avg_surprisal").alias("lo"), F.max("avg_surprisal").alias("hi")
    ).collect()[0]
    # all-positive surprisal, non-degenerate spread
    assert stats.lo > 0
    assert stats.hi > stats.lo
    n_docs = out.count()
    assert out.filter(F.col("n_tokens") > 0).count() == n_docs


def test_pagerank_conserves_mass_and_is_deterministic(spark):
    from hive_export_spark.operators.graph import _PR_BASE, pagerank_int

    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]
    df = spark.createDataFrame(edges, "u long, v long")
    r1 = {r.node: r.rank_int for r in pagerank_int(df, 3).collect()}
    r2 = {
        r.node: r.rank_int
        for r in pagerank_int(df.repartition(5), 3).collect()
    }
    assert r1 == r2  # partitioning-independent (integer arithmetic)
    # mass conservation up to floor-division loss: each of the 3
    # iterations loses < n per div step, nanoscale vs BASE
    total = sum(r1.values())
    assert abs(total - _PR_BASE) < 1000 * len(r1)
    # the degree-3 hub must outrank every degree-1 leaf
    assert r1[3] == max(r1.values())


def test_interval_overlap_matches_bruteforce(spark):
    from hive_export_spark.operators.relational import interval_overlap_join

    rng = random.Random(5)
    rows = [
        (k, i, s, s + rng.randint(0, 400))
        for i, (k, s) in enumerate(
            (rng.randint(1, 3), rng.randint(0, 5000)) for _ in range(150)
        )
    ]
    df = spark.createDataFrame(rows, "k long, id long, s long, e long")
    got = sorted(
        (r.k, r.a_id, r.b_id, r.overlap)
        for r in interval_overlap_join(df, "k", "id", "s", "e", 300).collect()
    )
    want = sorted(
        (a[0], a[1], b[1], min(a[3], b[3]) - max(a[2], b[2]))
        for a in rows
        for b in rows
        if a[0] == b[0] and a[1] < b[1] and a[2] <= b[3] and b[2] <= a[3]
    )
    assert got == want


def test_apply_changelog_tombstones_and_latest_wins(spark):
    from hive_export_spark.operators.cdc import apply_changelog

    rows = [
        (1, 1, "I", 10.0),
        (1, 2, "U", 20.0),   # key 1 -> final qty 20
        (2, 1, "I", 5.0),
        (2, 2, "D", 0.0),    # key 2 deleted
        (3, 1, "D", 0.0),
        (3, 2, "I", 7.0),    # delete then re-insert -> alive
    ]
    df = spark.createDataFrame(rows, "k long, seq int, op string, qty double")
    got = {r.k: (r.op, r.qty) for r in apply_changelog(df, "k", "seq").collect()}
    assert got == {1: ("U", 20.0), 3: ("I", 7.0)}


def test_mixture_sampling_tracks_target_weights(spark, sf_dir):
    from hive_export_spark.queries.llm_queries import llm_sample_mixture

    rows = llm_sample_mixture(spark, sf_dir).collect()
    # selection rate must be monotone-ish in weight: average rate of the
    # top-weight sources strictly above the bottom-weight sources
    by_w = {}
    for r in rows:
        by_w.setdefault(r.w, []).append(r.n_selected / r.n_source)
    ws = sorted(by_w)
    assert sum(by_w[ws[-1]]) / len(by_w[ws[-1]]) > sum(by_w[ws[0]]) / len(by_w[ws[0]])
    # never selects more than the source has
    assert all(r.n_selected <= r.n_source for r in rows)


def test_bpe_pairs_are_adjacent_char_bigrams(spark, sf_dir):
    from hive_export_spark.queries.llm_queries import llm_bpe_pair_counts

    rows = llm_bpe_pair_counts(spark, sf_dir).collect()
    assert len(rows) == 20
    assert all(len(r.pair) == 2 for r in rows)
    # ranking is by (count desc, pair)
    ordered = sorted(rows, key=lambda r: (-r.cnt, r.pair))
    assert [r.pair for r in ordered] == [
        r.pair for r in sorted(rows, key=lambda r: r.rk)
    ]


def test_embed_quantize_error_bound_holds(spark, sf_dir):
    from hive_export_spark.queries.llm_queries import llm_embed_quantize

    rows = llm_embed_quantize(spark, sf_dir).collect()
    assert rows
    assert all(r.err_ok for r in rows)  # absmax quantization bound
    assert all(0 < r.scale_r for r in rows)
    assert all(0 < r.nnz <= r.n_dims for r in rows)


def test_null_safe_join_buckets_nulls(spark, sf_dir):
    from hive_export_spark.queries.relational_queries import join_null_safe_eq
    from hive_export_spark.sources import load_table

    rows = {r.seg: r.n for r in join_null_safe_eq(spark, sf_dir).collect()}
    n_cust = load_table(spark, "customer", sf_dir).count()
    assert sum(rows.values()) == n_cust  # every customer lands somewhere
    assert None in rows and rows[None] > 0  # NULL bucket collects the 10%


def test_grouping_markers_disambiguate(spark, sf_dir):
    from hive_export_spark.queries.relational_queries import agg_grouping_id

    rows = agg_grouping_id(spark, sf_dir).collect()
    # grand total row: both markers 1, exactly one such row
    gt = [r for r in rows if r.g_status == 1 and r.g_priority == 1]
    assert len(gt) == 1
    # marker == 1 iff the column is rolled up (NULL by aggregation)
    for r in rows:
        assert (r.g_status == 1) == (r.o_orderstatus is None)
        assert (r.g_priority == 1) == (r.o_orderpriority is None)


def test_jaccard_linkpred_excludes_edges_and_is_bounded(spark, sf_dir):
    from hive_export_spark.queries.analytics_queries import (
        graph_jaccard_linkpred,
    )
    from hive_export_spark.operators.graph import cooccurrence_edges
    from hive_export_spark.sources import load_table

    rows = graph_jaccard_linkpred(spark, sf_dir).collect()
    assert rows and all(0 < r.j_micro <= 1_000_000 for r in rows)
    li = load_table(spark, "lineitem", sf_dir)
    edges = {
        (r.u, r.v)
        for r in cooccurrence_edges(li, "l_orderkey", "l_partkey", 2)
        .select("u", "v")
        .collect()
    }
    assert all((r.u, r.v) not in edges for r in rows)  # non-edges only


def test_span_corruption_mask_accounting(spark, sf_dir):
    from hive_export_spark.queries.llm_queries import (
        _SPAN_LEN,
        llm_span_corruption,
    )

    rows = llm_span_corruption(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_masked <= r.n_tokens
        # union of spans: at most len * starts, at least starts (if any)
        assert r.n_masked <= _SPAN_LEN * r.n_spans
        assert (r.n_spans == 0) == (r.n_masked == 0)


def test_chi2_is_nonnegative_with_expected_dof(spark, sf_dir):
    from hive_export_spark.queries.stats_queries import (
        stats_chi2_independence,
    )

    row = stats_chi2_independence(spark, sf_dir).collect()[0]
    assert row.chi2 >= 0
    assert row.dof == (5 - 1) * (24 - 1)
    assert row.n > 0


def test_nearest_value_join_matches_bruteforce(spark):
    from hive_export_spark.operators.relational import nearest_value_join

    rng = random.Random(13)
    probes = [(i, rng.randint(0, 20000)) for i in range(300)]
    # clustered refs with big empty gaps — the case that breaks naive
    # fixed-radius bucketing and that the anchor index must cover
    refs = [(j, rng.choice([100, 150, 9000, 19990]) + rng.randint(0, 5))
            for j in range(40)]
    pdf = spark.createDataFrame(probes, "pid long, pv long")
    rdf = spark.createDataFrame(refs, "rid long, rv long")
    got = {
        r.pid: (r.nn_dist, r.nn_val, r.nn_id)
        for r in nearest_value_join(
            pdf, rdf, "pid", "pv", "rid", "rv", 500
        ).collect()
    }
    assert len(got) == len(probes)
    for pid, pv in probes:
        want = min((abs(pv - rv), rv, rid) for rid, rv in refs)
        assert got[pid] == want, (pid, pv, got[pid], want)


def test_ks_drift_bounds(spark, sf_dir):
    from hive_export_spark.queries.stats_queries import stats_ks_drift

    r = stats_ks_drift(spark, sf_dir).collect()[0]
    assert 0 <= r.d_stat <= 1
    assert r.d_scaled <= r.n_a * r.n_b
    # same-distribution sanity: uniform synthetic values -> small D
    assert r.d_stat < 0.2


def test_linear_fit_recovers_known_slope(spark):
    # y = 3 + 2t exactly -> slope 2, intercept 3, forecasts exact
    import pyspark.sql.functions as SF

    rows = [(t, 3.0 + 2.0 * t) for t in range(1, 41)]
    df = spark.createDataFrame(rows, "t long, v double")
    fit = df.agg(
        SF.count(SF.lit(1)).alias("n"),
        SF.sum("t").alias("st"),
        SF.sum(SF.col("t") * SF.col("t")).alias("stt"),
        SF.sum("v").alias("sv"),
        SF.sum(SF.col("t") * SF.col("v")).alias("stv"),
    ).collect()[0]
    n, st, stt, sv, stv = fit.n, fit.st, fit.stt, fit.sv, fit.stv
    slope = (n * stv - st * sv) / (n * stt - st * st)
    intercept = (sv - slope * st) / n
    assert abs(slope - 2.0) < 1e-9
    assert abs(intercept - 3.0) < 1e-9

"""Independent-recomputation tests for the round-5 second-wave operators:
hypothesis-test statistics, Benford profiling and degree assortativity.
Each test recomputes the statistic from raw data with numpy or plain
Python (a different engine and reduction order than both the Spark
implementation and the DuckDB oracle) and checks agreement to float
tolerance — so all three formulations must agree for green.
"""

from __future__ import annotations

import math

import numpy as np

from hive_export_spark.sources import load_table


def _values(spark, sf_dir, etype):
    df = load_table(spark, "events", sf_dir).where(f"event_type = '{etype}'")
    return np.array(
        [round(r.value, 2) for r in df.select("value").collect()], dtype=float
    )


def test_welch_ttest_matches_numpy(spark, sf_dir):
    from hive_export_spark.queries.stats_queries import stats_welch_ttest

    a = _values(spark, sf_dir, "click")
    b = _values(spark, sf_dir, "error")
    va, vb = a.var(ddof=1), b.var(ddof=1)
    na, nb = len(a), len(b)
    se2 = va / na + vb / nb
    t = (a.mean() - b.mean()) / math.sqrt(se2)
    df_ws = se2 * se2 / (
        (va / na) ** 2 / (na - 1) + (vb / nb) ** 2 / (nb - 1)
    )
    row = stats_welch_ttest(spark, sf_dir).collect()[0]
    assert (row.n_a, row.n_b) == (na, nb)
    assert abs(row.t_r - t) < 1e-5
    assert abs(row.df_r - df_ws) < 1e-2


def test_mann_whitney_matches_scipy_convention(spark, sf_dir):
    from hive_export_spark.queries.stats_queries import stats_mann_whitney_u

    a = _values(spark, sf_dir, "view")
    b = _values(spark, sf_dir, "purchase")
    combined = np.concatenate([a, b])
    # average ranks with ties (1-based), scipy.stats.rankdata semantics
    order = combined.argsort(kind="mergesort")
    ranks = np.empty(len(combined))
    sorted_v = combined[order]
    i = 0
    while i < len(sorted_v):
        j = i
        while j < len(sorted_v) and sorted_v[j] == sorted_v[i]:
            j += 1
        ranks[order[i:j]] = (i + 1 + j) / 2.0
        i = j
    r_a = ranks[: len(a)].sum()
    u_a = r_a - len(a) * (len(a) + 1) / 2.0
    row = stats_mann_whitney_u(spark, sf_dir).collect()[0]
    assert (row.n_a, row.n_b) == (len(a), len(b))
    assert row.u2_a == int(round(2 * u_a))
    # z under the normal approximation with tie correction
    n = len(combined)
    _, counts = np.unique(combined, return_counts=True)
    tie = float((counts**3 - counts).sum())
    sigma2 = len(a) * len(b) / 12.0 * ((n + 1) - tie / (n * (n - 1)))
    z = (u_a - len(a) * len(b) / 2.0) / math.sqrt(sigma2)
    assert abs(row.z_r - z) < 1e-5


def test_benford_digits_partition_and_expectations(spark, sf_dir):
    from hive_export_spark.queries.stats_queries import stats_benford_first_digit

    rows = stats_benford_first_digit(spark, sf_dir).collect()
    n_orders = load_table(spark, "orders", sf_dir).where(
        "o_totalprice > 0"
    ).count()
    assert sum(r.n_obs for r in rows) == n_orders  # digits partition rows
    assert {r.digit for r in rows} <= set(range(1, 10))
    for r in rows:
        assert abs(r.p_benford - math.log10(1 + 1 / r.digit)) < 1e-6
        assert abs(r.p_obs - r.n_obs / n_orders) < 1e-6


def test_assortativity_matches_numpy(spark, sf_dir):
    from hive_export_spark.operators.graph import cooccurrence_edges
    from hive_export_spark.queries.analytics_queries import (
        graph_degree_assortativity,
    )

    li = load_table(spark, "lineitem", sf_dir)
    edges = [
        (r.u, r.v)
        for r in cooccurrence_edges(
            li, "l_orderkey", "l_partkey", min_support=2
        ).collect()
    ]
    deg: dict[int, int] = {}
    for u, v in edges:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    du = np.array(
        [deg[u] for u, v in edges] + [deg[v] for u, v in edges], dtype=float
    )
    dv = np.array(
        [deg[v] for u, v in edges] + [deg[u] for u, v in edges], dtype=float
    )
    expected = np.corrcoef(du, dv)[0, 1]
    row = graph_degree_assortativity(spark, sf_dir).collect()[0]
    assert row.n_edges == len(edges)
    assert row.n_nodes == len(deg)
    assert abs(row.assortativity_r - expected) < 1e-5


def test_boilerplate_chunk_dedup_matches_python(spark, sf_dir):
    from hive_export_spark.queries.llm_queries import llm_boilerplate_chunk_dedup

    import re

    docs = {
        r.doc_id: re.sub(r"\s+", " ", r.text.strip().lower())
        for r in load_table(spark, "documents", sf_dir).collect()
    }
    chunks: dict[int, list[str]] = {}
    from collections import defaultdict

    docs_per_chunk: dict[str, set[int]] = defaultdict(set)
    for did, text in docs.items():
        toks = text.split(" ")
        cs = [" ".join(toks[i : i + 5]) for i in range(0, len(toks), 5)]
        chunks[did] = cs
        for c in cs:
            docs_per_chunk[c].add(did)
    boiler = {c for c, ds in docs_per_chunk.items() if len(ds) >= 2}
    rows = {r.doc_id: r for r in llm_boilerplate_chunk_dedup(spark, sf_dir).collect()}
    assert set(rows) == set(docs)
    removed_any = False
    for did, cs in chunks.items():
        kept = [c for c in cs if c not in boiler]
        r = rows[did]
        assert r.n_chunks == len(cs)
        assert r.n_kept == len(kept)
        assert r.clean_text == " ".join(kept)
        removed_any |= len(kept) < len(cs)
    assert removed_any  # the corpus actually contains shared chunks


def test_vocab_coverage_matches_python(spark, sf_dir):
    from hive_export_spark.queries.llm_queries import llm_vocab_coverage

    import re
    from collections import Counter

    docs = {
        r.doc_id: re.sub(r"\s+", " ", r.text.strip().lower()).split(" ")
        for r in load_table(spark, "documents", sf_dir).collect()
    }
    counts = Counter(w for toks in docs.values() for w in toks)
    vocab = {
        w for w, _ in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    }
    for r in llm_vocab_coverage(spark, sf_dir).collect():
        toks = docs[r.doc_id]
        hits = sum(1 for w in toks if w in vocab)
        assert (r.n_tokens, r.n_in_vocab) == (len(toks), hits)
        assert abs(r.coverage_r - hits / len(toks)) < 1e-6
        assert 0.0 <= r.coverage_r <= 1.0


def test_interval_family_calendar_semantics(spark, sf_dir):
    from datetime import date

    from hive_export_spark.queries.function_queries import fn_interval_family

    def add_months(d: date, n: int) -> date:
        y, m = divmod(d.month - 1 + n, 12)
        y += d.year
        m += 1
        # clamp to month end
        for day in (d.day, 30, 29, 28):
            try:
                return date(y, m, day)
            except ValueError:
                continue
        raise AssertionError

    sample = fn_interval_family(spark, sf_dir).limit(500).collect()
    orders = {
        r.o_orderkey: r.o_orderdate
        for r in load_table(spark, "orders", sf_dir)
        .select("o_orderkey", "o_orderdate")
        .collect()
    }
    assert sample
    for r in sample:
        d = orders[r.o_orderkey]
        if hasattr(d, "date"):
            d = d.date()
        # outputs are ISO strings now (driver-safe: no date-typed columns)
        assert r.plus_3mo == add_months(d, 3).isoformat()
        assert (d - date.fromisoformat(r.minus_45d)).days == 45
        month_end = date.fromisoformat(r.month_end)
        assert month_end.month == d.month and month_end >= d
        assert add_months(month_end, 1).day >= 28
        assert 0 <= r.days_left_in_month <= 30
        assert date.fromisoformat(r.mid_month) == date(d.year, d.month, 15)
        assert r.weeks_since_92 == (d - date(1992, 1, 1)).days // 7


def test_winsorize_matches_numpy(spark, sf_dir):
    from hive_export_spark.queries.stats_queries import stats_winsorize

    rows = stats_winsorize(spark, sf_dir).collect()
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    for et, rs in by_type.items():
        vals = np.sort(np.array([r.value_r for r in rs]))
        n = len(vals)
        p05 = vals[int(math.floor(0.05 * (n - 1)))]
        p95 = vals[int(math.floor(0.95 * (n - 1)))]
        for r in rs:
            expect = min(max(r.value_r, p05), p95)
            assert abs(r.winsorized_r - expect) < 1e-9
            assert r.clipped == (expect != r.value_r)
        assert any(r.clipped for r in rs)  # tails exist


def test_frame_sample_plan_shape(spark, sf_dir):
    from hive_export_spark.queries.llm_queries import llm_frame_sample_plan

    rows = llm_frame_sample_plan(spark, sf_dir).collect()
    by_media: dict[int, list] = {}
    for r in rows:
        by_media.setdefault(r.media_id, []).append(r)
    assert by_media
    for mid, rs in by_media.items():
        assert mid % 3 == 2  # only videos
        assert sorted(r.slot for r in rs) == list(range(8))
        rs.sort(key=lambda r: r.slot)
        nf = rs[0].n_frames
        idxs = [r.frame_idx for r in rs]
        assert idxs == sorted(idxs)
        assert idxs[0] == 0
        assert idxs[-1] == (nf - 1 if nf > 1 else 0)
        assert all(0 <= i < max(nf, 1) for i in idxs)


def test_stream_cdc_apply_semantics(spark, sf_dir):
    from hive_export_spark.queries.streaming_queries import stream_cdc_apply

    rows = {r.o_orderkey: r.status for r in stream_cdc_apply(spark, sf_dir).collect()}
    orders = {
        r.o_orderkey: r.o_orderstatus
        for r in load_table(spark, "orders", sf_dir)
        .select("o_orderkey", "o_orderstatus")
        .collect()
    }
    deleted = {k for k in orders if k % 97 == 0}
    assert deleted, "fixture should contain deletable keys"
    assert set(rows) == set(orders) - deleted  # deletes applied, nothing lost
    for k, status in rows.items():
        assert status == orders[k]  # updates won over the seq-1 insert
    assert any(v != "O" for v in rows.values())  # updates actually occurred


def test_bootstrap_ci_statistical_sanity(spark, sf_dir):
    from hive_export_spark.queries.stats_queries import stats_bootstrap_ci

    rows = stats_bootstrap_ci(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # a bootstrap CI for the mean must bracket the point estimate and
        # be non-degenerate but far narrower than the data range
        assert r.ci_lo_r <= r.mean_r <= r.ci_hi_r
        assert r.ci_lo_r < r.ci_hi_r
        width = r.ci_hi_r - r.ci_lo_r
        # CLT scale check: width should be within an order of magnitude of
        # 4*sigma/sqrt(n) (sigma unknown here; bound loosely by mean size)
        assert width < abs(r.mean_r) + 1.0


def test_bootstrap_hash_is_engine_portable_and_nonlinear():
    # every intermediate of the xorshift-multiply finalizer stays inside
    # int64 for ALL 32-bit inputs (no silent overflow divergence across
    # engines), and the map is NOT affine mod 2^32 — the old two-round
    # LCG was affine, which made the draw sequence a lattice and
    # collapsed the bootstrap CI ~4x too narrow
    from hive_export_spark.queries.stats_queries import _MIX_C

    m32 = 4294967296
    assert (m32 - 1) * _MIX_C < 2**63  # 64-bit safety of the multiply

    def mix(h: int) -> int:
        h = ((h >> 16) ^ h) * _MIX_C % m32
        h = ((h >> 16) ^ h) * _MIX_C % m32
        return (h >> 16) ^ h

    # an affine map f satisfies f(a+b) = f(a) + f(b) - f(0) mod 2^32 for
    # ALL a, b; the finalizer must violate it
    assert any(
        (mix((a + b) % m32) - mix(a) - mix(b) + mix(0)) % m32 != 0
        for a, b in [(1, 2), (12345, 67890), (999983, 31337), (2**31, 5)]
    )
    # seed mix stays 64-bit-safe for every (b, j) the query can generate
    B, jmax = 50, 10**7
    assert B * 2654435761 + jmax * 40503 + 986419 < 2**63


def test_kcore_trajectory_and_invariant(spark, sf_dir):
    from hive_export_spark.operators.graph import cooccurrence_edges
    from hive_export_spark.queries.analytics_queries import (
        _KCORE_K,
        graph_kcore_peel,
    )

    li = load_table(spark, "lineitem", sf_dir)
    edges = [
        (r.u, r.v)
        for r in cooccurrence_edges(
            li, "l_orderkey", "l_partkey", min_support=2
        ).collect()
    ]
    # python reference peel
    e = set(edges)
    traj = []
    for _ in range(4):
        deg: dict[int, int] = {}
        for u, v in e:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        keep = {x for x, d in deg.items() if d >= _KCORE_K}
        e = {(u, v) for u, v in e if u in keep and v in keep}
        traj.append((len(keep), len(e)))
    rows = sorted(graph_kcore_peel(spark, sf_dir).collect(), key=lambda r: r.round)
    assert [(r.n_nodes, r.n_edges) for r in rows] == traj
    # counts never increase across rounds
    for a, b in zip(rows, rows[1:]):
        assert b.n_nodes <= a.n_nodes and b.n_edges <= a.n_edges


def test_snapshot_diff_classification(spark, sf_dir):
    from hive_export_spark.queries.relational_queries import cdc_snapshot_diff

    orders = {
        r.o_orderkey: r.o_orderstatus
        for r in load_table(spark, "orders", sf_dir)
        .select("o_orderkey", "o_orderstatus")
        .collect()
    }
    rows = cdc_snapshot_diff(spark, sf_dir).collect()
    got = {r.k: r.change_type for r in rows}
    for k, status in orders.items():
        if k % 13 == 0:
            assert got.get(k) == "removed"
        elif k % 7 == 0 and status != "X":
            assert got.get(k) == "changed"
        else:
            assert k not in got  # unchanged keys are excluded
        if k % 11 == 0:
            assert got.get(-(k + 1)) == "added"


def test_source_overlap_matrix_matches_python(spark, sf_dir):
    import re

    from hive_export_spark.queries.llm_queries import llm_source_overlap_matrix

    shingles: dict[str, set] = {}
    for r in load_table(spark, "documents", sf_dir).collect():
        toks = re.sub(r"\s+", " ", r.text.strip().lower()).split(" ")
        s = shingles.setdefault(r.source, set())
        for i in range(max(len(toks) - 4, 0)):
            s.add(" ".join(toks[i : i + 5]))
    expected = {}
    srcs = sorted(shingles)
    for i, a in enumerate(srcs):
        for b in srcs[i + 1 :]:
            shared = len(shingles[a] & shingles[b])
            if shared:
                expected[(a, b)] = (
                    shared,
                    shared / len(shingles[a] | shingles[b]),
                )
    rows = llm_source_overlap_matrix(spark, sf_dir).collect()
    got = {(r.src_a, r.src_b): (r.shared, r.jaccard_r) for r in rows}
    assert set(got) == set(expected)
    for k, (shared, j) in expected.items():
        assert got[k][0] == shared
        assert abs(got[k][1] - j) < 1e-6


def test_quality_classifier_exact_boundary(spark, sf_dir):
    import re

    from hive_export_spark.queries.llm_queries import llm_quality_classifier

    rows = llm_quality_classifier(spark, sf_dir).collect()
    stops = {"the", "a", "and", "of", "to"}
    docs = {
        r.doc_id: re.sub(r"\s+", " ", r.text.strip().lower())
        for r in load_table(spark, "documents", sf_dir).collect()
    }
    for r in rows:
        norm = docs[r.doc_id]
        toks = norm.split(" ")
        n_alpha = len(re.sub(r"[^a-z]", "", norm))
        score = (
            2 * (1000000 * n_alpha // len(norm))
            - (1000000 * sum(1 for t in toks if t in stops) // len(toks))
            + 10000 * min(len(toks), 100)
        )
        assert r.score_micro == score
        assert r.keep == (score > 2100000)
    kept = sum(1 for r in rows if r.keep)
    assert 0 < kept < len(rows)  # both classes present


def test_struct_family_roundtrip(spark, sf_dir):
    import json

    from hive_export_spark.queries.function_queries import fn_struct_family

    orders = {
        r.o_orderkey: (r.o_orderstatus, round(r.o_totalprice * 100))
        for r in load_table(spark, "orders", sf_dir).collect()
    }
    rows = fn_struct_family(spark, sf_dir).collect()
    assert len(rows) == len(orders)
    for r in rows:
        status, cents = orders[r.o_orderkey]
        assert r.price_from_struct == cents
        assert r.status_nested == status
        assert r.eq_ok is True
        assert json.loads(r.packed) == {"status": status, "price_cents": cents}


def test_qq_deciles_match_numpy(spark, sf_dir):
    from hive_export_spark.queries.stats_queries import stats_qq_deciles

    rows = {r.decile: r for r in stats_qq_deciles(spark, sf_dir).collect()}
    assert set(rows) == set(range(1, 10))
    a = np.sort(_values(spark, sf_dir, "view"))
    b = np.sort(_values(spark, sf_dir, "purchase"))
    for q in range(1, 10):
        qa = a[(q * (len(a) - 1)) // 10]
        qb = b[(q * (len(b) - 1)) // 10]
        assert abs(rows[q].q_view - qa) < 1e-9
        assert abs(rows[q].q_purchase - qb) < 1e-9
        assert abs(rows[q].qq_gap - (qa - qb)) < 1e-9
    # deciles are monotone
    for q in range(1, 9):
        assert rows[q].q_view <= rows[q + 1].q_view


def test_embedding_label_drift_matches_numpy(spark, sf_dir):
    from hive_export_spark.queries.llm_queries import llm_embedding_label_drift

    em = load_table(spark, "embeddings", sf_dir).collect()
    by_label: dict[int, list] = {}
    for r in em:
        by_label.setdefault(r.label, []).append(
            np.floor(np.array(r.embedding, dtype=np.float64) * 1e6)
        )
    sums = {lb: np.sum(vs, axis=0) for lb, vs in by_label.items()}
    g = np.sum(list(sums.values()), axis=0)
    rows = {r.label: r for r in llm_embedding_label_drift(spark, sf_dir).collect()}
    assert set(rows) == set(by_label)
    for lb, sa in sums.items():
        cos = float(sa @ g) / math.sqrt(float(sa @ sa) * float(g @ g))
        assert rows[lb].n_members == len(by_label[lb])
        assert abs(rows[lb].cos_to_global_r - cos) < 1e-5

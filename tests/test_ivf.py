"""Persisted centroid IVF index: partition-pruned probes + recall vs brute
force."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hive_export_spark.operators.similarity import brute_force_topk
from hive_export_spark.sources import load_table


# --- two-tier centroid (k-means) IVF, round 10 ----------------------------


def test_centroid_ivf_layout_and_pruning(spark, sf_dir, tmp_path):
    from hive_export_spark.operators.ivf import build_ivf_centroid_index

    e = load_table(spark, "embeddings", sf_dir)
    path = str(tmp_path / "civf")
    build_ivf_centroid_index(e, path, n_centroids=8, max_iter=3)

    # three artifacts: exact tier, coarse tier (both cid-partitioned),
    # centroid table
    assert any(p.name.startswith("cid=") for p in (tmp_path / "civf").iterdir())
    assert any(
        p.name.startswith("cid=") for p in (tmp_path / "civf_coarse").iterdir()
    )
    cents = spark.read.parquet(path + "_centroids")
    assert cents.count() <= 8 and "centroid" in cents.columns

    # the coarse tier is genuinely int8
    coarse = spark.read.parquet(path + "_coarse")
    assert dict(coarse.dtypes)["qvec"] == "array<tinyint>"

    # probe reads prune on BOTH levels: cid in PartitionFilters
    # (directory pruning) and vec_id in PushedFilters (row groups — the
    # exact tier is id-sorted within partitions for exactly this)
    probed = spark.read.parquet(path).filter(
        F.col("cid").isin([1, 2]) & F.col("vec_id").isin([1, 2, 3])
    )
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "cid" in plan.split("PartitionFilters:")[1][:120]
    assert "vec_id" in plan.split("PushedFilters:")[1][:120]


def test_centroid_ivf_rerank_recall_beats_budget(spark, tmp_path):
    """The two-tier operating point (nprobe 12/16, rerank 30): recall
    >= 0.9 against brute force while touching ~11 % of index bytes —
    the round-10 recall/read receipt (full numbers in SCALING.md via
    tools/ann_probe.py). Pinned at sf0.01 (500 vectors, the oracle-gate
    scale): the 50-vector sf0.001 corpus is below the regime where 16
    centroids are meaningful (~3 members each) and reads 0.88."""
    from hive_export_spark.operators.ivf import (
        build_ivf_centroid_index,
        ivf_centroid_topk,
    )

    e = load_table(spark, "embeddings", "/root/testdata/sf0.01")
    path = str(tmp_path / "civf_rr")
    build_ivf_centroid_index(e, path, n_centroids=16, max_iter=5)
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    approx = ivf_centroid_topk(
        spark, path, queries, k=10, nprobe=12, rerank=30
    )
    exact = brute_force_topk(e, queries, k=10)
    a_sets, e_sets = {}, {}
    for r in approx.collect():
        a_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in exact.collect():
        e_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [
        len(e_sets[q] & a_sets.get(q, set())) / len(e_sets[q]) for q in e_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.9
    assert all(len(s) == 10 for s in a_sets.values())


def test_centroid_ivf_full_probe_equals_brute_force(spark, tmp_path):
    """A full probe (probe_frac=1.0: every centroid partition opened) on
    the exact tier returns brute_force_topk's rows bit for bit — same
    neighbours, same ranks, same cosine doubles. This is the claim the
    llm_sim_ivf_topk oracle pins; sub-full probes are covered by the
    pruning and recall tests above."""
    from hive_export_spark.operators.ivf import (
        build_ivf_centroid_index,
        ivf_centroid_topk,
    )

    e = load_table(spark, "embeddings", "/root/testdata/sf0.01")
    path = str(tmp_path / "civf_full")
    build_ivf_centroid_index(e, path, max_iter=5)
    queries = e.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cols = ("query_id", "neighbor_id", "cosine", "rank")
    full = ivf_centroid_topk(
        spark, path, queries, k=10, probe_frac=1.0, rerank=None
    )
    exact = brute_force_topk(e, queries, k=10)
    got = sorted(tuple(r) for r in full.select(*cols).collect())
    want = sorted(tuple(r) for r in exact.select(*cols).collect())
    assert len(want) == 160
    assert got == want


def test_centroid_ivf_day_zero_and_allnull(spark, tmp_path):
    """k-means IVF must survive the two corpus failure modes: an EMPTY
    corpus (no centroids trained, partitionBy writes nothing) and an
    all-NULL-embedding corpus (zero trainable vectors — the round-10
    all-NULL sweep's kmeans_fit NULL-init crash)."""
    from pyspark.sql import types as T

    from hive_export_spark.operators.ivf import (
        build_ivf_centroid_index,
        ivf_centroid_topk,
    )

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    # all-NULL corpus: builds an index with an empty centroid table
    nulls = spark.createDataFrame([(1, None), (2, None)], schema)
    path = str(tmp_path / "civf_nulls")
    build_ivf_centroid_index(nulls, path, n_centroids=4, max_iter=2)
    queries = nulls.select(F.col("vec_id").alias("query_id"), "embedding")
    out = ivf_centroid_topk(spark, path, queries, k=3, nprobe=2, rerank=5)
    assert out.columns == ["query_id", "neighbor_id", "cosine", "rank"]
    assert out.count() == 0

    # day-zero corpus
    empty = spark.createDataFrame([], schema)
    path2 = str(tmp_path / "civf_empty")
    build_ivf_centroid_index(empty, path2, n_centroids=4, max_iter=2)
    out2 = ivf_centroid_topk(
        spark, path2, empty.select(F.col("vec_id").alias("query_id"), "embedding"),
        k=3, nprobe=2,
    )
    assert out2.count() == 0


def test_centroid_ivf_exact_tier_success_written_last(spark, tmp_path):
    """Crash-consistency of the build-once gate (r10 advisory #1): callers
    gate on <path>/_SUCCESS, so the exact tier must be the LAST artifact
    written — its marker then implies the centroid table and coarse tier
    already committed. Round 10 wrote the exact tier FIRST, so a build
    interrupted mid-way left a complete-looking index whose probes
    returned empty forever."""
    import os

    e = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    path = str(tmp_path / "order")
    from hive_export_spark.operators.ivf import build_ivf_centroid_index

    build_ivf_centroid_index(e, path, n_centroids=4, max_iter=2)
    exact_m = os.path.getmtime(path + "/_SUCCESS")
    coarse_m = os.path.getmtime(path + "_coarse/_SUCCESS")
    # the centroid table write doesn't emit _SUCCESS commit markers the
    # same way on every committer; its directory mtime bounds the write
    cents_m = os.path.getmtime(path + "_centroids")
    assert exact_m >= coarse_m
    assert exact_m >= cents_m


def test_centroid_ivf_probe_guard_uses_effective_nprobe(spark, tmp_path):
    """nprobe larger than the index's centroid count must NOT relax the
    max_query_rows cap (r10 advisory #3): each query contributes only
    n_centroids probe pairs, so a plain nprobe bound would let
    max_query_rows * nprobe / n_centroids queries slip past before the
    guard fired."""
    import pytest

    from hive_export_spark.operators.ivf import (
        build_ivf_centroid_index,
        ivf_centroid_topk,
    )

    e = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    path = str(tmp_path / "effprobe")
    build_ivf_centroid_index(e, path, n_centroids=4, max_iter=2)
    # 20 queries x <=4 centroids = <=80 pairs: under the OLD bound of
    # max_query_rows * nprobe = 120, over the correct bound of
    # max_query_rows * min(nprobe, n_centroids) <= 40
    queries = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    with pytest.raises(ValueError, match="max_query_rows"):
        ivf_centroid_topk(
            spark, path, queries, k=3, nprobe=12, max_query_rows=10
        )
    # and a within-cap batch still answers
    ok = ivf_centroid_topk(
        spark,
        path,
        queries.limit(5),
        k=3,
        nprobe=12,
        max_query_rows=10,
    )
    assert ok.count() > 0


def test_centroid_ivf_derived_k_and_probe_frac(spark, tmp_path):
    """Round-11 corpus-scaling rule end-to-end: n_centroids=None derives
    k ~ sqrt(N) at build time (derive_n_centroids), and nprobe=None
    derives ceil(probe_frac * persisted-centroid-count) at probe time —
    the pair that keeps the read FRACTION constant as corpus and k grow
    (receipts: tools/ann_probe.py ann_centroid_scaling leg)."""
    from hive_export_spark.operators.ivf import (
        build_ivf_centroid_index,
        derive_n_centroids,
        ivf_centroid_topk,
    )

    e = load_table(spark, "embeddings", "/root/testdata/sf0.01")
    path = str(tmp_path / "civf_derived")
    build_ivf_centroid_index(e, path, max_iter=5)
    k_actual = spark.read.parquet(path + "_centroids").count()
    # 500 vectors -> sqrt rule gives 22; Lloyd may shrink on empty
    # clusters but the table must track the derived size, not 16
    assert derive_n_centroids(500) == 22
    assert 17 <= k_actual <= 22

    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    approx = ivf_centroid_topk(spark, path, queries, k=10, rerank=30)
    exact = brute_force_topk(e, queries, k=10)
    a_sets, e_sets = {}, {}
    for r in approx.collect():
        a_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in exact.collect():
        e_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [
        len(e_sets[q] & a_sets.get(q, set())) / len(e_sets[q]) for q in e_sets
    ]
    # derived k at the SAME probe fraction as the fixed-16 operating
    # point: recall must hold the same floor
    assert sum(recalls) / len(recalls) >= 0.9
    assert all(len(s) == 10 for s in a_sets.values())


def test_centroid_ivf_append_incremental_ingest(spark, tmp_path):
    """ivf_centroid_append: O(increment) ingest against FROZEN trained
    centroids — appended vectors land in cid partitions on BOTH tiers
    and are findable by the standard probe; a day-zero store (no
    centroids) refuses the append loudly."""
    import pytest

    from hive_export_spark.operators.ivf import (
        build_ivf_centroid_index,
        ivf_centroid_append,
        ivf_centroid_topk,
    )

    e = load_table(spark, "embeddings", "/root/testdata/sf0.01")
    base = e.filter(F.col("vec_id") < 400)
    incr = e.filter(F.col("vec_id") >= 400).select("vec_id", "embedding")
    n_incr = incr.count()
    path = str(tmp_path / "civf_app")
    build_ivf_centroid_index(base, path, max_iter=3)
    exact_before = spark.read.parquet(path).count()
    coarse_before = spark.read.parquet(path + "_coarse").count()
    cents_before = [
        tuple(r) for r in spark.read.parquet(path + "_centroids").collect()
    ]

    ivf_centroid_append(spark, path, incr)

    assert spark.read.parquet(path).count() == exact_before + n_incr
    assert (
        spark.read.parquet(path + "_coarse").count()
        == coarse_before + n_incr
    )
    # centroids are FROZEN by the append
    cents_after = [
        tuple(r) for r in spark.read.parquet(path + "_centroids").collect()
    ]
    assert sorted(cents_before) == sorted(cents_after)
    # appended rows live in cid partitions like everything else
    assert all(
        p.name.startswith(("cid=", "_", "."))
        for p in (tmp_path / "civf_app").iterdir()
    )
    # an appended vector is findable: probing with it returns itself at
    # rank 1, cosine ~1
    q = incr.limit(1).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    qid = q.first()["query_id"]
    top = (
        ivf_centroid_topk(spark, path, q, k=3, rerank=10)
        .filter(F.col("rank") == 1)
        .first()
    )
    assert top["neighbor_id"] == qid
    assert top["cosine"] > 0.999

    # day-zero store: nothing trained, append must refuse
    with pytest.raises(ValueError, match="build_ivf_centroid_index"):
        ivf_centroid_append(spark, str(tmp_path / "never_built"), incr)


def test_centroid_ivf_compaction_restores_sort_and_pruning(spark, tmp_path):
    """After appends interleave the exact tier's id-sort across files,
    compact_ivf_centroid_index rewrites both tiers through the standard
    swap machinery with sort_within=[vec_id] — file counts drop, data
    is byte-identical, probes still answer, and each rewritten file is
    id-sorted again (row-group pruning's precondition)."""
    import pyarrow.parquet as pq

    from hive_export_spark.operators.ivf import (
        build_ivf_centroid_index,
        compact_ivf_centroid_index,
        ivf_centroid_append,
        ivf_centroid_topk,
    )

    e = load_table(spark, "embeddings", "/root/testdata/sf0.01")
    path = str(tmp_path / "civf_cmp")
    build_ivf_centroid_index(
        e.filter(F.col("vec_id") < 300), path, max_iter=3
    )
    # two appends: files accumulate per partition, id ranges interleave
    ivf_centroid_append(
        spark, path,
        e.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400))
        .select("vec_id", "embedding"),
    )
    ivf_centroid_append(
        spark, path,
        e.filter(F.col("vec_id") >= 400).select("vec_id", "embedding"),
    )
    before_rows = {
        (r["vec_id"],) for r in spark.read.parquet(path).collect()
    }

    stats = compact_ivf_centroid_index(spark, path)
    assert stats["exact"]["files_after"] < stats["exact"]["files_before"]
    assert stats["coarse"]["files_after"] < stats["coarse"]["files_before"]

    after = spark.read.parquet(path)
    assert {(r["vec_id"],) for r in after.collect()} == before_rows
    # every rewritten exact-tier file is id-sorted (the property
    # row-group pruning needs)
    for f in (tmp_path / "civf_cmp").rglob("*.parquet"):
        ids = pq.read_table(str(f), columns=["vec_id"])["vec_id"].to_pylist()
        assert ids == sorted(ids), f
    # probe still answers over the compacted store
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = ivf_centroid_topk(spark, path, q, k=5, rerank=10)
    assert got.count() == 15


# --- round 12: exactly-once append, rebuild safety, drift, loud errors ----


def _mini_corpus(spark, n_per=20, drifted=False, id_base=0):
    """Two tight synthetic clusters around e1 and e2 (or one far-out
    cluster when drifted=True) — deterministic, no RNG state."""
    rows = []
    for i in range(n_per):
        eps = (i % 7) * 0.01
        if drifted:
            rows.append((id_base + i, [10.0 + eps, 10.0 - eps, 10.0]))
        else:
            center = ([1.0, 0.0, 0.0] if i % 2 == 0 else [0.0, 1.0, 0.0])
            rows.append(
                (id_base + i, [c + eps * 0.1 for c in center])
            )
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def test_centroid_ivf_append_exactly_once_recovery(spark, tmp_path):
    """The r12 commit protocol (r11 verdict ask #3): an append that dies
    at ANY protocol step converges to exactly-once when re-run —
    including a mid-move crash injected into the protocol itself — and
    a COMPLETED append's re-run is a no-op returning the persisted
    receipt."""
    import pytest

    import hive_export_spark.operators.ivf as ivf_mod
    from hive_export_spark.operators.ivf import (
        build_ivf_centroid_index,
        ivf_centroid_append,
        ivf_centroid_topk,
    )

    e = load_table(spark, "embeddings", "/root/testdata/sf0.01")
    base = e.filter(F.col("vec_id") < 400)
    incr = e.filter(F.col("vec_id") >= 400).select("vec_id", "embedding")
    n_incr = incr.count()
    path = str(tmp_path / "eo")
    build_ivf_centroid_index(base, path, max_iter=3)
    exact_base = spark.read.parquet(path).count()
    coarse_base = spark.read.parquet(path + "_coarse").count()
    want_exact = exact_base + n_incr
    want_coarse = coarse_base + n_incr

    # --- injected crash: die during the SECOND tier's file-moves, the
    # worst intermediate state (coarse fully moved, exact untouched)
    real_move = ivf_mod._move_staged_files
    calls = {"n": 0}

    def exploding_move(spark_, staging, live, prefix):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("injected crash mid-append")
        return real_move(spark_, staging, live, prefix)

    ivf_mod._move_staged_files = exploding_move
    try:
        with pytest.raises(RuntimeError, match="injected"):
            ivf_centroid_append(spark, path, incr, append_id="day1")
    finally:
        ivf_mod._move_staged_files = real_move
    # torn state: coarse has the increment, exact does not, no marker
    assert spark.read.parquet(path + "_coarse").count() == want_coarse
    assert spark.read.parquet(path).count() == exact_base
    import os

    assert not os.path.exists(
        path + "_append_stats/append-day1/_SUCCESS"
    )

    # re-run converges: recovery deletes the torn half, redo lands both
    stats = ivf_centroid_append(spark, path, incr, append_id="day1")
    assert stats["n_rows"] == n_incr
    assert spark.read.parquet(path).count() == want_exact
    assert spark.read.parquet(path + "_coarse").count() == want_coarse

    # --- crash AFTER the moves but BEFORE the commit marker: simulate
    # by deleting the marker dir; the re-run must deduplicate, not
    # double-append
    import shutil

    shutil.rmtree(path + "_append_stats/append-day1")
    stats2 = ivf_centroid_append(spark, path, incr, append_id="day1")
    assert stats2["n_rows"] == n_incr
    assert spark.read.parquet(path).count() == want_exact
    assert spark.read.parquet(path + "_coarse").count() == want_coarse

    # --- committed re-run: pure no-op, returns the persisted receipt
    before = sorted(
        p.name for p in (tmp_path / "eo").rglob("*") if p.is_file()
    )
    stats3 = ivf_centroid_append(spark, path, incr, append_id="day1")
    after = sorted(
        p.name for p in (tmp_path / "eo").rglob("*") if p.is_file()
    )
    assert before == after
    assert stats3["append_id"] == "day1"
    assert stats3["n_rows"] == n_incr

    # content-addressed default id: a retry WITHOUT an explicit id maps
    # to the same append and is also exactly-once
    auto = ivf_centroid_append(spark, path, incr)
    auto2 = ivf_centroid_append(spark, path, incr)
    assert auto["append_id"] == auto2["append_id"]
    assert (
        spark.read.parquet(path).count() == want_exact + n_incr
    )  # the auto-id append landed once, not twice

    # probes still answer over the converged store
    q = incr.limit(1).select(F.col("vec_id").alias("query_id"), "embedding")
    top = (
        ivf_centroid_topk(spark, path, q, k=3, rerank=10)
        .filter(F.col("rank") == 1)
        .first()
    )
    assert top["neighbor_id"] == q.first()["query_id"]


def test_centroid_ivf_append_id_prefix_ids_cannot_cross_recover(spark, tmp_path):
    """r12 advisory #2: with the old ``append-<id>-`` file manifest, a
    crashed ``2026-08`` append's recovery deleted every committed
    ``2026-08-15`` append's data files (the ids are '-'-prefix-related).
    The manifest token is now ``append-<id>.`` and ids cannot contain
    '.', so recovery scopes to exactly its own append."""
    import hive_export_spark.operators.ivf as ivf_mod
    from hive_export_spark.operators.ivf import (
        build_ivf_centroid_index,
        ivf_centroid_append,
    )

    base = _mini_corpus(spark, n_per=40)
    path = str(tmp_path / "prefix")
    build_ivf_centroid_index(base, path, n_centroids=2, max_iter=3)
    base_n = spark.read.parquet(path).count()

    # committed daily append whose id the monthly id '-'-prefixes
    daily = _mini_corpus(spark, n_per=10, id_base=1000)
    ivf_centroid_append(spark, path, daily, append_id="2026-08-15")
    assert spark.read.parquet(path).count() == base_n + 10

    # monthly append that CRASHES mid-move, then re-runs: its recovery
    # pass must delete only append-2026-08.* files, never the committed
    # append-2026-08-15.* ones
    monthly = _mini_corpus(spark, n_per=10, id_base=2000)
    real_move = ivf_mod._move_staged_files
    calls = {"n": 0}

    def exploding_move(spark_, staging, live, prefix):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("injected crash mid-append")
        return real_move(spark_, staging, live, prefix)

    ivf_mod._move_staged_files = exploding_move
    try:
        with pytest.raises(RuntimeError, match="injected"):
            ivf_centroid_append(spark, path, monthly, append_id="2026-08")
    finally:
        ivf_mod._move_staged_files = real_move
    # the daily append's rows survived the monthly recovery
    assert spark.read.parquet(path).filter(
        (F.col("vec_id") >= 1000) & (F.col("vec_id") < 2000)
    ).count() == 10
    stats = ivf_centroid_append(spark, path, monthly, append_id="2026-08")
    assert stats["n_rows"] == 10
    assert spark.read.parquet(path).count() == base_n + 20
    # and the converged store holds each increment exactly once
    assert spark.read.parquet(path).filter(
        F.col("vec_id") >= 1000
    ).count() == 20


def test_centroid_ivf_same_append_id_race_refused(spark, tmp_path):
    """r12 verdict ask #3: the same-append-id serialization contract is
    ENFORCED, not just documented. A second attempt of the same id
    launched while the first is mid-stage refuses with
    ConcurrentAppendError (and touches nothing); a stale lease left by
    a hard-killed holder is reclaimed after the timeout; a failed
    attempt releases the lease immediately so the sequential retry
    converges as before."""
    import hive_export_spark.operators.ivf as ivf_mod
    from hive_export_spark.operators.ivf import (
        ConcurrentAppendError,
        build_ivf_centroid_index,
        ivf_centroid_append,
    )

    base = _mini_corpus(spark, n_per=40)
    path = str(tmp_path / "race")
    build_ivf_centroid_index(base, path, n_centroids=2, max_iter=3)
    base_n = spark.read.parquet(path).count()
    incr = _mini_corpus(spark, n_per=10, id_base=1000)

    # --- second attempt launched MID-STAGE inside the first: the move
    # hook fires while attempt A holds the lease; attempt B must refuse
    real_move = ivf_mod._move_staged_files
    raced: dict = {}

    def racing_move(spark_, staging, live, prefix):
        if not raced:
            raced["err"] = None
            try:
                ivf_centroid_append(spark_, path, incr, append_id="day1")
            except ConcurrentAppendError as e:
                raced["err"] = e
        return real_move(spark_, staging, live, prefix)

    ivf_mod._move_staged_files = racing_move
    try:
        stats = ivf_centroid_append(spark, path, incr, append_id="day1")
    finally:
        ivf_mod._move_staged_files = real_move
    assert isinstance(raced.get("err"), ConcurrentAppendError)
    assert "serialized" in str(raced["err"])
    # attempt A completed exactly-once despite the refused racer
    assert stats["n_rows"] == 10
    assert spark.read.parquet(path).count() == base_n + 10
    # the lease was released on completion: a committed re-run no-ops
    # and a NEW id appends freely
    again = ivf_centroid_append(spark, path, incr, append_id="day1")
    assert again["n_rows"] == 10
    assert spark.read.parquet(path).count() == base_n + 10

    # --- a failed attempt releases the lease immediately (the existing
    # injected-crash convergence test relies on this; pin it here too)
    calls = {"n": 0}

    def exploding_move(spark_, staging, live, prefix):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected crash mid-append")
        return real_move(spark_, staging, live, prefix)

    incr2 = _mini_corpus(spark, n_per=10, id_base=2000)
    ivf_mod._move_staged_files = exploding_move
    try:
        with pytest.raises(RuntimeError, match="injected"):
            ivf_centroid_append(spark, path, incr2, append_id="day2")
    finally:
        ivf_mod._move_staged_files = real_move
    import os

    assert not os.path.exists(
        path + "_append_stats/append-day2.lease"
    )
    stats2 = ivf_centroid_append(spark, path, incr2, append_id="day2")
    assert stats2["n_rows"] == 10

    # --- hard-killed holder: a lease FILE with no live process. Fresh
    # -> refused; past the timeout -> reclaimed and the append runs.
    incr3 = _mini_corpus(spark, n_per=10, id_base=3000)
    lease = path + "_append_stats/append-day3.lease"
    open(lease, "w").close()
    with pytest.raises(ConcurrentAppendError, match="in flight"):
        ivf_centroid_append(spark, path, incr3, append_id="day3")
    # age the lease past the (shortened) timeout: reclaimed
    old = os.path.getmtime(lease) - 10
    os.utime(lease, (old, old))
    stats3 = ivf_centroid_append(
        spark, path, incr3, append_id="day3", lease_timeout_sec=5.0
    )
    assert stats3["n_rows"] == 10
    assert spark.read.parquet(path).count() == base_n + 30


def test_centroid_ivf_empty_increment_marker_semantics(spark, tmp_path):
    """r12 verdict ask #5: an explicit-id EMPTY append is a committed
    no-op — it writes its marker, so a later non-empty batch REUSING
    that id no-ops (first-commit-wins, the streaming-sink replay
    contract). Content-addressed empty appends stay marker-free."""
    from hive_export_spark.operators.ivf import (
        build_ivf_centroid_index,
        ivf_centroid_append,
    )

    base = _mini_corpus(spark, n_per=40)
    path = str(tmp_path / "empty")
    build_ivf_centroid_index(base, path, n_centroids=2, max_iter=3)
    base_n = spark.read.parquet(path).count()
    empty = _mini_corpus(spark, n_per=10).filter(F.col("vec_id") < 0)
    import os

    # explicit id: marker commits
    s = ivf_centroid_append(spark, path, empty, append_id="batch-0")
    assert s["n_rows"] == 0
    assert os.path.exists(path + "_append_stats/append-batch-0/_SUCCESS")

    # a non-empty batch REUSING the committed id no-ops (replay wins)
    nonempty = _mini_corpus(spark, n_per=10, id_base=1000)
    replay = ivf_centroid_append(spark, path, nonempty, append_id="batch-0")
    assert replay["n_rows"] == 0  # the persisted (empty) receipt
    assert spark.read.parquet(path).count() == base_n

    # a NEW id appends the same increment freely
    s2 = ivf_centroid_append(spark, path, nonempty, append_id="batch-1")
    assert s2["n_rows"] == 10
    assert spark.read.parquet(path).count() == base_n + 10

    # content-addressed empty append: no marker dir appears
    before = set(os.listdir(path + "_append_stats"))
    auto = ivf_centroid_append(spark, path, empty)
    assert auto["n_rows"] == 0
    assert set(os.listdir(path + "_append_stats")) == before


def test_centroid_ivf_append_id_validation(spark, tmp_path):
    """r12 advisory #2: unvalidated append ids broke the stats-dir
    layout ('/'), the staged-write dot-file skip (leading '_'/'.'), or
    the manifest-token unambiguity ('.'). Hostile ids are rejected
    before any read or write; the documented shapes pass."""
    from hive_export_spark.operators.ivf import (
        _validate_append_id,
        ivf_centroid_append,
    )

    for bad in (
        "a/b", "/abs", "..", "a.b", "_lead", ".lead", "-lead",
        "sp ace", "tab\tid", "", "nl\nid", "x" * 201,
    ):
        with pytest.raises(ValueError, match="invalid append_id"):
            _validate_append_id(bad)
    for good in ("2026-08-16", "batch-7", "42xdeadbeef00000000", "a_b-c"):
        _validate_append_id(good)

    # the append rejects a hostile id up front — nothing is staged,
    # no stats dir appears (no store needed: validation runs first)
    with pytest.raises(ValueError, match="invalid append_id"):
        ivf_centroid_append(
            spark,
            str(tmp_path / "nostore"),
            _mini_corpus(spark, n_per=2),
            append_id="../escape",
        )
    assert not (tmp_path / "nostore_append_stats").exists()


def test_centroid_ivf_inplace_build_resets_append_lineage(spark, tmp_path):
    """r12 advisory #1: a build-then-append gate that crashes BETWEEN the
    append's commit marker and the gate's own done-marker re-enters the
    whole block — the in-place base build must clear
    <path>_append_stats alongside its _SUCCESS pre-delete, or the
    re-delivered append hits its stale commit marker, no-ops, and the
    done-marker seals a base-only store that REPORTED the increment as
    ingested (silent recall loss)."""
    import os

    from hive_export_spark.operators.ivf import (
        build_ivf_centroid_index,
        ivf_centroid_append,
    )

    base = _mini_corpus(spark, n_per=40)
    incr = _mini_corpus(spark, n_per=10, id_base=1000)
    path = str(tmp_path / "lineage")

    # gate attempt #1: base build + committed append... then "crash"
    # before the gate's done-marker (simulated by simply not writing it)
    build_ivf_centroid_index(base, path, n_centroids=2, max_iter=3)
    s1 = ivf_centroid_append(spark, path, incr, append_id="day1")
    assert s1["n_rows"] == 10
    assert os.path.exists(path + "_append_stats/append-day1/_SUCCESS")

    # gate attempt #2 (rerun): the in-place base build resets lineage —
    # stale markers gone with the data they described...
    build_ivf_centroid_index(base, path, n_centroids=2, max_iter=3)
    assert not os.path.exists(path + "_append_stats")
    base_n = spark.read.parquet(path).count()
    # ...so the re-delivered append APPLIES (old behavior: no-op against
    # the stale marker, receipt claiming 10 rows over a base-only store)
    s2 = ivf_centroid_append(spark, path, incr, append_id="day1")
    assert s2["n_rows"] == 10
    assert spark.read.parquet(path).count() == base_n + 10
    assert spark.read.parquet(path).filter(
        F.col("vec_id") >= 1000
    ).count() == 10

    # the STAGED rebuild keeps history on purpose (its corpus supersedes
    # the appends): a blind retry of the ingested increment still no-ops
    from hive_export_spark.operators.ivf import rebuild_ivf_centroid_index

    full = base.unionAll(incr)
    rebuild_ivf_centroid_index(spark, path, full, n_centroids=2, max_iter=3)
    assert os.path.exists(path + "_append_stats/append-day1/_SUCCESS")
    rebuilt_n = spark.read.parquet(path).count()
    assert rebuilt_n == 50
    retry = ivf_centroid_append(spark, path, incr, append_id="day1")
    assert retry["n_rows"] == 10  # the persisted receipt
    assert spark.read.parquet(path).count() == rebuilt_n  # no duplicate


def test_centroid_ivf_rebuild_crash_leaves_no_stale_success(spark, tmp_path):
    """r11 advisory #1: on an in-place REBUILD, the old exact tier's
    _SUCCESS used to survive until the final overwrite — a crash after
    the centroid-table overwrite left a stale marker over
    mixed-generation tiers that _SUCCESS-gated callers read as complete
    forever. The build now deletes the marker FIRST, so the injected
    crash leaves the gate open and the next caller rebuilds."""
    import os

    import pytest

    import hive_export_spark.operators.ivf as ivf_mod
    from hive_export_spark.operators.ivf import build_ivf_centroid_index

    corpus = _mini_corpus(spark, n_per=20)
    path = str(tmp_path / "rebuild")
    build_ivf_centroid_index(corpus, path, n_centroids=2, max_iter=2)
    assert os.path.exists(path + "/_SUCCESS")

    # rebuild that dies right after the centroid-table overwrite (the
    # stats write is the next step — poison it)
    real_stats_path = ivf_mod._stats_path

    def exploding_stats_path(p):
        raise RuntimeError("injected rebuild crash")

    ivf_mod._stats_path = exploding_stats_path
    try:
        with pytest.raises(RuntimeError, match="injected"):
            build_ivf_centroid_index(
                corpus, path, n_centroids=2, max_iter=2
            )
    finally:
        ivf_mod._stats_path = real_stats_path
    # the stale marker is GONE: gates re-enter the (idempotent) build
    assert not os.path.exists(path + "/_SUCCESS")
    build_ivf_centroid_index(corpus, path, n_centroids=2, max_iter=2)
    assert os.path.exists(path + "/_SUCCESS")


def test_centroid_ivf_build_persists_dispersion_stats(spark, tmp_path):
    """The build writes the per-cluster dispersion yardstick
    (<path>_stats: cid, n_members, mean_dist2) BEFORE the exact tier,
    so the _SUCCESS gate implies it committed (r11 verdict ask #5)."""
    from hive_export_spark.operators.ivf import build_ivf_centroid_index

    corpus = _mini_corpus(spark, n_per=20)
    path = str(tmp_path / "stats")
    build_ivf_centroid_index(corpus, path, n_centroids=2, max_iter=3)
    stats = spark.read.parquet(path + "_stats")
    assert set(stats.columns) == {"cid", "n_members", "mean_dist2"}
    rows = stats.collect()
    assert sum(r["n_members"] for r in rows) == 20
    assert all(r["mean_dist2"] is not None for r in rows)


def test_centroid_ivf_append_drift_signal(spark, tmp_path):
    """r11 verdict ask #5: the append measures the increment's dispersion
    against the build-time yardstick. An in-distribution increment
    reports drift_ratio ~ 1 and no rebuild flag; an out-of-distribution
    increment (every vector far from every trained centroid) trips
    rebuild_recommended, and the stats row persists beside the store."""
    from hive_export_spark.operators.ivf import (
        build_ivf_centroid_index,
        ivf_centroid_append,
    )

    base = _mini_corpus(spark, n_per=40)
    path = str(tmp_path / "drift")
    build_ivf_centroid_index(base, path, n_centroids=2, max_iter=3)

    indist = _mini_corpus(spark, n_per=10, id_base=1000)
    s1 = ivf_centroid_append(spark, path, indist, append_id="ok")
    assert s1["drift_ratio"] is not None
    assert s1["drift_ratio"] < 1.5
    assert s1["rebuild_recommended"] is False

    drifted = _mini_corpus(spark, n_per=10, drifted=True, id_base=2000)
    s2 = ivf_centroid_append(spark, path, drifted, append_id="bad")
    assert s2["drift_ratio"] is not None
    assert s2["drift_ratio"] > 1.5
    assert s2["rebuild_recommended"] is True

    # the receipt is PERSISTED beside the centroid table, not just
    # returned: a scheduler can poll the store itself
    persisted = spark.read.parquet(
        path + "_append_stats/append-bad"
    ).first()
    assert persisted["rebuild_recommended"] is True
    assert persisted["append_id"] == "bad"


def test_centroid_ivf_maintain_drift_to_rebuild(spark, tmp_path):
    """r12 verdict ask #4: ivf_maintain READS the persisted
    rebuild_recommended flags and ACTS — a drifted append triggers
    exactly ONE staged-swap rebuild (the store serves probes during the
    rebuild's long build phase), the scanned appends are marked
    _REMEDIED, and subsequent maintenance calls no-op until a NEW
    append flags drift against the new yardstick."""
    import os

    import hive_export_spark.operators.ivf as ivf_mod
    from hive_export_spark.operators.ivf import (
        build_ivf_centroid_index,
        ivf_centroid_append,
        ivf_centroid_topk,
        ivf_maintain,
    )

    base = _mini_corpus(spark, n_per=40)
    path = str(tmp_path / "maint")
    build_ivf_centroid_index(base, path, n_centroids=2, max_iter=3)

    # healthy store, no appends: no-op
    r0 = ivf_maintain(spark, path, base, n_centroids=2, max_iter=3)
    assert r0 == {"scanned": 0, "flagged": [], "rebuilt": False}

    # in-distribution append: committed but unflagged -> still no-op
    indist = _mini_corpus(spark, n_per=10, id_base=1000)
    s_ok = ivf_centroid_append(spark, path, indist, append_id="ok")
    assert s_ok["rebuild_recommended"] is False
    corpus1 = base.unionAll(indist)
    r1 = ivf_maintain(spark, path, corpus1, n_centroids=2, max_iter=3)
    assert r1 == {"scanned": 1, "flagged": [], "rebuilt": False}
    assert not os.path.exists(path + "_append_stats/append-ok/_REMEDIED")

    # drifted append: flag persists -> maintenance rebuilds EXACTLY ONCE,
    # and the live store keeps serving during the staged build
    drifted = _mini_corpus(spark, n_per=10, drifted=True, id_base=2000)
    s_bad = ivf_centroid_append(spark, path, drifted, append_id="bad")
    assert s_bad["rebuild_recommended"] is True
    corpus2 = corpus1.unionAll(drifted)

    real_rebuild = ivf_mod.rebuild_ivf_centroid_index
    real_build = ivf_mod.build_ivf_centroid_index
    counts = {"rebuilds": 0, "served": 0}
    probe_q = base.limit(1).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def counting_rebuild(spark_, index_path_, vectors_, **kw):
        counts["rebuilds"] += 1
        return real_rebuild(spark_, index_path_, vectors_, **kw)

    def probing_build(vectors_, path_, **kw):
        # fires during the rebuild's staged build: the LIVE store must
        # still answer probes (no serving gap)
        top = ivf_centroid_topk(spark, path, probe_q, k=3).collect()
        assert top, "live store stopped serving during the staged build"
        counts["served"] += 1
        return real_build(vectors_, path_, **kw)

    ivf_mod.rebuild_ivf_centroid_index = counting_rebuild
    ivf_mod.build_ivf_centroid_index = probing_build
    try:
        r2 = ivf_maintain(spark, path, corpus2, n_centroids=2, max_iter=3)
    finally:
        ivf_mod.rebuild_ivf_centroid_index = real_rebuild
        ivf_mod.build_ivf_centroid_index = real_build
    assert r2["rebuilt"] is True
    assert r2["flagged"] == ["bad"]
    assert r2["scanned"] == 2  # 'ok' and 'bad' both committed, unremedied
    assert counts == {"rebuilds": 1, "served": 1}
    # every scanned append is marked remedied (the rebuild re-trained
    # the yardstick — pre-rebuild drift is against a dead generation)
    assert os.path.exists(path + "_append_stats/append-bad/_REMEDIED")
    assert os.path.exists(path + "_append_stats/append-ok/_REMEDIED")
    # the rebuilt store carries the full corpus and serves
    assert spark.read.parquet(path).count() == 60
    assert os.path.exists(path + "/_SUCCESS")

    # exactly once: the next maintenance call no-ops
    r3 = ivf_maintain(spark, path, corpus2, n_centroids=2, max_iter=3)
    assert r3 == {"scanned": 0, "flagged": [], "rebuilt": False}

    # a NEW drifted append against the NEW yardstick re-arms the loop
    drifted2 = spark.createDataFrame(
        [(3000 + i, [-50.0, 40.0 + (i % 5) * 0.01, -60.0]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    s_bad2 = ivf_centroid_append(spark, path, drifted2, append_id="bad2")
    assert s_bad2["rebuild_recommended"] is True
    r4 = ivf_maintain(
        spark, path, corpus2.unionAll(drifted2), n_centroids=2, max_iter=3
    )
    assert r4["rebuilt"] is True
    assert r4["flagged"] == ["bad2"]


def test_centroid_ivf_concurrent_rebuild_and_maintain_refused(spark, tmp_path):
    """r13: automating the drift trigger makes RACING rebuilds plausible
    (two schedulers calling ivf_maintain) — and a racer's stale-staging
    cleanup would delete the in-progress staging build of the first.
    Both rebuild_ivf_centroid_index and ivf_maintain now hold exclusive
    leases: the second concurrent attempt refuses with
    ConcurrentRebuildError, a failed attempt releases immediately, and
    a direct rebuild is also serialized against a maintenance rebuild."""
    import os

    import hive_export_spark.operators.ivf as ivf_mod
    from hive_export_spark.operators.ivf import (
        ConcurrentRebuildError,
        build_ivf_centroid_index,
        ivf_centroid_append,
        ivf_maintain,
        rebuild_ivf_centroid_index,
    )

    base = _mini_corpus(spark, n_per=40)
    path = str(tmp_path / "rr")
    build_ivf_centroid_index(base, path, n_centroids=2, max_iter=3)

    # --- a second rebuild launched while the first is mid-build refuses
    real_build = ivf_mod.build_ivf_centroid_index
    raced: dict = {}

    def racing_build(vectors_, path_, **kw):
        if "err" not in raced:
            raced["err"] = None
            try:
                rebuild_ivf_centroid_index(
                    spark, path, base, n_centroids=2, max_iter=2
                )
            except ConcurrentRebuildError as e:
                raced["err"] = e
        return real_build(vectors_, path_, **kw)

    ivf_mod.build_ivf_centroid_index = racing_build
    try:
        rebuild_ivf_centroid_index(spark, path, base, n_centroids=2, max_iter=2)
    finally:
        ivf_mod.build_ivf_centroid_index = real_build
    assert isinstance(raced.get("err"), ConcurrentRebuildError)
    assert "rebuild" in str(raced["err"])
    # the winning rebuild completed and released its lease
    assert os.path.exists(path + "/_SUCCESS")
    assert not os.path.exists(path + ".rebuild.lease")

    # --- a crashed rebuild releases the lease immediately (finally)
    def exploding_build(vectors_, path_, **kw):
        raise RuntimeError("injected rebuild crash")

    ivf_mod.build_ivf_centroid_index = exploding_build
    try:
        with pytest.raises(RuntimeError, match="injected"):
            rebuild_ivf_centroid_index(spark, path, base, n_centroids=2)
    finally:
        ivf_mod.build_ivf_centroid_index = real_build
    assert not os.path.exists(path + ".rebuild.lease")
    rebuild_ivf_centroid_index(spark, path, base, n_centroids=2, max_iter=2)

    # --- two maintenance runs racing: the drifted flag rebuilds once,
    # the racer refuses instead of double-rebuilding
    drifted = _mini_corpus(spark, n_per=10, drifted=True, id_base=2000)
    ivf_centroid_append(spark, path, drifted, append_id="bad")
    corpus = base.unionAll(drifted)
    real_rebuild = ivf_mod.rebuild_ivf_centroid_index

    def racing_rebuild(spark_, index_path_, vectors_, **kw):
        if "m_err" not in raced:
            raced["m_err"] = None
            try:
                ivf_maintain(spark_, path, corpus, n_centroids=2, max_iter=2)
            except ConcurrentRebuildError as e:
                raced["m_err"] = e
        return real_rebuild(spark_, index_path_, vectors_, **kw)

    ivf_mod.rebuild_ivf_centroid_index = racing_rebuild
    try:
        r = ivf_maintain(spark, path, corpus, n_centroids=2, max_iter=2)
    finally:
        ivf_mod.rebuild_ivf_centroid_index = real_rebuild
    assert r["rebuilt"] is True
    assert isinstance(raced.get("m_err"), ConcurrentRebuildError)
    assert "maintenance" in str(raced["m_err"])
    assert not os.path.exists(path + ".maintain.lease")
    # exactly one rebuild happened: the flag is remedied, next call no-ops
    r2 = ivf_maintain(spark, path, corpus, n_centroids=2, max_iter=2)
    assert r2 == {"scanned": 0, "flagged": [], "rebuilt": False}


def test_centroid_ivf_tombstone_delete_lifecycle(spark, tmp_path):
    """r13: tombstone deletes — O(deletes) takedown on the persisted
    store. Deleted ids vanish from BOTH probe paths (direct and
    two-tier rerank) without crowding live candidates; committed
    re-runs no-op; content-addressed retries are idempotent; hostile
    ids are rejected; day-zero deletes refuse; the rebuild clears the
    tombstone tier (vectors supersede) and the in-place build's
    lineage reset does too."""
    import os

    from hive_export_spark.operators.ivf import (
        ConcurrentDeleteError,
        build_ivf_centroid_index,
        ivf_centroid_append,
        ivf_centroid_delete,
        ivf_centroid_topk,
        rebuild_ivf_centroid_index,
    )

    base = _mini_corpus(spark, n_per=40)
    incr = _mini_corpus(spark, n_per=10, id_base=1000)
    path = str(tmp_path / "del")
    build_ivf_centroid_index(base, path, n_centroids=2, max_iter=3)
    ivf_centroid_append(spark, path, incr, append_id="day1")

    # day-zero contract: no store -> refuse (the tombstone would be
    # silently dropped by the next build's lineage reset)
    with pytest.raises(ValueError, match="no store to delete from"):
        ivf_centroid_delete(
            spark, str(tmp_path / "nostore"), incr.select("vec_id")
        )
    # hostile id rejected before any write
    with pytest.raises(ValueError, match="invalid delete_id"):
        ivf_centroid_delete(
            spark, path, incr.select("vec_id"), delete_id="../esc"
        )

    # tombstone ids from BOTH tiers (base evens 0..18, appended 1000..1004)
    # plus an id the store never held (inert)
    doomed = spark.createDataFrame(
        [(i,) for i in range(0, 20, 2)]
        + [(1000 + i,) for i in range(5)]
        + [(999_999,)],
        "vec_id long",
    )
    receipt = ivf_centroid_delete(spark, path, doomed, delete_id="take1")
    assert receipt == {"delete_id": "take1", "n_ids": 16}

    queries = base.unionAll(incr).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    for rr in (None, 30):  # direct path AND two-tier rerank path
        res = ivf_centroid_topk(spark, path, queries, k=50, rerank=rr)
        got = {r["neighbor_id"] for r in res.collect()}
        assert not any(
            v in got for v in list(range(0, 20, 2)) + list(range(1000, 1005))
        ), f"deleted ids surfaced (rerank={rr})"
        # live vectors still found: the store serves everything else
        assert {i for i in range(1, 20, 2)} <= got

    # deleted ids do not CROWD the shortlist: a tiny rerank budget still
    # returns live neighbors for a query nearest to a deleted vector
    q0 = base.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = ivf_centroid_topk(spark, path, q0, k=3, rerank=3).collect()
    # query 0's cluster is the even ids; evens 0-18 are tombstoned, so
    # a shortlist of 3 must be filled by the LIVE evens (20-38) — a
    # post-rank filter would have returned deleted ids or nothing
    assert top and all(
        r["neighbor_id"] >= 20 and r["neighbor_id"] % 2 == 0 for r in top
    )

    # committed re-run: pure no-op returning the persisted receipt
    again = ivf_centroid_delete(
        spark, path, doomed.limit(0), delete_id="take1"
    )
    assert again == {"delete_id": "take1", "n_ids": 16}
    # content-addressed retry: same id, one tombstone batch
    a1 = ivf_centroid_delete(spark, path, doomed)
    a2 = ivf_centroid_delete(spark, path, doomed)
    assert a1["delete_id"] == a2["delete_id"]
    # explicit-id EMPTY delete commits (first-commit-wins)
    e0 = ivf_centroid_delete(
        spark, path, doomed.limit(0), delete_id="empty1"
    )
    assert e0 == {"delete_id": "empty1", "n_ids": 0}
    assert os.path.exists(path + "_deletes/delete-empty1/_SUCCESS")
    # a racing same-id delete refuses while the lease is held
    lease = path + "_deletes/_delete-held.lease"
    open(lease, "w").close()
    with pytest.raises(ConcurrentDeleteError, match="in flight"):
        ivf_centroid_delete(spark, path, doomed, delete_id="held")
    os.remove(lease)

    # REBUILD clears the tombstone tier: the new generation's corpus is
    # the source of truth (here it re-adds id 0), so the mask must go
    live = base.unionAll(incr).filter(
        ~F.col("vec_id").isin([i for i in range(2, 20, 2)] + list(range(1001, 1005)))
    )
    rebuild_ivf_centroid_index(spark, path, live, n_centroids=2, max_iter=3)
    assert not os.path.exists(path + "_deletes")
    res = ivf_centroid_topk(spark, path, queries, k=60, rerank=30)
    got = {r["neighbor_id"] for r in res.collect()}
    assert 0 in got  # re-added by the rebuild, no stale mask
    assert 2 not in got  # physically absent from the new generation

    # the IN-PLACE build's lineage reset clears tombstones too
    ivf_centroid_delete(spark, path, doomed, delete_id="take2")
    assert os.path.exists(path + "_deletes/delete-take2/_SUCCESS")
    build_ivf_centroid_index(base, path, n_centroids=2, max_iter=3)
    assert not os.path.exists(path + "_deletes")


def test_centroid_ivf_corrupt_store_fails_loudly(spark, tmp_path):
    """r11 verdict nit #2: only AnalysisException (PATH_NOT_FOUND /
    UNABLE_TO_INFER_SCHEMA) means 'empty index'. A store whose centroid
    table is CORRUPT — the stand-in for transient FS/transport errors,
    which surface the same way (non-Analysis JVM error) — must raise,
    not silently return zero neighbors; a genuinely missing store still
    probes empty."""
    import pytest
    from py4j.protocol import Py4JJavaError

    from hive_export_spark.operators.ivf import (
        build_ivf_centroid_index,
        ivf_centroid_append,
        ivf_centroid_topk,
    )

    corpus = _mini_corpus(spark, n_per=20)
    path = str(tmp_path / "corrupt")
    build_ivf_centroid_index(corpus, path, n_centroids=2, max_iter=2)
    # corrupt the centroid table: garbage bytes where a footer should be
    for p in (tmp_path / "corrupt_centroids").glob("*.parquet"):
        p.write_bytes(b"not a parquet file")
    queries = corpus.limit(2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    with pytest.raises(Py4JJavaError):
        ivf_centroid_topk(spark, path, queries, k=3, nprobe=2).collect()
    with pytest.raises(Py4JJavaError):
        ivf_centroid_append(
            spark, path, corpus.select("vec_id", "embedding"),
            append_id="x",
        )
    # a missing store is still the quiet day-zero path
    out = ivf_centroid_topk(
        spark, str(tmp_path / "never_existed"), queries, k=3, nprobe=2
    )
    assert out.count() == 0


def test_centroid_ivf_staged_rebuild_lifecycle(spark, tmp_path):
    """rebuild_ivf_centroid_index (r11 advisory #1's staging-swap
    alternative, engineered): the drift remedy rebuilds the whole store
    against sibling staging paths and swaps in — a crash during the
    (long) staged build leaves the LIVE store untouched and still
    serving; a crash mid-swap leaves the gate OPEN (no stale-complete
    marker); the completed rebuild re-derives k for the grown corpus
    and carries every base and appended vector."""
    import os

    import pytest

    import hive_export_spark.operators.ivf as ivf_mod
    from hive_export_spark.operators.ivf import (
        build_ivf_centroid_index,
        ivf_centroid_append,
        ivf_centroid_topk,
        rebuild_ivf_centroid_index,
    )

    e = load_table(spark, "embeddings", "/root/testdata/sf0.01")
    base = e.filter(F.col("vec_id") < 400)
    incr = e.filter(F.col("vec_id") >= 400).select("vec_id", "embedding")
    n_all = e.count()
    path = str(tmp_path / "reb")
    build_ivf_centroid_index(base, path, max_iter=3)
    ivf_centroid_append(spark, path, incr, append_id="d1")
    k_before = spark.read.parquet(path + "_centroids").count()

    # --- crash DURING the staged build: live store untouched, still
    # gate-complete and serving
    real_build = ivf_mod.build_ivf_centroid_index

    def exploding_build(*a, **kw):
        raise RuntimeError("injected staged-build crash")

    ivf_mod.build_ivf_centroid_index = exploding_build
    try:
        with pytest.raises(RuntimeError, match="injected"):
            rebuild_ivf_centroid_index(spark, path, e, max_iter=3)
    finally:
        ivf_mod.build_ivf_centroid_index = real_build
    assert os.path.exists(path + "/_SUCCESS")
    assert spark.read.parquet(path + "_centroids").count() == k_before
    assert spark.read.parquet(path).count() == n_all

    # --- crash MID-SWAP: gate must read incomplete, never
    # mixed-generation-complete
    real_swap = ivf_mod._swap_tier
    calls = {"n": 0}

    def exploding_swap(spark_, live, staging):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("injected mid-swap crash")
        return real_swap(spark_, live, staging)

    ivf_mod._swap_tier = exploding_swap
    try:
        with pytest.raises(RuntimeError, match="injected"):
            rebuild_ivf_centroid_index(spark, path, e, max_iter=3)
    finally:
        ivf_mod._swap_tier = real_swap
    assert not os.path.exists(path + "/_SUCCESS")

    # --- re-run converges: complete generation, k re-derived for the
    # grown corpus, every vector present, probes answer
    rebuild_ivf_centroid_index(spark, path, e, max_iter=3)
    assert os.path.exists(path + "/_SUCCESS")
    k_after = spark.read.parquet(path + "_centroids").count()
    assert k_after > k_before  # sqrt(500) > sqrt(400)-derived table
    assert spark.read.parquet(path).count() == n_all
    assert spark.read.parquet(path + "_coarse").count() == n_all
    # dispersion yardstick regenerated for the new generation: one row
    # per populated cluster of the NEW k, never the old generation's
    stats = spark.read.parquet(path + "_stats")
    assert 1 <= stats.count() <= k_after
    assert stats.count() > k_before  # old-generation stats would be smaller
    q = incr.limit(1).select(F.col("vec_id").alias("query_id"), "embedding")
    top = (
        ivf_centroid_topk(spark, path, q, k=3, rerank=10)
        .filter(F.col("rank") == 1)
        .first()
    )
    assert top["neighbor_id"] == q.first()["query_id"]
    # no staging or backup residue after a clean rebuild
    residue = [
        p.name
        for p in (tmp_path).iterdir()
        if ".rebuilding" in p.name or ".pre_rebuild" in p.name
    ]
    assert residue == []


def test_centroid_ivf_streaming_ingest_exactly_once(spark, tmp_path):
    """The foreachBatch + batch-id-keyed append composition: a file
    stream delivers the increment as micro-batches, each committed via
    ivf_centroid_append(append_id='batch-<id>'); the streamed store
    holds base+increment exactly once, and REPLAYING a batch through
    the same sink (the at-least-once redelivery Structured Streaming
    permits after recovery) is a no-op."""
    from hive_export_spark.operators.ivf import (
        build_ivf_centroid_index,
        ivf_centroid_append,
    )

    e = load_table(spark, "embeddings", "/root/testdata/sf0.01")
    base = e.filter(F.col("vec_id") < 400)
    incr = e.filter(F.col("vec_id") >= 400).select("vec_id", "embedding")
    n_incr = incr.count()
    path = str(tmp_path / "stream_eo")
    build_ivf_centroid_index(base, path, max_iter=3)
    exact_base = spark.read.parquet(path).count()

    inbox = str(tmp_path / "inbox")
    ckpt = str(tmp_path / "ckpt")
    incr.repartition(3).write.parquet(inbox)
    seen: list[tuple[int, int]] = []

    def ivf_sink(batch_df, batch_id):
        rows = batch_df.select("vec_id", "embedding")
        seen.append((batch_id, rows.count()))
        ivf_centroid_append(spark, path, rows, append_id=f"batch-{batch_id}")

    q = (
        spark.readStream.schema(incr.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inbox)
        .writeStream.foreachBatch(ivf_sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(seen) >= 2  # genuinely multiple micro-batches
    want = exact_base + n_incr
    assert spark.read.parquet(path).count() == want

    # at-least-once redelivery: replay a batch's content under its
    # batch id — the commit marker makes it a no-op, not a duplicate
    replay_id, _ = seen[-1]
    stats = ivf_centroid_append(
        spark, path, incr.limit(0), append_id=f"batch-{replay_id}"
    )
    # the replay returns the PERSISTED receipt — the original batch's
    # row count, not the replay payload's (we deliberately replayed an
    # empty frame to prove the marker answers first)
    assert stats["append_id"] == f"batch-{replay_id}"
    assert stats["n_rows"] == seen[-1][1]
    assert spark.read.parquet(path).count() == want


def test_centroid_ivf_rebuild_on_missing_store_is_first_build(spark, tmp_path):
    """rebuild_ivf_centroid_index against a path that was never built:
    the swap's had_live=False branch moves each staged tier straight
    in — a scheduler can point the rebuild job at a fresh path without
    special-casing day one — and committed append markers from a PRIOR
    lineage do not exist, so a follow-up append lands normally."""
    import os

    from hive_export_spark.operators.ivf import (
        ivf_centroid_append,
        ivf_centroid_topk,
        rebuild_ivf_centroid_index,
    )

    corpus = _mini_corpus(spark, n_per=20)
    path = str(tmp_path / "fresh")
    rebuild_ivf_centroid_index(spark, path, corpus, n_centroids=2, max_iter=2)
    assert os.path.exists(path + "/_SUCCESS")
    assert spark.read.parquet(path).count() == 20
    # the new lineage accepts appends
    incr = _mini_corpus(spark, n_per=5, id_base=500)
    stats = ivf_centroid_append(spark, path, incr, append_id="day1")
    assert stats["n_rows"] == 5
    assert spark.read.parquet(path).count() == 25
    q = corpus.limit(1).select(F.col("vec_id").alias("query_id"), "embedding")
    assert ivf_centroid_topk(spark, path, q, k=3, nprobe=2).count() > 0


def _enter_lease(spark, lease, timeout_sec=60.0):
    """Manually-driven _exclusive_lease for interleaving tests."""
    from hive_export_spark.operators.ivf import (
        ConcurrentRebuildError,
        _exclusive_lease,
    )

    cm = _exclusive_lease(
        spark, lease, timeout_sec, "test protocol", ConcurrentRebuildError
    )
    return cm, cm.__enter__()


def test_lease_heartbeat_keeps_healthy_holder_alive(spark, tmp_path):
    """r13 verdict ask #2: the lease timeout measures SILENCE, not total
    runtime. A holder that outlives the timeout but heartbeats at step
    boundaries is never reclaimed — a contender arriving at any point
    refuses — where the pre-r14 claim-time-only mtime let the contender
    reclaim a LIVE holder's lease mid-flight."""
    import os
    import time

    from hive_export_spark.operators.ivf import ConcurrentRebuildError

    lease = str(tmp_path / "store.rebuild.lease")
    cm, heartbeat = _enter_lease(spark, lease, timeout_sec=2.0)
    try:
        total = 0.0
        while total < 2.4:  # outlive the 2.0s timeout
            time.sleep(1.2)
            total += 1.2
            heartbeat()
            # the heartbeat refreshed the mtime: a contender refuses
            with pytest.raises(ConcurrentRebuildError, match="in flight"):
                _enter_lease(spark, lease, timeout_sec=2.0)
    finally:
        cm.__exit__(None, None, None)
    # clean release on completion
    assert not os.path.exists(lease)


def test_stale_lease_reclaim_toctou_at_most_one_holder(spark, tmp_path):
    """r13 verdict ask #3 (advisory #3): the named two-waiter
    interleaving — B observes an expired lease, A reclaims it while B
    is between its staleness check and its delete, B's delete then
    lands on A's FRESH lease. The mtime re-check immediately before the
    delete makes B abort instead, so at most one holder survives."""
    import os

    from hive_export_spark.operators.ivf import (
        ConcurrentRebuildError,
        _reclaim_expired_lease,
    )
    from hive_export_spark.operators.maintenance import _fs_for

    lease = str(tmp_path / "store.rebuild.lease")
    # a hard-killed holder's lease, already expired
    open(lease, "w").close()
    old = os.path.getmtime(lease) - 100
    os.utime(lease, (old, old))
    fs, jlease = _fs_for(spark, lease)
    # waiter B observes the expired lease's mtime...
    observed_by_b = fs.getFileStatus(jlease).getModificationTime()
    # ...then waiter A claims it (full reclaim+claim) before B deletes
    cm_a, heartbeat_a = _enter_lease(spark, lease, timeout_sec=5.0)
    try:
        # B's delete attempt must abort: the mtime moved under it
        with pytest.raises(ConcurrentRebuildError, match="changed hands"):
            _reclaim_expired_lease(
                fs, jlease, observed_by_b, lease, "test protocol",
                ConcurrentRebuildError,
            )
        # A is unharmed: its lease survived and its heartbeat still owns it
        assert os.path.exists(lease)
        heartbeat_a()
    finally:
        cm_a.__exit__(None, None, None)
    assert not os.path.exists(lease)


def test_lease_theft_detected_at_heartbeat_and_release_spares_thief(
    spark, tmp_path
):
    """Reclaim layers 2+3: if a racing reclaimer DOES replace a holder's
    lease (the residual window between claim-verify and the next step),
    the holder's next heartbeat reads the foreign nonce and aborts
    rather than double-writing — and its release path must NOT delete
    the new holder's lease."""
    import os

    from hive_export_spark.operators.ivf import ConcurrentRebuildError
    from hive_export_spark.operators.maintenance import _fs_for

    lease = str(tmp_path / "store.maintain.lease")
    cm, heartbeat = _enter_lease(spark, lease)
    # theft through the same FS API a racing _exclusive_lease would use
    fs, jlease = _fs_for(spark, lease)
    fs.delete(jlease, False)
    out = fs.create(jlease, False)
    out.write(bytearray(b"thief-nonce"))
    out.close()
    with pytest.raises(ConcurrentRebuildError, match="lost to a concurrent"):
        heartbeat()
    # the holder's exit releases only its OWN lease — the thief's survives
    cm.__exit__(None, None, None)
    assert os.path.exists(lease)
    assert open(lease).read() == "thief-nonce"


def test_lease_heartbeats_flow_through_rebuild_stages(spark, tmp_path):
    """The staged rebuild heartbeats its lease (and any on_step chain —
    ivf_maintain passes its own lease's heartbeat there) at every build
    stage and swap boundary, so the silence timeout measures gaps
    between stages, never total build runtime."""
    import os

    from hive_export_spark.operators.ivf import (
        build_ivf_centroid_index,
        rebuild_ivf_centroid_index,
    )

    corpus = _mini_corpus(spark, n_per=30)
    path = str(tmp_path / "hb_store")
    build_ivf_centroid_index(corpus, path, n_centroids=2, max_iter=2)

    steps = {"n": 0, "mtimes": []}
    lease = path + ".rebuild.lease"

    def on_step():
        steps["n"] += 1
        steps["mtimes"].append(os.path.getmtime(lease))

    rebuild_ivf_centroid_index(
        spark, path, corpus, n_centroids=2, max_iter=2, on_step=on_step
    )
    # at least: pre-build snapshot, 4 build stages, 4 swaps
    assert steps["n"] >= 9
    # the lease mtime advanced across stages (setTimes actually fired)
    assert steps["mtimes"][-1] > steps["mtimes"][0]
    assert not os.path.exists(lease)


def test_inplace_build_crash_keeps_tombstones_masking(spark, tmp_path):
    """r13 advisory #1: the in-place build clears the tombstone tier
    AFTER the final exact-tier write, never before — a build that
    crashes mid-way leaves the OLD rows on disk, so their takedown
    masks must survive the crash (stale-mask risk only begins once the
    new generation exists). Pre-r14 ordering cleared first and exposed
    taken-down rows to ungated probes until the build re-ran."""
    import os

    from hive_export_spark.operators.ivf import (
        build_ivf_centroid_index,
        ivf_centroid_delete,
        ivf_centroid_topk,
    )

    base = _mini_corpus(spark, n_per=40)
    path = str(tmp_path / "crash_order")
    build_ivf_centroid_index(base, path, n_centroids=2, max_iter=3)
    ivf_centroid_delete(
        spark, path, base.filter(F.col("vec_id") < 4).select("vec_id"),
        delete_id="take1",
    )
    assert os.path.exists(path + "_deletes/delete-take1/_SUCCESS")

    # crash AFTER the coarse tier but BEFORE the exact tier: the 4th
    # build stage boundary (kmeans, centroids, stats, coarse)
    calls = {"n": 0}

    def crashing_step():
        calls["n"] += 1
        if calls["n"] == 4:
            raise RuntimeError("injected crash before the exact tier")

    with pytest.raises(RuntimeError, match="injected crash"):
        build_ivf_centroid_index(
            base, path, n_centroids=2, max_iter=3, on_step=crashing_step
        )
    # the OLD rows are still what probes (re-entering gates rebuild, but
    # ungated probes read the old generation): their masks must survive
    assert os.path.exists(path + "_deletes/delete-take1/_SUCCESS")
    queries = base.select(F.col("vec_id").alias("query_id"), "embedding")
    res = ivf_centroid_topk(spark, path, queries, k=50)
    got = {r["neighbor_id"] for r in res.collect()}
    assert not ({0, 1, 2, 3} & got), "taken-down ids resurfaced after crash"

    # the completed re-run applies the lineage reset and clears the tier
    build_ivf_centroid_index(base, path, n_centroids=2, max_iter=3)
    assert not os.path.exists(path + "_deletes")


def test_rebuild_preserves_takedown_committed_during_build(spark, tmp_path):
    """r13 advisory #2: a takedown committed DURING a rebuild's
    corpus-sized build phase — so its id may well be inside the new
    generation, snapshotted earlier — must SURVIVE the rebuild's
    tombstone clear (the caller already got a success receipt).
    Only batches committed BEFORE the build phase are cleared."""
    import os

    import hive_export_spark.operators.ivf as ivf_mod
    from hive_export_spark.operators.ivf import (
        build_ivf_centroid_index,
        ivf_centroid_delete,
        ivf_centroid_topk,
        rebuild_ivf_centroid_index,
    )

    base = _mini_corpus(spark, n_per=40)
    path = str(tmp_path / "race_del")
    build_ivf_centroid_index(base, path, n_centroids=2, max_iter=3)
    # a PRE-rebuild takedown: superseded by the rebuild corpus -> cleared
    ivf_centroid_delete(
        spark, path, base.filter(F.col("vec_id") == 1).select("vec_id"),
        delete_id="pre1",
    )

    raced: dict = {}
    real_build = ivf_mod.build_ivf_centroid_index

    def racing_build(vectors, build_path, **kw):
        if not raced:
            # the takedown lands while the rebuild is scanning the corpus;
            # id 3 IS in the rebuild corpus (new generation holds it)
            raced["receipt"] = ivf_centroid_delete(
                spark, path,
                base.filter(F.col("vec_id") == 3).select("vec_id"),
                delete_id="during1",
            )
        return real_build(vectors, build_path, **kw)

    ivf_mod.build_ivf_centroid_index = racing_build
    try:
        rebuild_ivf_centroid_index(spark, path, base, n_centroids=2, max_iter=3)
    finally:
        ivf_mod.build_ivf_centroid_index = real_build

    assert raced["receipt"]["n_ids"] == 1
    # pre-build batch cleared (superseded); mid-build batch SURVIVES
    assert not os.path.exists(path + "_deletes/delete-pre1")
    assert os.path.exists(path + "_deletes/delete-during1/_SUCCESS")
    # and the surviving tombstone still masks id 3 even though the new
    # generation physically holds it
    queries = base.select(F.col("vec_id").alias("query_id"), "embedding")
    for rr in (None, 30):
        res = ivf_centroid_topk(spark, path, queries, k=50, rerank=rr)
        got = {r["neighbor_id"] for r in res.collect()}
        assert 3 not in got, f"mid-rebuild takedown wiped (rerank={rr})"
        assert 1 in got  # the superseded mask is gone


def test_tombstone_broadcast_guard_falls_back_past_budget(
    spark, tmp_path, monkeypatch
):
    """r13 verdict ask #4: the probe broadcasts the tombstone anti-join
    side only while its on-disk bytes honor the O(deletes)-small
    contract; a mass purge past the budget drops the hint (shuffle
    anti-join) instead of shipping a data-sized union to every
    executor. Results stay exact on both branches."""
    import hive_export_spark.operators.ivf as ivf_mod
    from hive_export_spark.operators.ivf import (
        _read_tombstones,
        _tombstone_antijoin,
        build_ivf_centroid_index,
        ivf_centroid_delete,
        ivf_centroid_topk,
    )

    base = _mini_corpus(spark, n_per=40)
    path = str(tmp_path / "guard")
    build_ivf_centroid_index(base, path, n_centroids=2, max_iter=3)
    doomed = base.filter(F.col("vec_id") < 6).select("vec_id")
    ivf_centroid_delete(spark, path, doomed, delete_id="purge1")

    # in-contract tombstones: broadcast hint taken
    tomb, fits = _read_tombstones(spark, path, "vec_id")
    assert tomb is not None and fits is True
    scan = spark.read.parquet(path)
    hinted = _tombstone_antijoin(scan, tomb, True, "vec_id")
    assert "strategy=broadcast" in (
        hinted._jdf.queryExecution().logical().toString()
    )

    # past the budget: the verdict flips and the hint is dropped
    monkeypatch.setattr(ivf_mod, "_TOMBSTONE_BROADCAST_MAX_BYTES", 0)
    tomb2, fits2 = _read_tombstones(spark, path, "vec_id")
    assert fits2 is False
    unhinted = _tombstone_antijoin(scan, tomb2, False, "vec_id")
    assert "strategy=broadcast" not in (
        unhinted._jdf.queryExecution().logical().toString()
    )

    # end-to-end on the fallback branch: both probe paths stay exact
    queries = base.select(F.col("vec_id").alias("query_id"), "embedding")
    for rr in (None, 30):
        res = ivf_centroid_topk(spark, path, queries, k=50, rerank=rr)
        got = {r["neighbor_id"] for r in res.collect()}
        assert not (set(range(6)) & got), f"deleted ids surfaced (rerank={rr})"
        assert {i for i in range(6, 20)} <= got


def test_maintain_flag_scan_is_one_job_regardless_of_append_count(
    spark, tmp_path, monkeypatch
):
    """r13 verdict ask #5: the maintenance no-op path reads every
    committed append's drift stats in ONE multi-path parquet job — not
    one driver round-trip per append (a store with thousands of appends
    between maintenances made the 'cheap when healthy' scan thousands
    of serial jobs)."""
    import hive_export_spark.operators.ivf as ivf_mod
    from hive_export_spark.operators.ivf import (
        build_ivf_centroid_index,
        ivf_centroid_append,
        ivf_maintain,
    )

    base = _mini_corpus(spark, n_per=40)
    path = str(tmp_path / "onejob")
    build_ivf_centroid_index(base, path, n_centroids=2, max_iter=3)
    for day in range(3):
        ivf_centroid_append(
            spark, path,
            _mini_corpus(spark, n_per=6, id_base=1000 * (day + 1)),
            append_id=f"day{day}",
        )

    calls = {"n": 0, "dirs": None}
    real = ivf_mod._read_append_stats_rows

    def counting(spark_, dirs):
        calls["n"] += 1
        calls["dirs"] = list(dirs)
        return real(spark_, dirs)

    monkeypatch.setattr(ivf_mod, "_read_append_stats_rows", counting)
    out = ivf_maintain(spark, path, base)
    assert out == {"scanned": 3, "flagged": [], "rebuilt": False}
    # one read call, fed ALL three committed appends' dirs
    assert calls["n"] == 1
    assert len(calls["dirs"]) == 3

    # zero candidates (all torn/remedied/none): the read never fires
    calls["n"] = 0
    import shutil

    shutil.rmtree(path + "_append_stats")
    out2 = ivf_maintain(spark, path, base)
    assert out2 == {"scanned": 0, "flagged": [], "rebuilt": False}
    assert calls["n"] == 0


def test_compaction_applies_tombstones_physically(spark, tmp_path):
    """r13 verdict ask #6: compaction's rewrite anti-joins the committed
    tombstone batches it snapshotted at start — deletes become PHYSICAL
    without a full rebuild — and clears exactly those batch dirs, so a
    takedown committed DURING the compaction survives (snapshot-scoped,
    same contract as the rebuild's clear) and takedown-then-readd needs
    only a compaction between the two steps."""
    import os

    import hive_export_spark.operators.maintenance as maint_mod
    from hive_export_spark.operators.ivf import (
        build_ivf_centroid_index,
        compact_ivf_centroid_index,
        ivf_centroid_append,
        ivf_centroid_delete,
        ivf_centroid_topk,
    )

    base = _mini_corpus(spark, n_per=40)
    path = str(tmp_path / "cmp_phys")
    build_ivf_centroid_index(base, path, n_centroids=2, max_iter=3)
    ivf_centroid_append(
        spark, path, _mini_corpus(spark, n_per=10, id_base=1000),
        append_id="day1",
    )
    # takedown A: evens 0..6 plus an appended id
    doomed_a = spark.createDataFrame(
        [(0,), (2,), (4,), (6,), (1000,)], "vec_id long"
    )
    ivf_centroid_delete(spark, path, doomed_a, delete_id="takeA")

    # takedown B lands DURING the compaction (after its snapshot)
    raced: dict = {}
    real_compact = maint_mod.compact_partitioned_table

    def racing_compact(spark_, p, cols, **kw):
        if not raced:
            raced["receipt"] = ivf_centroid_delete(
                spark, path,
                spark.createDataFrame([(7,)], "vec_id long"),
                delete_id="takeB",
            )
        return real_compact(spark_, p, cols, **kw)

    maint_mod.compact_partitioned_table = racing_compact
    try:
        stats = compact_ivf_centroid_index(spark, path)
    finally:
        maint_mod.compact_partitioned_table = real_compact

    assert stats["tombstones"]["batches_applied"] == 1  # the snapshot: A
    # A's rows are PHYSICALLY gone from both tiers; its batch dir cleared
    exact_ids = {r["vec_id"] for r in spark.read.parquet(path).collect()}
    coarse_ids = {
        r["vec_id"] for r in spark.read.parquet(path + "_coarse").collect()
    }
    for ids in (exact_ids, coarse_ids):
        assert not ({0, 2, 4, 6, 1000} & ids)
        assert 7 in ids  # B not applied physically yet...
    assert not os.path.exists(path + "_deletes/delete-takeA")
    assert os.path.exists(path + "_deletes/delete-takeB/_SUCCESS")

    queries = base.select(F.col("vec_id").alias("query_id"), "embedding")
    res = ivf_centroid_topk(spark, path, queries, k=50, rerank=30)
    got = {r["neighbor_id"] for r in res.collect()}
    assert not ({0, 2, 4, 6, 1000} & got)
    assert 7 not in got  # ...but B still MASKS at the probe
    assert {1, 3, 5, 8} <= got

    # takedown-then-readd: A made physical by the compaction, so
    # re-appending id 2 resurrects it — no rebuild needed
    ivf_centroid_append(
        spark, path,
        base.filter(F.col("vec_id") == 2).select("vec_id", "embedding"),
        append_id="readd2",
    )
    res2 = ivf_centroid_topk(spark, path, queries, k=50, rerank=30)
    got2 = {r["neighbor_id"] for r in res2.collect()}
    assert 2 in got2

    # a second compaction applies B physically and empties the tier
    stats2 = compact_ivf_centroid_index(spark, path)
    assert stats2["tombstones"]["batches_applied"] == 1
    assert not os.path.exists(path + "_deletes")
    assert 7 not in {r["vec_id"] for r in spark.read.parquet(path).collect()}


def test_delete_receipt_counts_distinct_ids(spark, tmp_path):
    """r13 advisory #4: a duplicated input id list reports the SAME
    n_ids on the first run as on a committed re-run — both read the
    distinct count from the committed batch."""
    from hive_export_spark.operators.ivf import (
        build_ivf_centroid_index,
        ivf_centroid_delete,
    )

    base = _mini_corpus(spark, n_per=20)
    path = str(tmp_path / "dupdel")
    build_ivf_centroid_index(base, path, n_centroids=2, max_iter=3)
    dup = spark.createDataFrame([(5,), (5,), (9,)], "vec_id long")
    first = ivf_centroid_delete(spark, path, dup, delete_id="dup1")
    again = ivf_centroid_delete(spark, path, dup, delete_id="dup1")
    assert first == again == {"delete_id": "dup1", "n_ids": 2}

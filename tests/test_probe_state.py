"""Per-session IVF probe state: a warm probe reads neither the centroid
table nor a parquet footer, runs all its Spark jobs in the caller's job
group, and answers exactly like brute force across every commit that
changes the index (append, delete, compaction, staged rebuild, in-place
build). The k-means training cache of a build is released."""

from __future__ import annotations

import gc
import uuid
import weakref


from hive_export_spark.operators.similarity import brute_force_topk

COLS = ("query_id", "neighbor_id", "cosine", "rank")


def _vectors(n, dim=4, id_base=0, shift=0.0):
    """Deterministic vectors around ``dim`` axis directions (no RNG)."""
    rows = []
    for i in range(n):
        v = [0.05 * ((i * (j + 3)) % 7) + shift for j in range(dim)]
        v[i % dim] += 1.0
        rows.append((id_base + i, v))
    return rows


def _probe_jobs(spark, fn):
    """(jobs submitted while ``fn`` ran, jobs of those in fn's group).
    Job ids are consecutive: the window between two marker jobs holds
    exactly the jobs ``fn`` submitted, from any thread."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    tag = uuid.uuid4().hex

    def marker(group):
        sc.setJobGroup(group, group)
        spark.range(2).collect()
        (job,) = tracker.getJobIdsForGroup(group)
        return job

    try:
        before = marker(f"before-{tag}")
        sc.setJobGroup(f"probe-{tag}", "probe")
        fn()
        in_group = set(tracker.getJobIdsForGroup(f"probe-{tag}"))
        after = marker(f"after-{tag}")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return set(range(before + 1, after)), in_group


def _file_queries(spark, tmp_path, rows):
    """A query frame read from parquet, so its collect is a Spark job as
    a caller's scan-backed query frame would be."""
    path = str(tmp_path / "queries")
    spark.createDataFrame(
        rows, "query_id long, embedding array<double>"
    ).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def test_probe_jobs_run_in_callers_group_and_warm_counts(spark, tmp_path):
    """Every job a probe submits carries the caller's job group, so
    ``cancelJobGroup`` can stop all of it; a warm single-tier probe runs
    4 jobs and a warm rerank probe 7 (the centroid collect and the
    footer jobs are gone)."""
    from hive_export_spark.operators.ivf import (
        build_ivf_centroid_index,
        ivf_centroid_topk,
    )

    corpus = spark.createDataFrame(
        _vectors(48), "vec_id long, embedding array<double>"
    )
    path = str(tmp_path / "idx")
    build_ivf_centroid_index(corpus, path, n_centroids=4, max_iter=2)
    queries = _file_queries(spark, tmp_path, _vectors(3, id_base=100))

    for rerank, warm_jobs in ((None, 4), (20, 7)):
        ivf_centroid_topk(spark, path, queries, k=3, rerank=rerank).collect()
        got = []
        window, in_group = _probe_jobs(
            spark,
            lambda: got.extend(
                ivf_centroid_topk(
                    spark, path, queries, k=3, rerank=rerank
                ).collect()
            ),
        )
        assert len(got) == 9
        assert window == in_group, (rerank, window, in_group)
        assert len(in_group) == warm_jobs, (rerank, sorted(in_group))


def _check_against_brute_force(spark, path, live, queries, label):
    from hive_export_spark.operators.ivf import ivf_centroid_topk

    id_type = "string" if isinstance(next(iter(live)), str) else "long"
    corpus = spark.createDataFrame(
        sorted(live.items()), f"vec_id {id_type}, embedding array<double>"
    )
    want = sorted(
        tuple(r) for r in brute_force_topk(corpus, queries, k=5)
        .select(*COLS).collect()
    )
    assert len(want) == 5 * queries.count()
    # rerank=None reads the exact tier; a rerank at least the corpus size
    # shortlists every candidate, so both paths must equal brute force
    for rerank in (None, 1000):
        got = sorted(
            tuple(r)
            for r in ivf_centroid_topk(
                spark, path, queries, k=5, probe_frac=1.0, rerank=rerank
            ).select(*COLS).collect()
        )
        assert got == want, (label, rerank)


def test_probe_state_follows_every_commit(spark, tmp_path):
    """Probes interleaved with append, delete, compaction, a staged
    rebuild (to a different centroid count) and an in-place build that
    changes the id type: every probe, with and without rerank, equals
    brute force over the live rows. A second session probing the same
    path sees the first session's commits too."""
    from hive_export_spark.operators.ivf import (
        build_ivf_centroid_index,
        compact_ivf_centroid_index,
        ivf_centroid_append,
        ivf_centroid_delete,
        rebuild_ivf_centroid_index,
    )

    schema = "vec_id long, embedding array<double>"
    path = str(tmp_path / "idx")
    live = dict(_vectors(30))
    queries = spark.createDataFrame(
        _vectors(3, id_base=500, shift=0.02),
        "query_id long, embedding array<double>",
    )
    other = spark.newSession()
    other_queries = other.createDataFrame(
        _vectors(3, id_base=500, shift=0.02),
        "query_id long, embedding array<double>",
    )

    build_ivf_centroid_index(
        spark.createDataFrame(sorted(live.items()), schema), path,
        n_centroids=2, max_iter=2,
    )
    _check_against_brute_force(spark, path, live, queries, "build")
    _check_against_brute_force(other, path, live, other_queries, "other")

    added = dict(_vectors(8, id_base=1000, shift=0.01))
    ivf_centroid_append(
        spark, path, spark.createDataFrame(sorted(added.items()), schema),
        append_id="day1",
    )
    live.update(added)
    _check_against_brute_force(spark, path, live, queries, "append")

    gone = [0, 1, 2, 1003]
    ivf_centroid_delete(
        spark, path, spark.createDataFrame([(i,) for i in gone], "vec_id long"),
        delete_id="takedown",
    )
    for i in gone:
        del live[i]
    _check_against_brute_force(spark, path, live, queries, "delete")

    compact_ivf_centroid_index(spark, path)
    _check_against_brute_force(spark, path, live, queries, "compact")

    # more centroids than before: stale centroid rows would leave the new
    # partitions unprobed
    rebuild_ivf_centroid_index(
        spark, path, spark.createDataFrame(sorted(live.items()), schema),
        n_centroids=4, max_iter=2,
    )
    _check_against_brute_force(spark, path, live, queries, "rebuild")
    _check_against_brute_force(other, path, live, other_queries, "other2")

    # in-place build with string ids: the cached schemas must go too
    live = {f"s{i}": v for i, v in _vectors(24, shift=0.03)}
    build_ivf_centroid_index(
        spark.createDataFrame(
            sorted(live.items()), "vec_id string, embedding array<double>"
        ),
        path, n_centroids=3, max_iter=2,
    )
    _check_against_brute_force(spark, path, live, queries, "retyped")
    _check_against_brute_force(other, path, live, other_queries, "other3")


def test_probe_state_bounded_and_released_with_session(
    spark, tmp_path, monkeypatch
):
    """The states of all sessions together keep at most
    _PROBE_STATE_MAX_BYTES of centroid tables (least recently used goes
    first, whichever session holds it), drop an index idle past
    _PROBE_STATE_IDLE_S, and go with their session."""
    import hive_export_spark.operators.ivf as ivf_mod
    from hive_export_spark.operators.ivf import (
        build_ivf_centroid_index,
        ivf_centroid_topk,
    )

    corpus = spark.createDataFrame(
        _vectors(24), "vec_id long, embedding array<double>"
    )
    paths = [str(tmp_path / f"idx{i}") for i in range(3)]
    for p in paths:
        build_ivf_centroid_index(corpus, p, n_centroids=2, max_iter=1)
    session = spark.newSession()
    queries = session.createDataFrame(
        _vectors(1, id_base=99), "query_id long, embedding array<double>"
    )

    for p in paths:
        assert ivf_centroid_topk(session, p, queries, k=2).count() == 2
    states = ivf_mod._probe_states[session]
    assert list(states) == paths
    sizes = [states[p].key[1] for p in paths]
    assert min(sizes) > 0

    # room for two of the three tables: the least recently used goes
    monkeypatch.setattr(ivf_mod, "_PROBE_STATE_MAX_BYTES", 2 * max(sizes))
    assert ivf_centroid_topk(session, paths[2], queries, k=2).count() == 2
    assert list(states) == paths[1:]

    # the budget spans sessions: another session's probe pushes out this
    # session's least recently used table
    other_queries = spark.createDataFrame(
        _vectors(1, id_base=99), "query_id long, embedding array<double>"
    )
    assert ivf_centroid_topk(spark, paths[0], other_queries, k=2).count() == 2
    assert list(states) == paths[2:]
    assert paths[0] in ivf_mod._probe_states[spark]

    # a table over the whole budget is read for its probe and not kept
    monkeypatch.setattr(ivf_mod, "_PROBE_STATE_MAX_BYTES", 0)
    assert ivf_centroid_topk(session, paths[1], queries, k=2).count() == 2
    assert list(states) == []
    monkeypatch.undo()

    for p in paths:
        ivf_centroid_topk(session, p, queries, k=2).count()
    monkeypatch.setattr(ivf_mod, "_PROBE_STATE_IDLE_S", 0.0)
    ivf_centroid_topk(session, paths[0], queries, k=2).count()
    assert list(states) == paths[:1]
    del states

    # the states hold the session weakly: once nothing else does, it and
    # its entry go
    ref = weakref.ref(session)
    del session, queries
    # PySpark itself holds its newest session (RDD.toDF's closure) and
    # the session of the last createDataFrame (the active session): move
    # both references off the probing session
    spark.newSession()
    spark.createDataFrame([(0,)], "x long")
    gc.collect()
    assert ref() is None


def test_build_releases_kmeans_training_cache(spark, tmp_path):
    """build_ivf_centroid_index leaves no cached frame behind: the
    session's persistent-RDD count is the same before and after."""
    from hive_export_spark.operators.ivf import build_ivf_centroid_index

    corpus = spark.createDataFrame(
        _vectors(40), "vec_id long, embedding array<double>"
    )
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    build_ivf_centroid_index(
        corpus, str(tmp_path / "idx"), n_centroids=3, max_iter=2
    )
    assert persistent().size() == before


def test_concurrent_probes_share_one_state(spark, tmp_path):
    """Threads probing one index through one session, starting cold and
    switching often, all get the single-threaded answer and leave one
    state entry behind."""
    import sys
    import threading

    import hive_export_spark.operators.ivf as ivf_mod
    from hive_export_spark.operators.ivf import (
        build_ivf_centroid_index,
        ivf_centroid_topk,
    )

    corpus = spark.createDataFrame(
        _vectors(32), "vec_id long, embedding array<double>"
    )
    path = str(tmp_path / "idx")
    build_ivf_centroid_index(corpus, path, n_centroids=3, max_iter=1)
    queries = spark.createDataFrame(
        _vectors(2, id_base=70), "query_id long, embedding array<double>"
    )
    want = sorted(
        tuple(r) for r in ivf_centroid_topk(spark, path, queries, k=4)
        .select(*COLS).collect()
    )
    ivf_mod._probe_states[spark].pop(path)

    results, errors = [], []

    def probe():
        try:
            for _ in range(2):
                results.append(sorted(
                    tuple(r) for r in ivf_centroid_topk(spark, path, queries, k=4)
                    .select(*COLS).collect()
                ))
        except Exception as exc:  # reported by the assertion below
            errors.append(exc)

    # each probe's collects set a session conf for their duration;
    # overlapping probes must leave it as it was before them
    limit_key = "spark.sql.limit.initialNumPartitions"
    limit_conf = spark.conf.get(limit_key, None)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=probe) for _ in range(6)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert results == [want] * 12
    assert path in ivf_mod._probe_states[spark]
    assert spark.conf.get(limit_key, None) == limit_conf


def test_probe_relation_bounded(spark, tmp_path, monkeypatch):
    """The literal relations a probe builds hold each query vector once
    per probed key only while those copies fit
    _PROBE_RELATION_MAX_BYTES; past it the keys and the vectors go as two
    relations, so no relation holds more vector doubles than the budget
    or the query batch itself. Both shapes answer the same, with and
    without rerank, for a multi-query batch at the default probe_frac."""
    import hive_export_spark.operators.ivf as ivf_mod
    from hive_export_spark.operators.ivf import (
        build_ivf_centroid_index,
        ivf_centroid_topk,
    )

    dim, n_queries = 6, 12
    corpus = spark.createDataFrame(
        _vectors(96, dim=dim), "vec_id long, embedding array<double>"
    )
    path = str(tmp_path / "idx")
    build_ivf_centroid_index(corpus, path, n_centroids=6, max_iter=2)
    queries = spark.createDataFrame(
        _vectors(n_queries, dim=dim, id_base=500, shift=0.01),
        "query_id long, embedding array<double>",
    )

    built = []
    local_frame = ivf_mod.local_frame

    def recording_local_frame(spark_, rows, schema):
        rows = list(rows)
        built.append((schema.names, rows))
        return local_frame(spark_, rows, schema)

    monkeypatch.setattr(ivf_mod, "local_frame", recording_local_frame)

    def probe(rerank):
        built.clear()
        got = sorted(
            tuple(r)
            for r in ivf_centroid_topk(
                spark, path, queries, k=3, rerank=rerank
            ).select(*COLS).collect()
        )
        assert len(got) == 3 * n_queries
        vector_doubles = [
            sum(len(r[names.index("__qv")]) for r in rows)
            for names, rows in built
            if "__qv" in names
        ]
        return got, vector_doubles

    default_budget = ivf_mod._PROBE_RELATION_MAX_BYTES
    for rerank in (None, 8):
        monkeypatch.setattr(ivf_mod, "_PROBE_RELATION_MAX_BYTES", default_budget)
        joined, doubles = probe(rerank)
        # small batch: one relation per plan, a vector per probed key
        assert len(doubles) == (1 if rerank is None else 2)
        assert min(doubles) > n_queries * dim
        monkeypatch.setattr(
            ivf_mod, "_PROBE_RELATION_MAX_BYTES", 8 * n_queries * dim
        )
        split, doubles = probe(rerank)
        assert split == joined, rerank
        assert doubles and max(doubles) <= n_queries * dim, doubles

"""Property tests for the LLM-pipeline operators: MinHash estimation
accuracy, embedding near-dup recall vs the brute-force baseline, SimHash
locality, and multimodal Arrow plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hive_export_spark.operators import dedup, multimodal, similarity, text
from hive_export_spark.sources import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, "documents", sf_dir).cache()


def test_exact_dedup_no_dups_is_identity(spark, docs):
    out = dedup.exact_dedup(docs)
    assert out.count() == docs.count()  # fixture has no exact dups
    assert out.agg(F.max("n_copies")).collect()[0][0] == 1


def test_exact_dedup_collapses_planted_dups(spark):
    rows = [(1, "Hello  World"), (2, "hello world"), (3, "different text")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = dedup.exact_dedup(df).collect()
    by_keeper = {r.keeper_doc_id: r.n_copies for r in out}
    # normalization folds case + whitespace -> docs 1 and 2 are one group
    assert by_keeper == {1: 2, 3: 1}


def test_minhash_estimates_jaccard(spark, docs):
    # signature agreement rate estimates true jaccard within ~0.15 for the
    # planted near-dup pairs (64 hashes -> se ~ sqrt(j(1-j)/64) ~ 0.02)
    exact = dedup.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    assert len(exact) > 0
    sigs = dedup.minhash_signatures(docs).collect()
    sig_by_id = {r.doc_id: r.signature for r in sigs}
    for pair in exact[:10]:
        sa, sb = sig_by_id[pair.doc_a], sig_by_id[pair.doc_b]
        est = sum(x == y for x, y in zip(sa, sb)) / len(sa)
        assert abs(est - pair.jaccard) < 0.15
    # signatures must be 64 DISTINCT hash functions (regression: degenerate
    # seeds once made all 64 positions identical)
    any_sig = sigs[0].signature
    assert len(set(any_sig)) > 32


def test_minhash_lsh_matches_exact_on_planted_dups(spark, docs):
    exact = {
        (r.doc_a, r.doc_b) for r in dedup.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b) for r in dedup.minhash_lsh_pairs(docs, threshold=0.8).collect()
    }
    assert lsh == exact


def test_oph_minhash_matches_classic_and_exact(spark, docs):
    # one-permutation hashing (1 hash/shingle) with rotation densification
    # must recover the same verified pair set as classic 64-hash minhash
    exact = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    oph = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.8, oph=True).collect()
    }
    assert oph == exact
    # densified signatures are fixed-width with no empty (null) slots
    sigs = dedup.oph_minhash_signatures(docs).collect()
    assert all(len(r.signature) == 64 for r in sigs)
    assert all(v is not None for r in sigs for v in r.signature)


def test_embedding_near_dup_recall_and_precision(spark, sf_dir):
    # banded hyperplane-LSH pair generation + exact verify: precision is 1
    # by construction; recall vs the exact pair set must clear 0.9
    e = load_table(spark, "embeddings", sf_dir)
    got = similarity.embedding_near_dup_pairs(e, threshold=0.45).collect()
    assert all(r.cosine >= 0.45 for r in got)
    v = {r.vec_id: r.embedding for r in e.collect()}

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a) ** 0.5
        nb = sum(x * x for x in b) ** 0.5
        return num / (na * nb)

    ids = sorted(v)
    exact = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if cos(v[a], v[b]) >= 0.45
    }
    found = {(r.vec_a, r.vec_b) for r in got}
    assert found <= exact  # no false positives survive verification
    assert len(found) / max(len(exact), 1) >= 0.9


def test_simhash_locality(spark):
    base = "the quick brown fox jumps over the lazy dog " * 10
    perturbed = base.replace("lazy", "sleepy")
    unrelated = "completely different content about spark engines " * 10
    df = spark.createDataFrame(
        [(1, base), (2, perturbed), (3, unrelated)], ["doc_id", "text"]
    )
    fps = {r.doc_id: r.simhash for r in dedup.simhash_fingerprints(df).collect()}

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(fps[1], fps[2]) < hamming(fps[1], fps[3])
    assert hamming(fps[1], fps[2]) <= 4


def test_brute_force_topk_self_is_nearest(spark, sf_dir):
    e = load_table(spark, "embeddings", sf_dir)
    queries = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.brute_force_topk(e, queries, k=1).collect()
    for r in out:
        assert r.neighbor_id == r.query_id  # cosine(v, v) = 1
        assert r.cosine == pytest.approx(1.0)


def test_langid_marker_sentences(spark):
    rows = [
        (1, "the cat is in the house and it is warm"),
        (2, "der hund ist nicht in das haus und die katze"),
        (3, "le chat est dans la maison et les chiens"),
        (4, "el perro es grande y los gatos son pequenos"),
        (5, "xyzzy plugh quux"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r.lang_pred for r in text.language_id(df).collect()}
    assert out == {1: "en", 2: "de", 3: "fr", 4: "es", 5: "und"}


def test_quality_score_separates_garbage(spark):
    rows = [
        (1, "This is a well formed sentence with normal words and the usual structure."),
        (2, "!!!! ???? ;;;; @@@@ #### $$$$ %%%% ^^^^ &&&& ****"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r.quality_score for r in text.quality_score(df).collect()}
    assert out[1] > out[2]


def test_multimodal_batch_shapes_and_fallback(spark, docs):
    media = multimodal.documents_as_media(docs)
    assert [f.name for f in media.schema.fields] == [
        "media_id", "media_type", "payload", "meta_source", "meta_lang",
    ]
    assert media.schema["payload"].dataType.simpleString() == "binary"
    # raw UTF-8 payloads are not a recognized container: every row takes
    # the deterministic pseudo-feature fallback, tagged format='raw'
    feats = multimodal.extract_media_features(media)
    n = feats.count()
    assert n == docs.count()
    img = feats.filter(F.col("media_type") == "image").limit(1).collect()[0]
    assert img.format == "raw" and img.n_frames == 1 and 64 <= img.width < 576


def test_media_header_parsers_roundtrip():
    assert multimodal.parse_media_header(
        multimodal.png_bytes(640, 480, b"body")
    ) == ("png", 640, 480, 1)
    assert multimodal.parse_media_header(multimodal.wav_bytes(750)) == (
        "wav", 0, 0, 750,
    )
    assert multimodal.parse_media_header(multimodal.mjpeg_bytes(320, 240, 9)) == (
        "mjpeg", 320, 240, 9,
    )
    assert multimodal.parse_media_header(multimodal.mjpeg_bytes(320, 240, 1)) == (
        "jpeg", 320, 240, 1,
    )
    # corrupt PNG CRC is rejected, not misparsed
    bad = bytearray(multimodal.png_bytes(640, 480))
    bad[20] ^= 0xFF
    assert multimodal.parse_media_header(bytes(bad)) is None
    assert multimodal.parse_media_header(b"plain text payload") is None


def test_real_media_decode_end_to_end(spark, docs):
    media = multimodal.documents_as_real_media(docs)
    feats = multimodal.extract_media_features(media).cache()
    try:
        assert feats.filter(F.col("format") == "raw").count() == 0
        img = feats.filter(F.col("media_type") == "image").limit(1).collect()[0]
        assert img.format == "png" and 64 <= img.width < 576
        wav = feats.filter(F.col("media_type") == "audio").limit(1).collect()[0]
        assert wav.format == "wav" and wav.width == 0
        vid = feats.filter(F.col("media_type") == "video").limit(1).collect()[0]
        assert vid.format in ("jpeg", "mjpeg") and (vid.width, vid.height) == (
            320, 240,
        )
    finally:
        feats.unpersist()


def test_metadata_query_prunes_payload_column(spark, docs, tmp_path):
    # media payloads dominate storage: a metadata-only query must not read
    # the binary column (parquet column pruning)
    media = multimodal.documents_as_media(docs)
    path = str(tmp_path / "media")
    media.write.mode("overwrite").parquet(path)
    meta_only = spark.read.parquet(path).groupBy("media_type").count()
    plan = meta_only._jdf.queryExecution().executedPlan().toString()
    assert "payload" not in plan  # pruned from ReadSchema


def test_sampling_deterministic_and_bounded(spark, sf_dir, docs):
    # raw sample properties: same seed -> identical sample; fraction within
    # loose Bernoulli bounds; stratified rates ordered by their fractions
    n_total = docs.count()
    s1 = docs.sample(fraction=0.2, seed=42).select("doc_id").collect()
    s2 = docs.sample(fraction=0.2, seed=42).select("doc_id").collect()
    assert {r.doc_id for r in s1} == {r.doc_id for r in s2}
    assert 0.1 * n_total < len(s1) < 0.3 * n_total

    fractions = {"en": 0.5, "de": 0.3, "fr": 0.3, "es": 0.3, "zh": 0.1}
    strat = docs.sampleBy("lang", fractions, seed=42).collect()
    by_lang = {}
    for r in strat:
        by_lang[r.lang] = by_lang.get(r.lang, 0) + 1
    totals = {
        r.lang: r.n
        for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    # en sampled ~5x the zh rate (0.5 vs 0.1)
    en_rate = by_lang.get("en", 0) / totals["en"]
    zh_rate = by_lang.get("zh", 0) / totals["zh"]
    assert en_rate > zh_rate
    assert 0.3 < en_rate < 0.7

    # the registered oracle-able formulations report all-ok booleans
    from hive_export_spark.queries.llm_queries import (
        llm_sample_fraction,
        llm_sample_stratified,
    )

    frac_row = llm_sample_fraction(spark, sf_dir).collect()
    assert len(frac_row) == 1 and frac_row[0].frac_ok
    strat_rows = llm_sample_stratified(spark, sf_dir).collect()
    assert strat_rows and all(r.prop_ok for r in strat_rows)


def test_connected_components_collapses_chains(spark):
    # A-B, B-C chain plus an isolated pair: components = {A,B,C} and {X,Y},
    # each labeled by its minimum member
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11)], ["doc_a", "doc_b"]
    )
    comp = {
        r.node: r.cluster_id
        for r in dedup.connected_components(pairs).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_connected_components_empty_pairs(spark):
    pairs = spark.createDataFrame([], "doc_a LONG, doc_b LONG")
    assert dedup.connected_components(pairs).count() == 0


def test_ngram_overlap_is_asymmetric_and_counts_corpus_side(spark):
    corpus = spark.createDataFrame(
        [
            (10, "one two three four five six"),   # shares 5-grams
            (11, "alpha beta gamma delta epsilon zeta"),  # no overlap
        ],
        ["doc_id", "text"],
    )
    probes = spark.createDataFrame(
        [(1, "one two three four five")], ["doc_id", "text"]
    )
    hits = {r.doc_id: r.n_shared_ngrams
            for r in dedup.ngram_overlap(corpus, probes, n=5).collect()}
    # doc 10 contains exactly one probe 5-gram; doc 11 none (absent)
    assert hits == {10: 1}


def test_repetition_stats_flags_loops(spark):
    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),          # degenerate loop
            (2, "all words here are distinct"),  # clean
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in text.repetition_stats(df).collect()}
    assert rows[1].distinct_word_ratio == 0.25
    assert rows[1].top_word_ratio == 1.0
    assert rows[1].dup_bigram_ratio > 0.5
    assert rows[2].distinct_word_ratio == 1.0
    assert rows[2].dup_bigram_ratio == 0.0


def test_kmeans_fit_converges_and_sse_monotone(spark, sf_dir):
    from hive_export_spark.operators.kmeans import kmeans_fit

    emb = load_table(spark, "embeddings", sf_dir)
    n = emb.count()
    res = kmeans_fit(emb, k=4, max_iter=8)
    # SSE never increases across Lloyd iterations (exact-arithmetic
    # invariant; float slack of 1e-9 relative)
    for a, b in zip(res.sse_history, res.sse_history[1:]):
        assert b <= a * (1 + 1e-9), res.sse_history
    # every vector assigned exactly once, to a live cluster
    assert res.assignment.count() == n
    cents = {r.cluster_id for r in res.centroids.collect()}
    assigned = {
        r.cluster_id
        for r in res.assignment.select("cluster_id").distinct().collect()
    }
    assert assigned <= cents and len(cents) <= 4
    assert res.iterations <= 8


def test_kmeans_assignment_is_deterministic(spark, sf_dir):
    from hive_export_spark.operators.kmeans import assign_clusters

    emb = load_table(spark, "embeddings", sf_dir)
    cents = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cluster_id"),
        F.col("embedding").alias("centroid"),
    )
    a1 = {(r.vec_id, r.cluster_id) for r in assign_clusters(emb, cents).collect()}
    a2 = {(r.vec_id, r.cluster_id) for r in assign_clusters(emb, cents).collect()}
    assert a1 == a2 and len(a1) == emb.count()


def test_incremental_dedup_equals_batch_restricted(spark, sf_dir):
    """Incremental pairs (store + new) must equal the batch LSH pairs
    restricted to pairs involving a new doc — store persistence and the
    probe-side-only join change the COST, never the answer."""
    from pyspark.sql import functions as F

    from hive_export_spark.operators import dedup
    from hive_export_spark.sources import load_table

    d = load_table(spark, "documents", sf_dir)
    split = 250
    old = d.filter(F.col("doc_id") < split)
    new = d.filter(F.col("doc_id") >= split)
    stored = dedup.minhash_signatures(old, "text", "doc_id", 64)
    got = sorted(
        (r.doc_a, r.doc_b)
        for r in dedup.incremental_minhash_pairs(
            stored, new, d, threshold=0.8
        ).collect()
    )
    batch = sorted(
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_pairs(d, threshold=0.8).collect()
        if r.doc_b >= split
    )
    assert got == batch
    assert all(b >= split for _a, b in got)  # every pair involves a new doc


def test_banded_store_incremental_equals_sig_store(spark, sf_dir, tmp_path):
    """The bucket-partitioned banded store changes STORAGE layout and
    pruning, never the answer: pairs must equal both the signature-store
    incremental path and the batch answer restricted to new docs."""
    from pyspark.sql import functions as F

    from hive_export_spark.operators import dedup
    from hive_export_spark.sources import load_table

    d = load_table(spark, "documents", sf_dir)
    split = 250
    old = d.filter(F.col("doc_id") < split)
    new = d.filter(F.col("doc_id") >= split)
    stored = dedup.minhash_signatures(old, "text", "doc_id", 64)
    store_path = str(tmp_path / "banded_store")
    dedup.persist_banded_store(stored, store_path)

    got = sorted(
        (r.doc_a, r.doc_b)
        for r in dedup.incremental_pairs_against_banded_store(
            spark, store_path, new, d, threshold=0.8
        ).collect()
    )
    sig_path = sorted(
        (r.doc_a, r.doc_b)
        for r in dedup.incremental_minhash_pairs(
            stored, new, d, threshold=0.8
        ).collect()
    )
    assert got == sig_path
    assert got  # the fixture contains cross-split near-dups


def test_banded_store_scan_is_partition_pruned(spark, sf_dir, tmp_path):
    """The point of the layout: the store FileScan must carry a
    PartitionFilters entry on bucket_part (directory pruning), not a row
    filter over a full scan."""
    import re

    from pyspark.sql import functions as F

    from hive_export_spark.operators import dedup
    from hive_export_spark.plans import audit
    from hive_export_spark.sources import load_table

    d = load_table(spark, "documents", sf_dir)
    stored = dedup.minhash_signatures(
        d.filter(F.col("doc_id") < 400), "text", "doc_id", 64
    )
    store_path = str(tmp_path / "banded_store")
    dedup.persist_banded_store(stored, store_path)
    # one-doc increment: 16 bands -> at most 16 of 64 partitions touched
    one = d.filter(F.col("doc_id") == 450)
    df = dedup.incremental_pairs_against_banded_store(
        spark, store_path, one, d, threshold=0.0
    )
    plan = audit.executed_plan(df)
    m = re.search(r"PartitionFilters: \[([^\]]*bucket_part[^\]]*)\]", plan)
    assert m, plan[:2000]


def test_kmeans_parallel_init_deterministic_and_effective(spark):
    """k-means||-style init (the large-k scale path): deterministic
    across runs, seeds <= k centroids, and its Lloyd fit converges with
    SSE no worse than ~the hash-sample init's on the same corpus (the
    distance-weighted oversampling should spread seeds at least as well
    as a uniform draw)."""
    from hive_export_spark.operators.kmeans import kmeans_fit
    from hive_export_spark.sources import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.01")
    a = kmeans_fit(emb, k=8, max_iter=4, init="parallel")
    b = kmeans_fit(emb, k=8, max_iter=4, init="parallel")
    rows_a = sorted(
        (r["cluster_id"], tuple(r["centroid"]))
        for r in a.centroids.collect()
    )
    rows_b = sorted(
        (r["cluster_id"], tuple(r["centroid"]))
        for r in b.centroids.collect()
    )
    assert rows_a == rows_b  # no RNG state anywhere
    assert 1 <= len(rows_a) <= 8
    h = kmeans_fit(emb, k=8, max_iter=4, init="hash")
    # same corpus, same k: the weighted init should not be materially
    # worse (allow 25% slack — different seeds converge differently)
    assert a.sse_history[-1] <= h.sse_history[-1] * 1.25


def test_derive_n_centroids_scaling_rule():
    from hive_export_spark.operators.ivf import derive_n_centroids

    assert derive_n_centroids(0) == 1
    assert derive_n_centroids(1) == 1
    assert derive_n_centroids(50) == 6        # capped at n//8
    assert derive_n_centroids(500) == 22      # sqrt regime
    assert derive_n_centroids(5_000) == 71
    assert derive_n_centroids(1_000_000_000) == 31_623
    # monotone non-decreasing over decades
    vals = [derive_n_centroids(10**d) for d in range(1, 10)]
    assert vals == sorted(vals)

"""Round-9 gates: the five r8 driver advisories, pinned.

1. _recall_ok's achievable-count cap must be a PROVEN no-op on graded
   fixtures (every query has >= min_hits exact neighbors), and the
   n_exact==0 case is explicit — the gate cannot be vacuously satisfied
   by an ANN path that silently returns nothing (advisory #1).
2. ivf_centroid_topk's empty result derives neighbor_id's type from
   the INDEX side, keeping both code paths schema-identical even when
   query and corpus id types differ (advisory #2).
3. agg_approx_count_distinct / agg_hll_sketch_union booleans are
   two-state: coalesce(False) kills the exact=0/estimate!=0 NULL
   (advisory #3).
4. (advisory #4 is a test hygiene fix in test_round8_ops.py itself —
   tmp_path instead of a shared /tmp scratch dir.)
5. A banded store whose on-disk layout drifted from the expected banded
   frame raises loudly instead of NULL-filling missing columns and
   silently dropping candidate pairs (advisory #5).
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from hive_export_spark.operators import dedup, ivf, similarity
from hive_export_spark.queries.llm_queries import _recall_ok


# --- advisory #1: recall gate ---------------------------------------------

# max min_hits used by any registered llm_sim_* query (5, 5, 7)
_MAX_MIN_HITS = 7


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
def test_clean_fixture_exact_neighbors_exceed_min_hits(spark, sf_dir):
    """On every graded fixture, each ANN query's exact top-10 has at
    least min_hits members — so the achievable-count cap in _recall_ok is
    provably a no-op there and the recall bar is the REAL min_hits."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.brute_force_topk(e, queries, k=10)
    counts = {
        r["query_id"]: r["n"]
        for r in exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert len(counts) == 5
    assert min(counts.values()) >= _MAX_MIN_HITS, counts


def test_recall_gate_zero_exact_is_explicit_and_nonzero_exact_bites(spark):
    """n_exact==0 reads TRUE by the explicit clause; but the moment a
    query HAS exact neighbors, an empty ANN result must read FALSE —
    the regression the advisory worried about."""
    queries = spark.createDataFrame([(1,), (2,)], "query_id long")
    # query 1 has 3 exact neighbors; query 2 has none (the gate filters
    # NULL-cosine rows, so exact frames carry the cosine column)
    exact = spark.createDataFrame(
        [(1, 10, 0.9), (1, 11, 0.8), (1, 12, 0.7)],
        "query_id long, neighbor_id long, cosine double",
    )
    ann_empty = spark.createDataFrame([], "query_id long, neighbor_id long")
    rows = {
        r["query_id"]: r["recall_ok"]
        for r in _recall_ok(ann_empty, exact, queries, min_hits=5).collect()
    }
    assert rows == {1: False, 2: True}
    # and a partial ANN hit below the capped bar also reads FALSE
    ann_partial = spark.createDataFrame(
        [(1, 10)], "query_id long, neighbor_id long"
    )
    rows = {
        r["query_id"]: r["recall_ok"]
        for r in _recall_ok(ann_partial, exact, queries, min_hits=5).collect()
    }
    assert rows == {1: False, 2: True}
    # at the capped bar (3 of least(5, 3)) it reads TRUE
    ann_full = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12)], "query_id long, neighbor_id long"
    )
    rows = {
        r["query_id"]: r["recall_ok"]
        for r in _recall_ok(ann_full, exact, queries, min_hits=5).collect()
    }
    assert rows == {1: True, 2: True}


# --- advisory #2: ivf empty-query schema ----------------------------------


def test_ivf_empty_query_schema_comes_from_index_side(spark, tmp_path):
    """Corpus ids are LONG; a (mis-typed) INT query id column must not
    leak into neighbor_id on the empty path — both paths type neighbor_id
    from the index."""
    corpus = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(i), 1.0, 0.0, 0.0]) for i in range(20)]
    )
    path = str(tmp_path / "ivf_index")
    ivf.build_ivf_centroid_index(corpus, path, n_centroids=4)

    int_queries = spark.createDataFrame(
        [], "query_id int, embedding array<double>"
    )
    empty = ivf.ivf_centroid_topk(spark, path, int_queries, k=3, nprobe=2)
    assert empty.count() == 0
    assert empty.schema["neighbor_id"].dataType.simpleString() == "bigint"
    assert empty.schema["query_id"].dataType.simpleString() == "int"

    # non-empty path agrees on the neighbor_id type
    long_queries = spark.createDataFrame(
        [Row(query_id=0, embedding=[1.0, 1.0, 0.0, 0.0])]
    )
    got = ivf.ivf_centroid_topk(spark, path, long_queries, k=3, nprobe=2)
    assert got.schema["neighbor_id"].dataType.simpleString() == "bigint"
    assert got.count() > 0


def test_ivf_empty_query_missing_index_falls_back(spark, tmp_path):
    """No store on disk at all (never built): the empty path still
    returns the stable schema, typed from the only witness left — the
    query id column."""
    q = spark.createDataFrame([], "query_id long, embedding array<double>")
    empty = ivf.ivf_centroid_topk(
        spark, str(tmp_path / "never_built"), q, k=3, nprobe=2
    )
    assert empty.count() == 0
    assert empty.schema["neighbor_id"].dataType.simpleString() == "bigint"


# --- advisory #3: two-state sketch booleans -------------------------------


def test_approx_ok_is_never_null(spark, tmp_path):
    """The all-NULL-key group exercises the try_divide NULL leg on both
    rel-err gates; the coalesce(False) guard means the output boolean is
    two-state everywhere."""
    import hive_export_spark.queries.stats_queries  # noqa: F401  (register)
    from hive_export_spark.registry import get

    spark.createDataFrame(
        [(1, 10, "O"), (2, 20, "F"), (3, None, "Z")],
        "o_orderkey long, o_custkey long, o_orderstatus string",
    ).write.parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        [(1, 100, "N"), (2, None, "R")],
        "l_orderkey long, l_partkey long, l_returnflag string",
    ).write.parquet(str(tmp_path / "lineitem.parquet"))

    acd = get("agg_approx_count_distinct").fn(spark, str(tmp_path)).collect()
    assert all(r["approx_ok"] is not None for r in acd)
    assert {r["o_orderstatus"]: r["approx_ok"] for r in acd} == {
        "O": True, "F": True, "Z": True,
    }
    hll = get("agg_hll_sketch_union").fn(spark, str(tmp_path)).collect()
    assert all(r["sketch_ok"] is not None for r in hll)
    assert {r["l_returnflag"]: r["sketch_ok"] for r in hll} == {
        "N": True, "R": True,
    }


# --- advisory #5: banded-store layout drift -------------------------------


def test_banded_store_layout_drift_raises(spark, tmp_path):
    docs = spark.createDataFrame(
        [(i, f"some document text number {i} with shared words") for i in range(8)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "banded_store")
    # a store written under an OLDER layout: id column named differently
    sigs = dedup.minhash_signatures(docs, "text", "doc_id", 16)
    (
        dedup.banded_buckets(sigs, "doc_id", 16, 4)
        .withColumnRenamed("doc_id", "document_id")
        .withColumn("bucket_part", F.pmod(F.col("bucket"), F.lit(8)))
        .write.partitionBy("bucket_part")
        .parquet(path)
    )
    with pytest.raises(ValueError, match="column layout"):
        dedup.incremental_pairs_against_banded_store(
            spark,
            path,
            new_docs=docs.limit(2),
            all_docs=docs,
            num_hashes=16,
            bands=4,
            bucket_parts=8,
        ).collect()


def test_banded_store_type_drift_raises(spark, tmp_path):
    """Same column NAMES but a drifted column TYPE (doc_id written int
    where the probe expects long) must also raise the loud ValueError —
    not defer to an opaque runtime parquet error in the explicit-schema
    read (r9 driver advisory #1)."""
    docs = spark.createDataFrame(
        [(i, f"some document text number {i} with shared words") for i in range(8)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "banded_store")
    sigs = dedup.minhash_signatures(docs, "text", "doc_id", 16)
    (
        dedup.banded_buckets(sigs, "doc_id", 16, 4)
        .withColumn("doc_id", F.col("doc_id").cast("int"))
        .withColumn("bucket_part", F.pmod(F.col("bucket"), F.lit(8)))
        .write.partitionBy("bucket_part")
        .parquet(path)
    )
    with pytest.raises(ValueError, match="column layout"):
        dedup.incremental_pairs_against_banded_store(
            spark,
            path,
            new_docs=docs.limit(2),
            all_docs=docs,
            num_hashes=16,
            bands=4,
            bucket_parts=8,
        ).collect()


def test_banded_store_matching_layout_still_probes(spark, tmp_path):
    """The drift guard must not break the healthy path (including the
    day-zero store, which has no footers to check)."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta theta"),
            (3, "completely different words everywhere here now ok"),
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "banded_store")
    sigs = dedup.minhash_signatures(docs.filter("doc_id < 3"), "text", "doc_id", 16)
    dedup.persist_banded_store(sigs, path, num_hashes=16, bands=4, bucket_parts=8)
    pairs = dedup.incremental_pairs_against_banded_store(
        spark,
        path,
        new_docs=docs.filter("doc_id = 3"),
        all_docs=docs,
        num_hashes=16,
        bands=4,
        threshold=0.8,
        bucket_parts=8,
    )
    assert pairs.count() == 0  # doc 3 is nothing like 1/2

    # day-zero store: persist from an empty corpus, probe still works
    empty_path = str(tmp_path / "empty_store")
    empty_sigs = dedup.minhash_signatures(
        docs.filter("doc_id < 0"), "text", "doc_id", 16
    )
    dedup.persist_banded_store(
        empty_sigs, empty_path, num_hashes=16, bands=4, bucket_parts=8
    )
    pairs = dedup.incremental_pairs_against_banded_store(
        spark,
        empty_path,
        new_docs=docs.filter("doc_id <= 2"),
        all_docs=docs,
        num_hashes=16,
        bands=4,
        threshold=0.8,
        bucket_parts=8,
    )
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    assert got == {(1, 2)}  # increment self-pairs still found


# --- r8 verdict ask #3: fixture-relative incremental split ----------------


def test_incr_split_tracks_fixture_scale(spark):
    from hive_export_spark.queries.llm_queries import _incr_split

    d500 = spark.range(500).withColumnRenamed("id", "doc_id")
    assert _incr_split(d500) == 400  # bit-identical to the old constant
    d5000 = spark.range(5000).withColumnRenamed("id", "doc_id")
    assert _incr_split(d5000) == 4000  # scaled fixture keeps the 80/20 shape
    # offset / sparse id domains: split by RANGE, deterministic
    d_off = spark.range(1000, 1500).withColumnRenamed("id", "doc_id")
    assert _incr_split(d_off) == 1400
    # day-zero / day-one degenerate corpora
    empty = spark.createDataFrame([], "doc_id long")
    assert _incr_split(empty) == 0
    one = spark.createDataFrame([(7,)], "doc_id long")
    assert _incr_split(one) == 7  # the single doc lands on the increment side


def test_incr_split_matches_oracle_sql(spark):
    """The Spark-side arithmetic and the oracle's SQL subquery must agree
    on every fixture shape — they are the same split by construction."""
    import duckdb

    from hive_export_spark.queries.llm_queries import (
        _INCR_FRACTION_SQL,
        _incr_split,
    )

    for ids in ([*range(500)], [*range(1000, 1500)], [3], [], [0, 7, 9999]):
        con = duckdb.connect()
        con.execute("CREATE TABLE documents(doc_id BIGINT)")
        if ids:
            con.executemany(
                "INSERT INTO documents VALUES (?)", [(i,) for i in ids]
            )
        duck = con.execute(f"SELECT {_INCR_FRACTION_SQL}").fetchone()[0]
        con.close()
        d = spark.createDataFrame([(i,) for i in ids] or [], "doc_id long")
        assert _incr_split(d) == duck, ids


# --- r8 verdict ask #4: FS-agnostic store gates ----------------------------


def test_fs_exists_handles_local_and_file_uris(spark, tmp_path):
    from hive_export_spark.sources.files import fs_exists

    marker = tmp_path / "_SUCCESS"
    marker.write_text("")
    assert fs_exists(spark, str(marker))
    assert fs_exists(spark, f"file:{marker}")
    assert fs_exists(spark, f"file://{marker}")
    assert not fs_exists(spark, str(tmp_path / "nope"))
    assert not fs_exists(spark, f"file:{tmp_path}/nope")
    # directory paths answer too (the store gates check <store>/_SUCCESS)
    assert fs_exists(spark, str(tmp_path))


# --- round-9 DQ rules: documents duplicate / NULL ids -----------------------


def test_dq_gate_fires_on_duplicate_and_null_doc_ids(spark, tmp_path):
    """At-least-once corpus ingest: a byte-identical duplicate doc_id row
    inflates exact-Jaccard past 1.0 (probed: j=1.4 for a true-0.75 pair,
    flipping it into the near-dup output), and NULL doc_ids are silently
    invisible to every id-keyed dedup join. Quarantine-first: both are
    caught by scale_dq_checks with matching counts on both engines."""
    import os
    import shutil

    import duckdb

    import hive_export_spark.queries.scale_queries  # noqa: F401  (register)
    from hive_export_spark.registry import get

    src = "/root/testdata/sf0.001"
    fx = str(tmp_path / "fx")
    os.makedirs(fx)
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        shutil.copy(f"{src}/{t}.parquet", f"{fx}/{t}.parquet")
    d = spark.read.parquet(f"{src}/documents.parquet")
    # duplicate doc 0 twice (2 extra physical rows) and add one NULL-id row
    corrupted = (
        d.unionByName(d.filter("doc_id = 0"))
        .unionByName(d.filter("doc_id = 0"))
        .unionByName(
            d.limit(1).select(
                *[
                    F.lit(None).cast(f.dataType).alias(f.name)
                    if f.name == "doc_id"
                    else F.col(f.name)
                    for f in d.schema.fields
                ]
            )
        )
    )
    corrupted.coalesce(1).write.mode("overwrite").parquet(
        f"{fx}/documents.parquet"
    )

    rq = get("scale_dq_checks")
    rows = {r["rule"]: (r["n_violations"], r["passed"]) for r in rq.fn(spark, fx).collect()}
    assert rows["documents_duplicate_pk"] == (2, False)
    assert rows["documents_null_id"] == (1, False)

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        # the corrupted documents table is a Spark-written DIRECTORY;
        # glob its part files for DuckDB
        p = f"{fx}/{t}.parquet"
        src_sql = f"'{p}/*.parquet'" if os.path.isdir(p) else f"'{p}'"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {src_sql}")
    oracle = {r[0]: (r[1], r[2]) for r in con.execute(rq.oracle).fetchall()}
    con.close()
    assert {k: rows[k] for k in oracle} == oracle  # rule-by-rule agreement


# --- round-9 day-one receipt: 4th-moment precision budget -------------------


def test_skew_kurtosis_singleton_matches_oracle(spark, tmp_path):
    """v=6.55 singleton: the 4th-power product must stay EXACT decimal
    (the old decimal(20,4)^2 overflowed Spark's 38-digit cap and
    silently re-typed to scale 6, so s4 rounded and the zero-variance
    kurtosis emitted engine-DIFFERENT garbage: Spark -4.95e21 vs DuckDB
    1.80e16). With the re-sized precisions both engines cast identical
    exact decimals to identical doubles — same skew AND same kurt,
    degenerate or not."""
    import duckdb

    import hive_export_spark.queries.stats_queries  # noqa: F401  (register)
    from hive_export_spark.registry import get

    spark.createDataFrame(
        [(1, "error", 6.55, 1_700_000_000_000_000_000)],
        "event_id long, event_type string, value double, ts long",
    ).write.parquet(str(tmp_path / "events.parquet"))

    rq = get("agg_skew_kurtosis")
    got = {
        r["event_type"]: (r["n"], r["skewness"], r["excess_kurtosis"])
        for r in rq.fn(spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"'{tmp_path}/events.parquet/*.parquet'"
    )
    want = {r[0]: (r[1], r[2], r[3]) for r in con.execute(rq.oracle).fetchall()}
    con.close()
    assert got == want
    # and s4 is exact: the shared answer is the pure float-cancellation
    # one (var = 7.105e-15 for v=6.55), not the scale-6-rounding one
    assert got["error"][0] == 1

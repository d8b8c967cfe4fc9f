"""ALL-NULL-PAYLOAD gate (round 9): coherent keys, every value column
NULL — the degenerate generation after day-zero, day-one, and
constant-series. The hostile fixture laces individual NULL-payload rows
into healthy tables; here there is no healthy row to hide behind, so
whole-table NULL groups reach every aggregate, every date/window filter
drops every row, and text/vector operators see a corpus that exists but
says nothing.

The round-9 sweep (tools/make_allnull_fixture.py + check_oracle) found
30 failures in 6 classes, all fixed and re-swept green across all six
fixture generations; class representatives pinned here:

1. NULL-text dedup pairing: xxhash64 of the NULL shingle is a non-NULL
   constant, so NULL-text docs all shared one MinHash signature and
   emerged as a j=1.0 clique while the SQL shingle algebra
   NULL-propagates — NULL text now drops at the signature scan
   (minhash / OPH / spark.ml paths).
2. NULL pseudo-group equi-joins: two-phase aggregations (HLL union, KLL
   merge, salted agg) joined their legs on the nullable group key and
   silently dropped the NULL group a GROUP BY keeps — now eqNullSafe.
3. Python-side NULL handling: pandas .astype(int64) RAISES on NaN
   (grouped-agg UDF), .encode on None crashed the binary-file writer,
   and the stateful processor emitted 0.0/-inf where SQL SUM/MAX of
   nothing is NULL.
4. Sketch gates over empty-of-values groups: approx_percentile /
   approx_top_k / KLL read vacuously-ok (both engines' aggregates skip
   NULLs) instead of NULL or False-by-absence.
5. Oracle-engine NULL conventions: DuckDB concat()/split_part skip or
   ''-ify NULLs where Spark NULL-propagates (pinned with || and CASE);
   DuckDB row equality NULL-propagates where Spark struct equality is
   member-null-safe (pinned IS NOT DISTINCT FROM); to_json needs
   ignoreNullFields false; DuckDB 1.0.0's parquet-read NULL lists crash
   list_cosine_similarity where CTAS NULL lists don't (oracle-side
   IS NOT NULL).
6. Structural NULL-time exclusions made explicit: streaming windows
   have no bucket for a NULL event time; incremental-rollup splits must
   be TOTAL over nullable time; nearest-value/skyline rows without
   measurements cannot rank or dominate.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from hive_export_spark.operators import dedup
from hive_export_spark.registry import get

SRC = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def allnull_dir(tmp_path_factory):
    from tools.make_allnull_fixture import build

    out = str(tmp_path_factory.mktemp("allnull") / "fx")
    build(SRC, out, k=4)
    return out


def _oracle(fx: str, sql: str):
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fx}/{t}.parquet'")
    rows = con.execute(sql).fetchall()
    con.close()
    return rows


def test_null_text_docs_form_no_dedup_clique(allnull_dir, spark):
    docs = spark.read.parquet(f"{allnull_dir}/documents.parquet")
    sigs = dedup.minhash_signatures(docs, "text", "doc_id", 16)
    assert sigs.count() == 0  # NULL text dropped at the signature scan
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.8)
    assert pairs.count() == 0
    # and a MIXED corpus keeps its real pairs while dropping NULL rows
    mixed = docs.select("doc_id").withColumn(
        "text",
        F.when(F.col("doc_id") < 2_000_000, F.lit("same words here twice over")),
    )
    got = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(mixed, threshold=0.8).collect()
    }
    assert got == {(0, 1_000_003)}


def test_null_group_survives_two_phase_aggs(allnull_dir, spark):
    for name in ("agg_hll_sketch_union", "agg_kll_quantile_merge",
                 "scale_salted_agg"):
        rq = get(name)
        srows = sorted(
            tuple(r) for r in rq.fn(spark, allnull_dir).collect()
        )
        drows = sorted(tuple(r) for r in _oracle(allnull_dir, rq.oracle))
        assert len(srows) == 1, name  # the NULL pseudo-group row
        assert srows == drows, name


def test_pandas_paths_survive_all_nan(allnull_dir, spark):
    rq = get("udf_grouped_agg_pandas")
    rows = rq.fn(spark, allnull_dir).collect()
    assert [(r["o_orderstatus"], r["total_price"]) for r in rows] == [
        (None, None)
    ]
    # one real user (the key stride offsets event_id only), four events,
    # zero values
    st = get("stream_stateful_totals").fn(spark, allnull_dir).collect()
    assert [(r["n_events"], r["total_value"], r["max_value"]) for r in st] == [
        (4, None, None)
    ]


def test_sketch_gates_vacuous_on_valueless_groups(allnull_dir, spark):
    q = get("agg_approx_quantile_sketch").fn(spark, allnull_dir).collect()
    assert [(r["p50_ok"], r["p99_ok"]) for r in q] == [(True, True)]
    tk = get("agg_approx_top_k").fn(spark, allnull_dir).collect()
    assert [(r["o_orderpriority"], r["topk_ok"]) for r in tk] == [(None, True)]


def test_structural_null_time_exclusions(allnull_dir, spark):
    assert get("stream_tumbling_window").fn(spark, allnull_dir).count() == 0
    assert get("pareto_skyline").fn(spark, allnull_dir).count() == 0
    assert get("join_nearest_value").fn(spark, allnull_dir).count() == 0


def test_generator_preserves_schema_and_keys(allnull_dir):
    import os

    import pyarrow.parquet as pq

    for t in ("orders", "lineitem", "events", "documents", "embeddings"):
        src = pq.read_schema(os.path.join(SRC, f"{t}.parquet"))
        out = pq.read_schema(os.path.join(allnull_dir, f"{t}.parquet"))
        assert src.equals(out), t
    con = duckdb.connect()
    keys, payload = con.execute(
        f"SELECT COUNT(DISTINCT o_orderkey), COUNT(o_totalprice) "
        f"FROM '{allnull_dir}/orders.parquet'"
    ).fetchone()
    con.close()
    assert keys == 4 and payload == 0

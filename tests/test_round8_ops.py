"""Round-8 gates.

1. Mixed-dimension corpus visibility (r7 verdict ask #5): a corpus that
   mixes embedding dimensions must not lose its minority rows SILENTLY —
   the DQ gate's embeddings_dim_mismatch rule fires on it with a
   matching count on both engines.
2. Shuffle-linearity standing gate (r7 verdict ask #6) lives in
   tests/test_shuffle_linearity.py (subprocess-isolated probe sessions).
"""

from __future__ import annotations

import os
import shutil

import duckdb
import pytest

@pytest.fixture()
def mixed_dim_sf_dir(spark, tmp_path, sf_dir):
    """A mini fixture dir: real lineitem/orders/customer, embeddings
    with 5 vectors truncated to 16 dims (a partial-write batch)."""
    out = str(tmp_path / "mixed_sf")
    os.makedirs(out)
    # documents joined the gate's inputs in round 9 (PK rules)
    for t in ("lineitem", "orders", "customer", "documents"):
        shutil.copy(
            os.path.join(sf_dir, f"{t}.parquet"),
            os.path.join(out, f"{t}.parquet"),
        )
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
          SELECT * REPLACE (
            CASE WHEN vec_id < 5 THEN embedding[1:16] ELSE embedding END
            AS embedding)
          FROM '{os.path.join(sf_dir, "embeddings.parquet")}'
        ) TO '{os.path.join(out, "embeddings.parquet")}' (FORMAT PARQUET)
        """
    )
    con.close()
    return out


def test_dq_gate_fires_on_mixed_dim_corpus(spark, mixed_dim_sf_dir):
    """scale_dq_checks' embeddings_dim_mismatch rule FIRES on a mixed-dim
    corpus, with the same count on Spark and the DuckDB oracle."""
    from hive_export_spark.registry import get

    rq = get("scale_dq_checks")
    rows = {r["rule"]: r for r in rq.fn(spark, mixed_dim_sf_dir).collect()}
    mismatch = rows["embeddings_dim_mismatch"]
    assert mismatch["n_violations"] == 5
    assert mismatch["passed"] is False

    con = duckdb.connect()
    for t in ("lineitem", "orders", "customer", "documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{os.path.join(mixed_dim_sf_dir, t)}.parquet'"
        )
    oracle = {
        r[0]: (r[1], r[2]) for r in con.execute(rq.oracle).fetchall()
    }
    con.close()
    assert oracle["embeddings_dim_mismatch"] == (5, False)
    # the two engines agree rule-by-rule on the whole gate
    spark_rules = {
        name: (r["n_violations"], r["passed"]) for name, r in rows.items()
    }
    assert spark_rules == oracle


def test_approx_distinct_survives_all_null_key_group(spark, tmp_path):
    """Round-8 static-sweep receipt: a group whose only rows carry a
    NULL key (the wave-7 guest-checkout class with a unique status)
    makes countDistinct 0 — the bare rel-err divide crashed ANSI Spark.
    The fix (try_divide + zero-as-zero vacuous ok) must return TRUE for
    that group, matching the oracle's literal."""
    import hive_export_spark.queries.stats_queries  # noqa: F401  (register)
    from hive_export_spark.registry import get

    o = spark.createDataFrame(
        [(1, 10, "O"), (2, 20, "F"), (3, None, "Z")],
        "o_orderkey long, o_custkey long, o_orderstatus string",
    )
    o.write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    rows = {
        r["o_orderstatus"]: (r["exact_cust"], r["approx_ok"])
        for r in get("agg_approx_count_distinct")
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert rows["Z"] == (0, True)
    assert rows["O"] == (1, True) and rows["F"] == (1, True)

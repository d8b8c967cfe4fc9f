"""CONSTANT-SERIES gate (round 9): n > 1 rows whose value columns are
all identical — the degenerate generation AFTER day-zero (0 rows) and
day-one (1 row). Real pipelines produce it (stuck sensor, defaulted
backfill, retry storm under fresh ids, single-SKU day one), and it
reaches code the earlier fixtures miss: the n-1 > 0 branch with an
exactly-zero variance, all-equal rank orderings, zero time spans,
zero-width histogram ranges, all-pairs-duplicate dedup.

The round-9 sweep (tools/make_constant_fixture.py + check_oracle) found
two real divergences and one fixture/query offset collision:

1. ANSI Spark's builtin ``corr`` RAISES DIVIDE_BY_ZERO on a constant
   series where DuckDB yields NULL (regr_slope / regr_intercept carry
   internal guards and already match) — fixed with the try_divide
   co-moment form in agg_corr_regression.
2. llm_sample_fraction's ±1 absolute band floor was statistically wrong
   at small n (at n=6, P(X=0) = 0.26 alone; the {1, 2} band failed ~36%
   of legitimate Bernoulli draws) — fixed with a 3-sigma + 1 binomial
   arm that is subsumed by the 0.1n arm at graded sizes.
3. cdc_upsert_current's synthesized insert offset (+10M) collided with
   the fixture's original 10M replica stride, making its derived batch
   carry one key twice — the duplicate-key guard CORRECTLY raised; the
   fixture stride moved to 1,000,003.
"""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from hive_export_spark.registry import get

SRC = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def constant_dir(tmp_path_factory):
    from tools.make_constant_fixture import build

    out = str(tmp_path_factory.mktemp("const") / "fx")
    build(SRC, out, k=6)
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


def test_fixture_shape(constant_dir, spark):
    o = spark.read.parquet(f"{constant_dir}/orders.parquet")
    assert o.count() == 6
    assert o.select("o_orderkey").distinct().count() == 6  # keys distinct
    assert o.select("o_totalprice").distinct().count() == 1  # values constant
    li = spark.read.parquet(f"{constant_dir}/lineitem.parquet")
    # referential coherence: every lineitem joins an order
    assert (
        li.join(o, li.l_orderkey == o.o_orderkey, "left_anti").count() == 0
    )
    ev = spark.read.parquet(f"{constant_dir}/events.parquet")
    # values stay constant everywhere; the BASE series keeps the zero
    # time span while the round-10 flatline extension adds bucket-spaced
    # constant series for each filtered event_type (see generator)
    assert ev.select("value").distinct().count() == 1
    base_type = ev.orderBy("event_id").first()["event_type"]
    base = ev.filter(
        (F.col("event_type") == base_type)
        & (F.col("event_id") < 1_000_003 * 6)
    )
    assert base.select("ts").distinct().count() == 1  # zero time span
    # every filtered type has both the burst (>= 6 rows at one ts) and
    # the 30-step flatline inside the timeseries spine window
    for typ in ("view", "purchase", "click", "error"):
        sub = ev.filter(F.col("event_type") == typ)
        assert sub.count() >= 36, typ
        assert (
            sub.filter(
                (F.col("ts") >= "2024-01-10") & (F.col("ts") < "2024-01-11")
            ).count()
            == 30
        ), typ


def test_corr_family_nulls_match_oracle(constant_dir, spark):
    """Constant q and p: corr/slope/intercept are NULL on BOTH engines
    (the builtin corr raised DIVIDE_BY_ZERO before the co-moment form)."""
    rq = get("agg_corr_regression")
    got = [
        (r["corr_qty_price"], r["slope_price_on_qty"],
         r["intercept_price_on_qty"], r["n_pairs"])
        for r in rq.fn(spark, constant_dir).collect()
    ]
    assert got == [(None, None, None, 6)]
    assert [tuple(r[1:]) for r in _oracle(constant_dir, rq.oracle)] == [
        (None, None, None, 6)
    ]


def test_corr_half_degenerate_shapes_match(spark, tmp_path):
    """Varying x / constant y: slope 0, intercept = the constant, corr
    NULL — identical on both engines (probed round 9)."""
    li = spark.createDataFrame(
        [(i, "N", float(i + 1), 5.0) for i in range(6)],
        "l_orderkey long, l_returnflag string, l_quantity double, "
        "l_extendedprice double",
    )
    li.write.parquet(str(tmp_path / "lineitem.parquet"))
    rq = get("agg_corr_regression")
    row = rq.fn(spark, str(tmp_path)).collect()[0]
    assert row["corr_qty_price"] is None
    assert row["slope_price_on_qty"] == 0.0
    assert row["intercept_price_on_qty"] == 5.0


def test_sample_fraction_band_honest_at_small_n(constant_dir, spark):
    rq = get("llm_sample_fraction")
    rows = rq.fn(spark, constant_dir).collect()
    assert rows[0]["n_total"] == 6
    assert rows[0]["frac_ok"] is True


def test_upsert_survives_constant_fixture(constant_dir, spark):
    """The replica stride must not manufacture duplicate-keyed change
    batches; on the fixed stride the merge is well-defined and matches
    the oracle algebra."""
    rq = get("cdc_upsert_current")
    got = {
        (r["o_orderkey"], r["o_orderstatus"])
        for r in rq.fn(spark, constant_dir).collect()
    }
    want = {(r[0], r[1]) for r in _oracle(constant_dir, rq.oracle)}
    assert got == want


def test_dedup_all_identical_docs(constant_dir, spark):
    """Six byte-identical docs under distinct ids: exact dedup keeps ONE
    canonical row; the near-dup pair set is the full 15-pair clique on
    both engines."""
    exact = get("llm_dedup_exact")
    rows = exact.fn(spark, constant_dir).collect()
    oracle = _oracle(constant_dir, exact.oracle)
    assert sorted(tuple(r) for r in rows) == sorted(tuple(r) for r in oracle)

    jac = get("llm_dedup_ngram_jaccard")
    pairs = jac.fn(spark, constant_dir).collect()
    assert len(pairs) == 15  # C(6,2): every pair is an exact near-dup
    assert all(r["jaccard"] == 1.0 for r in pairs)


@pytest.mark.parametrize(
    "name",
    [
        # the round-10 variance-cancellation class: exact decimal power
        # sums cast to DOUBLE can float-cancel a true-zero variance to a
        # TINY NEGATIVE under sqrt — DuckDB sqrt raises where Spark
        # yields NaN (caught live when the regenerated driver fixture
        # crashed agg_stats_moments' oracle). Every sqrt-over-variance
        # site now zero-clamps with a NULL-preserving CASE on both
        # engines, and exact-zero denominators NULL via try_divide / the
        # DuckDB /0 convention. The burst + flatline constant series the
        # round-10 generator extension adds reach each of these through
        # their event_type filters.
        "agg_stats_moments",
        "stats_zscore_outliers",
        "stats_welch_ttest",
        "stats_mann_whitney_u",
        "stats_gini_concentration",
    ],
)
def test_variance_cancellation_class_matches_oracle(
    constant_dir, spark, name
):
    import sys

    sys.path.insert(
        0,
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"),
    )
    from check_oracle import frame_fingerprint

    rq = get(name)
    sdf = rq.fn(spark, constant_dir)
    s = frame_fingerprint(sdf.columns, [tuple(r) for r in sdf.collect()])
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{constant_dir}/{t}.parquet'"
        )
    rel = con.sql(rq.oracle)
    d = frame_fingerprint(rel.columns, rel.fetchall())
    con.close()
    assert s == d


def test_generator_rejects_nothing_it_shouldnt(constant_dir):
    """Physical parquet types survive replication (TIMESTAMP(NANOS) in
    events.ts included) — schema drift here would invalidate the whole
    sweep."""
    import pyarrow.parquet as pq

    for t in ("orders", "lineitem", "events", "documents", "embeddings"):
        src = pq.read_schema(os.path.join(SRC, f"{t}.parquet"))
        out = pq.read_schema(os.path.join(constant_dir, f"{t}.parquet"))
        assert src.equals(out), t

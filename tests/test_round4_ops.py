"""Round-4 operator invariants the oracle gate can't see: PII patterns
on crafted edge strings, schema-evolution null pattern, bitmap bucket
boundaries, sketch-merge equivalence, incremental-rollup == full
recompute on a perturbed split."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from hive_export_spark.registry import get
from hive_export_spark.sources import load_table

EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE = r"[0-9]{3}-[0-9]{4}"


def test_pii_redaction_edge_strings(spark):
    rows = [
        Row(t="plain text, no pii at all"),
        Row(t="two mails a@b.co and long.name+tag@sub.domain.org here"),
        Row(t="phone 555-1234 inside 10.0.3.1 and not-a-phone 55-123"),
        Row(t="@ alone, trailing a@b. and 999-12345 overlong run"),
    ]
    df = spark.createDataFrame(rows)
    out = df.select(
        F.size(F.regexp_extract_all("t", F.lit(EMAIL), 0)).alias("e"),
        F.size(F.regexp_extract_all("t", F.lit(PHONE), 0)).alias("p"),
        F.regexp_replace("t", EMAIL, "<EMAIL>").alias("red"),
    ).collect()
    assert [r.e for r in out] == [0, 2, 0, 0]
    # 999-12345: java regex matches the first 8 chars (no anchors) — the
    # redactor is deliberately greedy-safe, count reflects that
    assert [r.p for r in out] == [0, 0, 1, 1]
    assert out[0].red == rows[0].t  # no-PII rows pass through byte-identical
    assert "<EMAIL>" in out[1].red and "@" not in out[1].red


def test_intradoc_dedup_preserves_first_occurrence(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="b a b c a a d")])
    out = (
        df.select(
            F.array_join(F.array_distinct(F.split("text", " ")), " ").alias("d")
        )
        .collect()[0]
        .d
    )
    assert out == "b a c d"


def test_schema_evolution_null_pattern(spark, sf_dir):
    out = get("fmt_schema_evolution").fn(spark, sf_dir)
    rows = out.collect()
    assert rows
    for r in rows:
        if r.o_orderkey % 2 == 1:
            assert r.priority is None  # generation-1 files null-filled
        else:
            assert r.priority is not None


def test_bitmap_bucket_boundaries(spark):
    # values straddling the 32768-wide bucket boundary plus 0 must all
    # survive the per-bucket construct/merge/sum pipeline exactly
    vals = [0, 1, 2, 32768, 32769, 65536, 1, 32768]
    df = spark.createDataFrame([Row(v=v) for v in vals])
    got = (
        df.withColumn("b", F.expr("bitmap_bucket_number(v)"))
        .groupBy("b")
        .agg(F.expr("bitmap_count(bitmap_construct_agg(bitmap_bit_position(v)))").alias("c"))
        .agg(F.sum("c").alias("n"))
        .collect()[0]
        .n
    )
    assert got == len(set(vals))


def test_hll_union_matches_single_sketch(spark, sf_dir):
    li = load_table(spark, "lineitem", sf_dir)
    single = li.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("l_partkey")).alias("e")
    ).collect()[0].e
    halves = (
        li.withColumn("h", (F.col("l_orderkey") % 2).cast("int"))
        .groupBy("h")
        .agg(F.hll_sketch_agg("l_partkey").alias("sk"))
    )
    merged = halves.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("e")
    ).collect()[0].e
    # same lgConfigK: the union of disjoint-row partials must equal the
    # single-pass sketch estimate exactly (same register state)
    assert merged == single


def test_incremental_rollup_split_invariance(spark, sf_dir):
    # the merged result must not depend on where the delta split lands
    out = {}
    for split in ("2024-01-10 00:00:00", "2024-01-24 00:00:00"):
        ev = load_table(spark, "events", sf_dir)
        hour = (
            F.floor(F.unix_timestamp("ts") / 3600).cast("long") * 3600
        ).alias("hour_epoch")

        def partial(df):
            return df.groupBy("event_type", hour).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(12,2)")).alias("s"),
            )

        lo = partial(ev.filter(F.col("ts") < F.lit(split).cast("timestamp")))
        hi = partial(ev.filter(F.col("ts") >= F.lit(split).cast("timestamp")))
        merged = (
            lo.unionByName(hi)
            .groupBy("event_type", "hour_epoch")
            .agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
        )
        out[split] = {
            (r.event_type, r.hour_epoch): (r.n, str(r.s)) for r in merged.collect()
        }
    a, b = out.values()
    assert a == b


def test_stateful_totals_multibatch_exactness(spark, sf_dir):
    # the driver-gated query reads the whole dir in one availableNow run;
    # pin that the cents trick holds: cents are integral for every row
    ev = load_table(spark, "events", sf_dir)
    bad = ev.filter(
        F.col("value").cast("decimal(12,2)") != F.col("value")
    ).count()
    assert bad == 0


def test_dpp_scan_uses_runtime_pruning(spark, sf_dir):
    df = get("scale_dpp_scan").fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the fact scan must be pruned by a RUNTIME subquery, not a static IN
    assert "dynamicpruningexpression" in plan
    fact_lines = [l for l in plan.splitlines() if "dpp_fact" in l]
    assert any("dynamicpruning" in l for l in fact_lines)


# ---- round-5 operator invariants ----------------------------------------


def test_global_shuffle_is_permutation(spark):
    """llm_global_shuffle's two-phase rank must be a bijection onto
    1..n — the exact property a single-partition ROW_NUMBER gives, held
    by the distributed form."""
    from hive_export_spark.queries.llm_queries import llm_global_shuffle

    out = llm_global_shuffle(spark, "/root/testdata/sf0.001")
    rows = out.collect()
    n = len(rows)
    assert sorted(r.pos for r in rows) == list(range(1, n + 1))
    assert len({r.doc_id for r in rows}) == n


def test_split_fractions_and_stability(spark):
    """The hash split is exhaustive, disjoint by construction, and lands
    within loose binomial bounds of 75/12.5/12.5; re-running yields the
    identical assignment (pure function of doc_id)."""
    from hive_export_spark.queries.llm_queries import llm_split_train_val_test

    a = {r.doc_id: r.split for r in
         llm_split_train_val_test(spark, "/root/testdata/sf0.001").collect()}
    b = {r.doc_id: r.split for r in
         llm_split_train_val_test(spark, "/root/testdata/sf0.001").collect()}
    assert a == b
    n = len(a)
    from collections import Counter

    c = Counter(a.values())
    assert set(c) <= {"train", "val", "test"}
    assert abs(c["train"] - 0.75 * n) <= 5 * (0.75 * 0.25 * n) ** 0.5 + 3
    assert abs(c["val"] - 0.125 * n) <= 5 * (0.125 * 0.875 * n) ** 0.5 + 3


def test_dq_checks_detect_injected_violations(spark):
    """The DQ rule shapes actually fire: an injected bad batch (out-of-
    range quantity, negative price, orphan FK, duplicate PK) flips the
    corresponding rules to failed — the suite is not vacuously green."""
    li = spark.createDataFrame(
        [(1, 10.0, 100.0), (2, 99.0, -5.0), (3, 5.0, 50.0)],
        "l_orderkey long, l_quantity double, l_extendedprice double",
    )
    o = spark.createDataFrame(
        [(1,), (1,), (2,)], "o_orderkey long"
    )
    range_bad = li.filter(
        (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)
    ).count()
    neg_bad = li.filter(F.col("l_extendedprice") < 0).count()
    orphans = li.join(
        o, li.l_orderkey == o.o_orderkey, "left_anti"
    ).count()
    dup = (
        o.groupBy("o_orderkey").count().filter(F.col("count") > 1).count()
    )
    assert (range_bad, neg_bad, orphans, dup) == (1, 1, 1, 1)

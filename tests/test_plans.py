"""Physical-plan regression tests: pin the plan shapes that matter at
scale (pushdown, pruning, broadcast, codegen). A silently degraded plan
should fail here, not in a cluster bill."""

from __future__ import annotations

from pyspark.sql import functions as F

from hive_export_spark.plans import audit
from hive_export_spark.plans import (
    executed_plan,
    has_broadcast_hash_join,
    has_pushed_filters,
    read_schema_columns,
    wholestage_codegen_spans,
)
from hive_export_spark.queries.relational_queries import (
    join_broadcast_dim,
    q1_pricing_summary,
    q5_local_supplier_volume,
)
from hive_export_spark.sources import load_table


def test_q1_filter_pushed_to_scan(spark, sf_dir):
    df = q1_pricing_summary(spark, sf_dir)
    # the shipdate predicate must reach the parquet reader
    assert has_pushed_filters(df, "l_shipdate")


def test_q1_column_pruning(spark, sf_dir):
    df = q1_pricing_summary(spark, sf_dir)
    cols = set(read_schema_columns(df))
    # only the 7 referenced columns are read, not all 11
    assert cols == {
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax", "l_shipdate",
    }


def test_projection_prunes_scan(spark, sf_dir):
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_quantity")
    assert set(read_schema_columns(li)) == {"l_orderkey", "l_quantity"}


def test_small_dims_broadcast(spark, sf_dir):
    assert has_broadcast_hash_join(join_broadcast_dim(spark, sf_dir))
    assert has_broadcast_hash_join(q5_local_supplier_volume(spark, sf_dir))


def test_filter_pushdown_through_projection(spark, sf_dir):
    o = (
        load_table(spark, "orders", sf_dir)
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .filter(F.col("o_totalprice") > 100000)
    )
    assert has_pushed_filters(o, "o_totalprice")


def test_parity_pipeline_is_single_codegen_stage(spark, sf_dir):
    # The whole reference hot loop (R2-R5: projection, typed encode, token
    # substitution, JSON encode) must fuse into ONE codegen span over the
    # scan — no exchanges, no extra stages.
    from hive_export_spark.operators.parity import export_pipeline

    ev = load_table(spark, "events", sf_dir)
    routed = export_pipeline(ev, ["event_type"])
    plan = executed_plan(routed)
    assert "Exchange" not in plan  # narrow transformations only
    assert wholestage_codegen_spans(routed) == 1


def test_partitioned_write_single_shuffle(spark, sf_dir):
    # routing for the partitioned write introduces exactly one exchange
    from hive_export_spark.operators.parity import export_pipeline, route_partitions

    ev = load_table(spark, "events", sf_dir)
    routed = route_partitions(export_pipeline(ev, ["event_type"]), ["event_type"])
    plan = executed_plan(routed)
    assert plan.count("Exchange") == 1


def test_no_unguarded_scale_killers():
    # static source sweep: any new .collect(), F.udf, non-broadcast
    # crossJoin, .toPandas or .rdd outside the reviewed allowlist in
    # plans/audit.py fails here the day it lands (automates the manual
    # per-round anti-pattern audit)
    import os

    from hive_export_spark.plans.audit import scan_scale_killers

    root = os.path.join(os.path.dirname(__file__), "..", "hive_export_spark")
    violations = scan_scale_killers(os.path.normpath(root))
    assert violations == [], "\n".join(violations)


def test_audit_rejects_data_sized_broadcast(tmp_path):
    """Round-6 allowlist discipline, tightened by the r7 driver
    advisory #3: crossJoin(F.broadcast(X)) is not self-sanctioning,
    and an AGGREGATE is no longer self-evidently bounded either — a
    groupBy over a high-cardinality key is data-sized even though the
    line ends in .agg(...). Only .limit(/.range( count as visibly
    bounded; aggregate-valued args need a reviewed '# bounded:'
    comment. The scanner must also ignore marks and parens inside
    string literals and trailing comments. A stale allowlist entry
    must be reported."""
    from hive_export_spark.plans.audit import scan_scale_killers

    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "bad.py").write_text(
        "out = facts.crossJoin(F.broadcast(all_events))\n"
        # the advisory's exact class: a vocabulary-sized per-key
        # frequency aggregate, auto-sanctioned under the old marks
        "hot = sh.join(F.broadcast(freq.groupBy('shingle')"
        ".agg(F.count('*').alias('f'))), 'shingle')\n"
        # a mark inside a string literal must not sanction the hint
        "spoof = a.crossJoin(F.broadcast(b.filter(\"x == '.limit('\")))\n"
        # a mark in a trailing comment must not sanction the hint
        "late = a.crossJoin(F.broadcast(c))  # uses .limit( upstream\n"
    )
    (pkg / "good.py").write_text(
        "# bounded: global no-key agg, exactly 1 row\n"
        "tot = df.crossJoin(F.broadcast(df.agg(F.count('*').alias('n'))))\n"
        "# bounded: k x dim centroid table\n"
        "sc = v.crossJoin(F.broadcast(centroids))\n"
        "# oracle-twin: fixture-scale exact all-pairs; prod path is lsh_pairs\n"
        "ex = a.crossJoin(F.broadcast(b))\n"
        "topn = a.crossJoin(F.broadcast(b.orderBy('x').limit(10)))\n"
    )
    vs = scan_scale_killers(str(pkg))
    assert any("bad.py:1" in v and "broadcast" in v for v in vs)
    assert any("bad.py:2" in v for v in vs), vs
    assert any("bad.py:3" in v for v in vs), vs
    assert any("bad.py:4" in v for v in vs), vs
    assert not any("good.py" in v for v in vs), vs
    # the repo allowlist is keyed to hive_export_spark paths, so every
    # entry is stale relative to this temp package — reported, not silent
    assert any("STALE allowlist entry" in v for v in vs)


def test_runtime_bloom_filter_injected(spark, sf_dir):
    """scale_runtime_bloom_join's declared plan shape: with the size
    thresholds lowered to fixture scale, Spark injects a bloom filter
    built from the selective orders side into the lineitem scan side
    (might_contain in the optimized plan)."""
    from hive_export_spark.queries.scale_queries import scale_runtime_bloom_join

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force shuffle join
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = scale_runtime_bloom_join(spark, sf_dir)
        optimized = df._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in optimized or "bloom_filter_agg" in optimized
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_fuzzy_join_blocks_to_equi_join(spark, sf_dir):
    """join_fuzzy_levenshtein must plan as an equi-join on the blocking
    key (hash or sort-merge) with the edit-distance as a post-match
    filter — never an unblocked cartesian of the two name sets."""
    from hive_export_spark.queries.relational_queries import (
        join_fuzzy_levenshtein,
    )

    plan = (
        join_fuzzy_levenshtein(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "CartesianProduct" not in plan


def test_audit_statement_anchors_bare_collect_tails(tmp_path):
    """r11 advisory #2: a per-file '.collect()' allowlist key silently
    sanctioned EVERY future multi-line chain ending in a bare
    .collect() line. Collect waivers are now anchored to the EXACT
    flattened statement: an unreviewed chain in the same file is
    flagged (with its computed statement key in the message, so adding
    a reviewed entry is copy-paste), and allowed_stmt entries that
    match no current statement are reported stale."""
    from hive_export_spark.plans.audit import scan_scale_killers

    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "sneaky.py").write_text(
        # exactly the r11-flagged shape: a NEW unbounded multi-line
        # chain whose tail line is the bare policed call — under the
        # old generic ('file', '.collect()') keys this inherited the
        # waiver; now it must fail with the statement key printed
        "rows = (\n"
        "    corpus.groupBy('doc_id')\n"
        "    .agg(F.collect_list('token'))\n"
        "    .collect()\n"
        ")\n"
    )
    vs = scan_scale_killers(str(pkg))
    flagged = [v for v in vs if "sneaky.py:4" in v]
    assert flagged, vs
    # the violation carries the computed statement key for copy-paste
    assert "statement key:" in flagged[0]
    assert "corpus.groupBy" in flagged[0]
    # the repo's allowed_stmt entries match nothing in this temp pkg
    assert any("STALE allowed_stmt entry" in v for v in vs)


def test_global_shuffle_windows_are_bucketed(spark, sf_dir):
    """llm_global_shuffle's corpus-sized window must partition by the
    bucket key; the only unpartitioned window runs over the tiny
    bucket-totals table (the two-phase prefix-sum contract)."""
    from hive_export_spark.queries.llm_queries import llm_global_shuffle

    plan = (
        llm_global_shuffle(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    import re

    row_number_windows = [
        l for l in plan.splitlines() if "row_number() windowspecdefinition" in l
    ]
    assert row_number_windows, plan
    # the rank window is partitioned (windowspecdefinition lists the
    # partition expr before the first ORDER BY column)
    assert all("windowspecdefinition(__bkt" in l for l in row_number_windows)


def test_running_distinct_reuses_one_exchange(spark, sf_dir):
    """Both windows partition by user_id, so the physical plan must carry
    exactly ONE hash-partitioning Exchange (two Sorts are fine)."""
    from hive_export_spark.queries.analytics_queries import (
        window_running_distinct,
    )

    plan = audit.executed_plan(window_running_distinct(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1


def test_zscore_stats_are_broadcast(spark, sf_dir):
    """The per-series stats table joins back as a broadcast: the fact
    stream must never shuffle for the scoring pass."""
    from hive_export_spark.queries.stats_queries import stats_zscore_outliers

    assert audit.has_broadcast_hash_join(stats_zscore_outliers(spark, sf_dir))


def test_embed_quantize_is_shuffle_free(spark, sf_dir):
    """Pure map over arrays: zero Exchanges of any kind."""
    from hive_export_spark.queries.llm_queries import llm_embed_quantize

    plan = audit.executed_plan(llm_embed_quantize(spark, sf_dir))
    assert "Exchange" not in plan


def test_weighted_sample_uses_tree_topk(spark, sf_dir):
    """orderBy().limit() must compile to TakeOrderedAndProject, never a
    global Sort."""
    from hive_export_spark.queries.llm_queries import llm_sample_weighted

    plan = audit.executed_plan(llm_sample_weighted(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_partition_discovery_filter_becomes_partition_filter(spark, sf_dir):
    """The event_type predicate must prune DIRECTORIES (PartitionFilters),
    not rows (PushedFilters/DataFilters)."""
    from hive_export_spark.queries.connector_queries import (
        source_partition_discovery,
    )

    plan = audit.executed_plan(source_partition_discovery(spark, sf_dir))
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_type" in m.group(1)


def test_shuffle_hash_hint_is_honored(spark, sf_dir):
    from hive_export_spark.queries.scale_queries import scale_shuffle_hash_hint

    plan = audit.executed_plan(scale_shuffle_hash_hint(spark, sf_dir))
    assert "ShuffledHashJoin" in plan

"""Driver-gate queries for the scale/CDC/stream-join operators that were
previously test-only (SURVEY.md section 2.2 "beyond the survey" rows):
MERGE-style upsert, SCD2 history, salted two-phase aggregation, bucketed
zero-shuffle joins, and the watermarked stream-stream interval join.

Each wraps the real operator (operators/cdc.py, operators/scale.py,
the Structured Streaming join) over deterministic fixture-derived inputs
so a plain-SQL DuckDB oracle can hash-verify the result.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_export_spark.config import UNSPECIFIED_TOKEN
from hive_export_spark.registry import register
from hive_export_spark.sources import load_table, read_stream_from_table


@register(
    "cdc_upsert_current",
    oracle="""
WITH t AS (
  SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DOUBLE) AS o_totalprice
  FROM orders
), u AS (
  SELECT o_orderkey, 'X' AS o_orderstatus, o_totalprice + 100 AS o_totalprice
  FROM t WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey + 10000000, 'N', 1.0 FROM t WHERE o_orderkey % 100 = 0
)
SELECT * FROM u
UNION ALL
SELECT t.* FROM t ANTI JOIN u USING (o_orderkey)
""",
    doc="MERGE INTO semantics without a table format "
    "(operators.cdc.upsert): a deterministic change batch (status flip + "
    "price bump for keys %10, brand-new keys for keys %100) merged "
    "last-write-wins into orders; the oracle is the classic "
    "updates ∪ (target anti-join updates) algebra in SQL. One shuffle on "
    "the merge key.",
)
def cdc_upsert_current(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_export_spark.operators.cdc import upsert

    t = load_table(spark, "orders", sf_dir).select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )
    changes = t.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        F.lit("X").alias("o_orderstatus"),
        (F.col("o_totalprice") + 100).alias("o_totalprice"),
    )
    inserts = t.filter(F.col("o_orderkey") % 100 == 0).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        F.lit(1.0).alias("o_totalprice"),
    )
    return upsert(t, changes.unionByName(inserts), "o_orderkey")


@register(
    "cdc_scd2_history",
    oracle="""
WITH t AS (SELECT o_orderkey, o_orderstatus FROM orders)
SELECT o_orderkey, o_orderstatus,
       CAST('2024-01-01 00:00:00' AS TIMESTAMP) AS effective_from,
       CAST('2024-06-01 00:00:00' AS TIMESTAMP) AS effective_to,
       FALSE AS is_current
FROM t WHERE o_orderkey % 10 = 0
UNION ALL
SELECT o_orderkey, 'X',
       CAST('2024-06-01 00:00:00' AS TIMESTAMP),
       CAST(NULL AS TIMESTAMP), TRUE
FROM t WHERE o_orderkey % 10 = 0
UNION ALL
SELECT o_orderkey, o_orderstatus,
       CAST('2024-01-01 00:00:00' AS TIMESTAMP),
       CAST(NULL AS TIMESTAMP), TRUE
FROM t WHERE o_orderkey % 10 <> 0
""",
    doc="SCD type-2 history-preserving merge (operators.cdc.scd2_apply): "
    "keys %10 flip status to 'X', closing the open version at the batch "
    "time and appending a new open one; everything else passes through. "
    "The oracle enumerates closed + new + unchanged version rows "
    "directly. batch_time is an explicit literal — deterministic and "
    "replayable, the reference's block-replay discipline.",
)
def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_export_spark.operators.cdc import scd2_apply

    current = load_table(spark, "orders", sf_dir).select(
        "o_orderkey",
        "o_orderstatus",
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("effective_from"),
        F.lit(None).cast("timestamp").alias("effective_to"),
        F.lit(True).alias("is_current"),
    )
    updates = (
        load_table(spark, "orders", sf_dir)
        .filter(F.col("o_orderkey") % 10 == 0)
        .select("o_orderkey", F.lit("X").alias("o_orderstatus"))
    )
    return scd2_apply(
        current,
        updates,
        key="o_orderkey",
        tracked_cols=["o_orderstatus"],
        batch_time="2024-06-01 00:00:00",
    )


@register(
    "scale_salted_agg",
    oracle="""
SELECT l_returnflag,
       CAST(COUNT(l_orderkey) AS BIGINT) AS count_l_orderkey,
       MIN(l_extendedprice) AS min_l_extendedprice,
       MAX(l_extendedprice) AS max_l_extendedprice,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY l_returnflag
""",
    doc="two-phase salted aggregation for skewed group keys "
    "(operators.scale.salted_aggregate): partials on (key, salt) then a "
    "bounded per-key combine — the result provably equals the plain "
    "aggregation, which is what the oracle computes. Decomposable "
    "aggregates only; the sum runs in DECIMAL for cross-engine hash "
    "stability and is cast to DOUBLE at the end.",
)
def scale_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_export_spark.operators.scale import salted_aggregate

    li = load_table(spark, "lineitem", sf_dir).select(
        "l_returnflag",
        "l_orderkey",
        "l_extendedprice",
        F.col("l_quantity").cast("decimal(12,2)").alias("__qty_dec"),
    )
    out = salted_aggregate(
        li,
        key="l_returnflag",
        aggs={
            "l_orderkey": "count",
            "l_extendedprice": "min",
            "__qty_dec": "sum",
        },
        salt_buckets=16,
    )
    # max via a second salted pass would be symmetric; reuse the same call
    # shape for max to keep one registered query exercising both extremes
    mx = salted_aggregate(
        li, key="l_returnflag", aggs={"l_extendedprice": "max"}, salt_buckets=16
    )
    # null-safe join: the NULL pseudo-group survives both salted passes'
    # GROUP BYs but a plain equi-join between them drops it (wave-7
    # doctrine, round-9 all-NULL sweep)
    return (
        out.alias("a")
        .join(
            mx.alias("b"),
            F.col("a.l_returnflag").eqNullSafe(F.col("b.l_returnflag")),
        )
        .select(
            F.col("a.l_returnflag").alias("l_returnflag"),
            "count_l_orderkey",
            F.col("min_l_extendedprice"),
            F.col("max_l_extendedprice"),
            F.col("sum___qty_dec").cast("double").alias("sum_qty"),
        )
    )


@register(
    "scale_bucketed_join",
    oracle="""
SELECT o.o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderstatus
""",
    doc="co-located bucketed join (operators.scale.write_bucketed): both "
    "sides persisted bucketed on the join key with matching counts, so "
    "bucket i joins bucket i with NO Exchange on either side (pinned in "
    "tests/test_scale_ops.py) — the repeated large-large join shape at "
    "100 TB. The oracle is the plain join + aggregation.",
)
def scale_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    from urllib.parse import urlparse

    from hive_export_spark.operators.scale import write_bucketed

    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_orderstatus")
    li = load_table(spark, "lineitem", sf_dir).select(
        F.col("l_orderkey").alias("o_orderkey"),
        F.col("l_quantity").cast("decimal(12,2)").alias("__qty_dec"),
    )
    # a fresh session's in-memory catalog does not know tables whose
    # warehouse directories survive from an earlier session; clear both
    # the catalog entry and any stale location before re-creating
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for t in ("gate_bucketed_orders", "gate_bucketed_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    write_bucketed(o, "gate_bucketed_orders", ["o_orderkey"], num_buckets=8)
    write_bucketed(li, "gate_bucketed_lineitem", ["o_orderkey"], num_buckets=8)
    joined = spark.table("gate_bucketed_orders").join(
        spark.table("gate_bucketed_lineitem"), "o_orderkey"
    )
    return joined.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("__qty_dec").cast("double").alias("sum_qty"),
    )


@register(
    "stream_stream_interval_join",
    oracle="""
SELECT c.event_id AS click_id, p.event_id AS p_id
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts - INTERVAL 1 HOUR
 AND p.ts <= c.ts + INTERVAL 1 HOUR
""",
    doc="watermarked stream-stream interval join as a REAL streaming query "
    "(two file-source streams, 2h watermarks bounding join state, "
    "availableNow, memory sink): clicks joined to purchases per user "
    "within +/- 1 hour. Inner-join emission is append-only and complete "
    "once both sides drain, so the result equals the batch interval join "
    "the oracle computes.",
)
def stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    clicks = (
        read_stream_from_table(spark, "events", sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        read_stream_from_table(spark, "events", sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("p_id"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("click_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("p_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    )
    name = f"gate_ssj_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT click_id, p_id FROM {name}")


@register(
    "scale_clustered_scan",
    oracle="""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
  AND ts < TIMESTAMP '2024-01-11 00:00:00'
GROUP BY event_type
""",
    doc="range-clustered data layout (operators.scale.write_clustered): "
    "events rewritten with repartitionByRange + sortWithinPartitions on "
    "ts, so each parquet file covers a narrow time range and min/max "
    "footer stats let a one-day predicate skip almost every row group "
    "(stats disjointness pinned in tests/test_scale_ops.py). The query "
    "reads the clustered copy back through the selective filter; the "
    "oracle runs the same filter on the source table.",
)
def scale_clustered_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_export_spark.operators.scale import write_clustered
    from hive_export_spark.queries.connector_queries import scratch_dir

    ev = load_table(spark, "events", sf_dir)
    path = scratch_dir("clustered_events")
    write_clustered(ev, path, "ts", num_files=16)
    return (
        spark.read.parquet(path)
        .filter(
            (F.col("ts") >= F.lit("2024-01-10 00:00:00").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-11 00:00:00").cast("timestamp"))
        )
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@register(
    "scale_skew_join",
    oracle="""
SELECT c.c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM (SELECT CASE WHEN user_id % 3 = 0 THEN 0 ELSE user_id END AS uid, value
      FROM events) e
JOIN customer c ON c.c_custkey = e.uid
GROUP BY 1
""",
    doc="salted skew join (operators.scale.salted_join): a deliberately "
    "hot-keyed fact (a third of events collapse onto one key) joins a "
    "mid-size dim on (key, salt) so the hot key spreads over 8 shuffle "
    "partitions instead of one straggler task — the explicit-salting "
    "path for when AQE skew splitting is unavailable (it splits join "
    "partitions, not groupBy keys) or a deterministic plan is required; "
    "the oracle is the plain unsalted join (salting never changes "
    "results)",
)
def scale_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_export_spark.operators.scale import salted_join

    ev = load_table(spark, "events", sf_dir).select(
        F.when(F.col("user_id") % 3 == 0, 0)
        .otherwise(F.col("user_id"))
        .alias("uid"),
        F.col("value").cast("decimal(12,2)").alias("__v"),
    )
    dim = load_table(spark, "customer", sf_dir).select(
        F.col("c_custkey").alias("uid"), "c_mktsegment"
    )
    return (
        salted_join(ev, dim, on="uid", salt_buckets=8)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum("__v").cast("double").alias("sum_value"),
        )
    )


@register(
    "scale_zorder_scan",
    oracle="""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
FROM lineitem
WHERE l_partkey BETWEEN 100 AND 140 AND l_suppkey BETWEEN 1 AND 10
GROUP BY l_returnflag
""",
    doc="Z-order (Morton) two-dimensional layout "
    "(operators.scale.write_zordered): lineitem rewritten clustered on "
    "interleaved (l_partkey, l_suppkey) bits, so parquet min/max footer "
    "stats prune selective predicates on EITHER key — the Delta/Iceberg "
    "OPTIMIZE ZORDER layout from plain column expressions (dual-dim "
    "row-group disjointness pinned in tests/test_scale_ops.py). The "
    "query reads the z-ordered copy through a two-column predicate; the "
    "oracle runs the same filter on the source table.",
)
def scale_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_export_spark.operators.scale import write_zordered
    from hive_export_spark.queries.connector_queries import scratch_dir

    li = load_table(spark, "lineitem", sf_dir)
    path = scratch_dir("zordered_lineitem")
    write_zordered(li, path, ("l_partkey", "l_suppkey"), num_files=16)
    return (
        spark.read.parquet(path)
        .filter(
            F.col("l_partkey").between(100, 140)
            & F.col("l_suppkey").between(1, 10)
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_quantity").cast("decimal(12,2)"))
            .cast("double")
            .alias("sum_qty"),
        )
    )


@register(
    "llm_text_frequent_ngrams",
    oracle="""
WITH toks AS (
  SELECT string_split(regexp_replace(trim(lower(text)), '[ \t\n\x0B\f\r]+', ' ', 'g'), ' ') AS t
  FROM documents
), grams AS (
  SELECT unnest([array_to_string(t[i:i+1], ' ')
                 for i in range(1, greatest(len(t), 2))]) AS ngram
  FROM toks
)
SELECT ngram, CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM grams GROUP BY ngram
ORDER BY n_occurrences DESC, ngram
LIMIT 20
""",
    doc="corpus-wide top-20 word bigrams by occurrence "
    "(operators.text.frequent_ngrams) — the counting core of BPE "
    "tokenizer training and contamination scans. Map-side combine keeps "
    "the shuffle at vocabulary size; deterministic lexicographic "
    "tiebreak on the count ties.",
)
def llm_text_frequent_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_export_spark.operators.text import frequent_ngrams

    d = load_table(spark, "documents", sf_dir)
    return frequent_ngrams(d, n=2, top_k=20)


@register(
    "scale_compaction",
    oracle=f"""
SELECT CASE WHEN event_type IS NULL OR trim(event_type, '\x01\x02\x03\x04\x05\x06\x07\x08\x09\x0a\x0b\x0c\x0d\x0e\x0f\x10\x11\x12\x13\x14\x15\x16\x17\x18\x19\x1a\x1b\x1c\x1d\x1e\x1f\x20') = ''
            THEN '{UNSPECIFIED_TOKEN}' ELSE event_type END AS event_type,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
       TRUE AS files_reduced
FROM events GROUP BY 1
""",
    doc="small-file compaction through the gate "
    "(operators.maintenance.compact_partitioned_table): a partitioned "
    "events table is written deliberately fragmented (24-way "
    "repartition before partitionBy => ~24 files per partition, the "
    "shape minutes-level streaming triggers leave behind), compacted to "
    "size-targeted files, and read back; the query emits per-partition "
    "row counts + decimal sums plus a files_reduced boolean the oracle "
    "pins to TRUE. Verifies the rewrite is lossless AND actually "
    "shrinks the file count — the lakehouse maintenance op a 100 TB "
    "streaming sink cannot live without. Partition values go through "
    "the R4 substitution token first (like every partitioned write in "
    "the repo): Spark writes an EMPTY-STRING partition value as "
    "__HIVE_DEFAULT_PARTITION__, which reads back as NULL — '' and "
    "NULL silently merge after one write/read round trip unless blank "
    "keys are sentinel-encoded up front (round-7 wave 8).",
)
def scale_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from hive_export_spark.operators.maintenance import compact_partitioned_table
    from hive_export_spark.operators.parity import partition_token_substitute
    from hive_export_spark.queries.connector_queries import scratch_dir
    from hive_export_spark.sources import load_table

    base = scratch_dir("compaction")
    shutil.rmtree(base, ignore_errors=True)
    ev = partition_token_substitute(
        load_table(spark, "events", sf_dir).select(
            "event_id", "event_type", "value"
        ),
        ["event_type"],
    )
    # simulate micro-batch fragmentation: many small files per partition
    ev.repartition(24).write.partitionBy("event_type").parquet(base)
    stats = compact_partitioned_table(spark, base, ["event_type"])
    # "reduced" = no fragmentation remains: the count strictly shrank,
    # OR the table was already at <= one file per partition (a day-one
    # table writes a single file that compaction correctly leaves
    # alone — round-8 single-row sweep; the oracle pins TRUE either way)
    n_parts = sum(
        1 for d in os.listdir(base) if d.startswith("event_type=")
    ) or 1
    reduced = (
        stats["files_after"] < stats["files_before"]
        or stats["files_before"] <= n_parts
    )
    # explicit read-back schema: a day-zero (empty) partitioned write
    # leaves no data files to infer from (round-8 day-zero sweep)
    back = spark.read.schema(ev.schema).parquet(base)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
    ).withColumn("files_reduced", F.lit(bool(reduced)))


@register(
    "scale_dpp_scan",
    oracle="""
SELECT event_type, COUNT(*) AS n_rows,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM events
WHERE event_type IN ('purchase', 'signup')
GROUP BY event_type
""",
    doc="dynamic partition pruning: the fact table is stored partitioned "
    "by event_type; the query joins it to a derived conversion-category "
    "dimension whose filter ('conversion' rows only) is NOT a literal "
    "predicate on the fact — Catalyst inserts a runtime "
    "dynamicpruning#N subquery on the broadcast dim's keys, so only the "
    "matching fact partitions are ever read (asserted on the plan in "
    "tests/test_scale_ops.py). At 100 TB this is THE mechanism that "
    "turns star-schema filters into I/O savings: partition listing "
    "happens after the dim side resolves, not at compile time.",
)
def scale_dpp_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from hive_export_spark.queries.connector_queries import sf_scratch_dir
    from hive_export_spark.sources import load_table

    # sf-keyed on the full fixture path: see sf_scratch_dir
    base = sf_scratch_dir("dpp_fact", sf_dir)
    proj = load_table(spark, "events", sf_dir).select("event_type", "value")
    if not os.path.exists(f"{base}/_SUCCESS"):
        shutil.rmtree(base, ignore_errors=True)
        proj.write.partitionBy("event_type").parquet(base)
    # explicit read-back schema: a day-zero (empty) partitioned write
    # leaves no data files to infer from (round-8 day-zero sweep); DPP
    # operates on the discovered directory layout either way
    fact = spark.read.schema(proj.schema).parquet(base)
    # a literal mapping dimension (not derived from the fact): the
    # optimizer cannot fold the category filter into a static IN on the
    # fact side, so the partition filter MUST come from the runtime
    # dynamicpruning subquery — the pure DPP shape. The rows are picked
    # from literal arrays over a Range: a LocalRelation (local_frame)
    # would let the optimizer evaluate the category filter at compile
    # time, leaving DPP no filter to key on, and a list-built frame
    # starts Python workers.
    types, categories = zip(
        ("click", "browse"),
        ("view", "browse"),
        ("error", "browse"),
        ("purchase", "conversion"),
        ("signup", "conversion"),
    )

    def pick(values):
        return F.element_at(F.array(*map(F.lit, values)), F.col("id").cast("int") + 1)

    dim = spark.range(len(types)).select(
        pick(types).alias("d_type"), pick(categories).alias("category")
    )
    conv = dim.filter(F.col("category") == "conversion")
    return (
        fact.join(
            # bounded: 4-row literal dimension filtered to conversion types
            F.broadcast(conv), fact["event_type"] == conv["d_type"]
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("value").cast("decimal(12,2)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


@register(
    "cdc_asof_lookup",
    oracle="""
WITH t AS (SELECT o_orderkey, o_orderstatus FROM orders),
hist AS (
  SELECT o_orderkey, o_orderstatus,
         CAST('2024-01-01 00:00:00' AS TIMESTAMP) AS effective_from,
         CAST('2024-06-01 00:00:00' AS TIMESTAMP) AS effective_to
  FROM t WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey, 'X',
         CAST('2024-06-01 00:00:00' AS TIMESTAMP),
         CAST(NULL AS TIMESTAMP)
  FROM t WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey, o_orderstatus,
         CAST('2024-01-01 00:00:00' AS TIMESTAMP),
         CAST(NULL AS TIMESTAMP)
  FROM t WHERE o_orderkey % 10 <> 0
)
SELECT o_orderkey,
       MAX(CASE WHEN TIMESTAMP '2024-03-15 00:00:00' >= effective_from
                 AND (effective_to IS NULL
                      OR TIMESTAMP '2024-03-15 00:00:00' < effective_to)
                THEN o_orderstatus END) AS status_march,
       MAX(CASE WHEN TIMESTAMP '2024-07-01 00:00:00' >= effective_from
                 AND (effective_to IS NULL
                      OR TIMESTAMP '2024-07-01 00:00:00' < effective_to)
                THEN o_orderstatus END) AS status_july
FROM hist GROUP BY o_orderkey
""",
    doc="point-in-time (AS OF) lookup over the SCD2 history built by "
    "cdc_scd2_history: the version valid at a probe timestamp is the "
    "row with effective_from <= t < effective_to (NULL = open). Two "
    "probes straddle the merge batch time, so every %10 key must "
    "answer differently at March vs July — the temporal-query face of "
    "the CDC family. One history scan, no join: at 100 TB the interval "
    "predicate prunes to current+adjacent versions per key.",
)
def cdc_asof_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_export_spark.operators.cdc import scd2_apply

    current = load_table(spark, "orders", sf_dir).select(
        "o_orderkey",
        "o_orderstatus",
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("effective_from"),
        F.lit(None).cast("timestamp").alias("effective_to"),
        F.lit(True).alias("is_current"),
    )
    updates = (
        load_table(spark, "orders", sf_dir)
        .filter(F.col("o_orderkey") % 10 == 0)
        .select("o_orderkey", F.lit("X").alias("o_orderstatus"))
    )
    hist = scd2_apply(
        current,
        updates,
        key="o_orderkey",
        tracked_cols=["o_orderstatus"],
        batch_time="2024-06-01 00:00:00",
    )

    def asof(ts: str):
        probe = F.lit(ts).cast("timestamp")
        valid = (probe >= F.col("effective_from")) & (
            F.col("effective_to").isNull() | (probe < F.col("effective_to"))
        )
        return F.max(F.when(valid, F.col("o_orderstatus")))

    return hist.groupBy("o_orderkey").agg(
        asof("2024-03-15 00:00:00").alias("status_march"),
        asof("2024-07-01 00:00:00").alias("status_july"),
    )


@register(
    "scale_runtime_bloom_join",
    oracle="""
SELECT l.l_orderkey,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE)
         AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_totalprice > 400000
GROUP BY l.l_orderkey
""",
    doc="runtime bloom-filter join (AQE runtime filtering): a highly "
    "selective dimension-side predicate (o_totalprice > 400000 keeps "
    "~1% of orders) lets Spark inject a bloom filter built from the "
    "filtered orders side into the lineitem scan, so the fact table's "
    "shuffle carries only rows that can possibly join — at 100 TB this "
    "is the difference between shuffling the whole fact table and "
    "shuffling ~1% of it. The creation/application thresholds keep the "
    "rewrite off at fixture scale; tests/test_plans.py pins the "
    "BloomFilter injection with thresholds lowered, proving the plan "
    "shape this query is declared for.",
)
def scale_runtime_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir).filter(
        F.col("o_totalprice") > 400000
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(12,2)")
                * (1 - F.col("l_discount").cast("decimal(4,2)"))
            )
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "scale_profile_columns",
    oracle="""
SELECT col, n_rows, n_nulls, n_distinct, min_s, max_s FROM (
  SELECT 'o_orderkey' AS col, COUNT(*) AS n_rows,
         COUNT(*) - COUNT(o_orderkey) AS n_nulls,
         COUNT(DISTINCT o_orderkey) AS n_distinct,
         CAST(MIN(o_orderkey) AS VARCHAR) AS min_s,
         CAST(MAX(o_orderkey) AS VARCHAR) AS max_s
  FROM orders
  UNION ALL
  SELECT 'o_custkey', COUNT(*), COUNT(*) - COUNT(o_custkey),
         COUNT(DISTINCT o_custkey),
         CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
  FROM orders
  UNION ALL
  SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus),
         COUNT(DISTINCT o_orderstatus), MIN(o_orderstatus), MAX(o_orderstatus)
  FROM orders
  UNION ALL
  SELECT 'o_orderpriority', COUNT(*), COUNT(*) - COUNT(o_orderpriority),
         COUNT(DISTINCT o_orderpriority), MIN(o_orderpriority),
         MAX(o_orderpriority)
  FROM orders
) t
""",
    doc="column profiling (the ANALYZE TABLE / data-quality audit shape): "
    "row count, null count, exact distinct count, min/max per column, "
    "emitted long-form one row per column. Computed in a single "
    "DataFrame aggregate (Catalyst expands the multi-distinct into one "
    "pass per distinct set) then unpivoted via stack — no per-column "
    "re-scan of the table. At 100 TB swap exact COUNT(DISTINCT) for "
    "approx_count_distinct (documented trade; the rest is one scan "
    "regardless), and numeric min/max stay long-typed here so the "
    "string rendering is engine-portable.",
)
def scale_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    cols = [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_orderpriority",
    ]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            # min/max on the NATIVE type (string-cast first would make
            # numeric min/max lexicographic), rendered to string after
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    wide = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__nulls, {c}__distinct, {c}__min, {c}__max" for c in cols
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS (col, n_nulls, n_distinct, min_s, max_s)",
        "n_rows",
    ).select("col", "n_rows", "n_nulls", "n_distinct", "min_s", "max_s")


@register(
    "scale_dq_checks",
    oracle="""
SELECT rule, n_violations, n_violations = 0 AS passed FROM (
  SELECT 'lineitem_quantity_range' AS rule, COUNT(*) AS n_violations
  FROM lineitem WHERE l_quantity < 1 OR l_quantity > 50
  UNION ALL
  SELECT 'lineitem_null_orderkey', COUNT(*)
  FROM lineitem WHERE l_orderkey IS NULL
  UNION ALL
  SELECT 'lineitem_negative_price', COUNT(*)
  FROM lineitem WHERE l_extendedprice < 0
  UNION ALL
  SELECT 'lineitem_fk_orphans', COUNT(*)
  FROM lineitem ANTI JOIN orders ON l_orderkey = o_orderkey
  UNION ALL
  SELECT 'orders_duplicate_pk',
         CAST(COALESCE(SUM(n - 1), 0) AS BIGINT)
  FROM (SELECT o_orderkey, COUNT(*) AS n FROM orders
        GROUP BY o_orderkey HAVING COUNT(*) > 1) d
  UNION ALL
  SELECT 'customer_duplicate_pk',
         CAST(COALESCE(SUM(n - 1), 0) AS BIGINT)
  FROM (SELECT c_custkey, COUNT(*) AS n FROM customer
        GROUP BY c_custkey HAVING COUNT(*) > 1) cd
  UNION ALL
  SELECT 'documents_duplicate_pk',
         CAST(COALESCE(SUM(n - 1), 0) AS BIGINT)
  FROM (SELECT doc_id, COUNT(*) AS n FROM documents
        WHERE doc_id IS NOT NULL
        GROUP BY doc_id HAVING COUNT(*) > 1) dd
  UNION ALL
  SELECT 'documents_null_id', COUNT(*)
  FROM documents WHERE doc_id IS NULL
  UNION ALL
  SELECT 'documents_null_text', COUNT(*)
  FROM documents WHERE text IS NULL
  UNION ALL
  SELECT 'embeddings_null_vector', COUNT(*)
  FROM embeddings WHERE embedding IS NULL
  UNION ALL
  SELECT 'embeddings_dim_mismatch', COUNT(*)
  FROM embeddings,
       (SELECT len(embedding) AS s FROM embeddings
        WHERE embedding IS NOT NULL
        GROUP BY 1 ORDER BY COUNT(*) DESC, s DESC LIMIT 1) modal
  WHERE embedding IS NOT NULL AND len(embedding) <> modal.s
  UNION ALL
  SELECT 'embeddings_nonfinite', COUNT(*)
  FROM embeddings
  WHERE embedding IS NOT NULL
    AND len(list_filter(embedding, x -> isnan(x) OR isinf(x))) > 0
) t
""",
    doc="declarative data-quality rule evaluation (the expectation-suite / "
    "constraint-validation shape): range, null, sign, FK-orphan "
    "(anti-join) and PK-uniqueness rules over lineitem/orders, PLUS the "
    "embedding-payload rules the quarantine-first doctrine routes here "
    "(make_hostile_fixture.py boundary notes): NULL vectors, "
    "modal-dimension mismatches (truncated/partial embedding writes — "
    "the modal size is a scan-order-deterministic count-desc, size-desc "
    "pick), and non-finite elements (NaN/Inf, the "
    "class that flips DuckDB cosine to -1 vs Spark NaN-propagation and "
    "is therefore rejected with provenance, never computed over), plus "
    "the round-9 documents-table rules: duplicate doc_ids "
    "(at-least-once corpus ingest — a byte-identical duplicate row "
    "inflates exact-Jaccard past 1.0 and flips below-threshold pairs "
    "into the near-dup output, probed with a 1.4-for-0.75 receipt) and "
    "NULL doc_ids (silently dropped by every id-keyed dedup join). One "
    "(rule, violation count, passed) row each. Filter-count rules fuse "
    "into pushed-down scans; the FK rule is the only join (shuffled on "
    "the key, broadcast when the parent side is dim-sized); PK "
    "uniqueness is one keyed aggregation; the modal-dim rule adds one "
    "O(#distinct sizes) aggregate broadcast back over the scan. The "
    "rule results union to a handful of rows however large the audited "
    "table is — this runs as a gate before every training-data "
    "release. The laced NULL vector makes embeddings_null_vector FIRE "
    "(passed=false) on the hostile fixture: the gate is verified to "
    "actually catch what the per-query conventions quarantine.",
)
def scale_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    emb = load_table(spark, "embeddings", sf_dir)

    def rule(name: str, df) -> DataFrame:
        return df.select(
            F.lit(name).alias("rule"),
            F.coalesce(F.first("n"), F.lit(0)).alias("n_violations"),
        )

    checks = [
        li.filter((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("lineitem_quantity_range").alias("rule"), F.col("n")),
        li.filter(F.col("l_orderkey").isNull())
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("lineitem_null_orderkey").alias("rule"), F.col("n")),
        li.filter(F.col("l_extendedprice") < 0)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("lineitem_negative_price").alias("rule"), F.col("n")),
        li.join(o, li.l_orderkey == o.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("lineitem_fk_orphans").alias("rule"), F.col("n")),
        o.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
        .agg(F.coalesce(F.sum(F.col("__n") - 1), F.lit(0)).alias("n"))
        .select(F.lit("orders_duplicate_pk").alias("rule"), F.col("n")),
        load_table(spark, "customer", sf_dir)
        .groupBy("c_custkey")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
        .agg(F.coalesce(F.sum(F.col("__n") - 1), F.lit(0)).alias("n"))
        .select(F.lit("customer_duplicate_pk").alias("rule"), F.col("n")),
        # at-least-once corpus ingest (round-9 receipt): a byte-identical
        # duplicate doc_id row corrupts every shingle-multiset statistic
        # downstream — the exact-Jaccard oracle computes an impossible
        # j=1.4 for a true-0.75 pair, flipping it INTO the near-dup set.
        # Quarantine-first: duplicates are caught HERE with provenance,
        # never "handled" inside each dedup operator.
        load_table(spark, "documents", sf_dir)
        .filter(F.col("doc_id").isNotNull())
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
        .agg(F.coalesce(F.sum(F.col("__n") - 1), F.lit(0)).alias("n"))
        .select(F.lit("documents_duplicate_pk").alias("rule"), F.col("n")),
        # NULL doc ids are silently invisible to every id-keyed dedup
        # join (a.doc_id < b.doc_id drops them on both engines) — reject
        # with provenance instead of losing rows without a trace
        load_table(spark, "documents", sf_dir)
        .filter(F.col("doc_id").isNull())
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("documents_null_id").alias("rule"), F.col("n")),
        # NULL text drops at every dedup signature scan (round-9
        # all-NULL wave — a contentless doc can't be a duplicate of
        # anything); this rule is where that drop gets provenance
        load_table(spark, "documents", sf_dir)
        .filter(F.col("text").isNull())
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("documents_null_text").alias("rule"), F.col("n")),
        emb.filter(F.col("embedding").isNull())
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("embeddings_null_vector").alias("rule"), F.col("n")),
        emb.filter(F.col("embedding").isNotNull())
        .select(F.size("embedding").alias("__s"))
        .join(
            # bounded: 1-row modal-size aggregate (count-desc, size-desc
            # tie-break — deterministic under any scan order)
            F.broadcast(
                emb.filter(F.col("embedding").isNotNull())
                .groupBy(F.size("embedding").alias("__modal"))
                .agg(F.count(F.lit(1)).alias("__cnt"))
                .orderBy(F.desc("__cnt"), F.desc("__modal"))
                .limit(1)
                .select("__modal")
            )
        )
        .filter(F.col("__s") != F.col("__modal"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("embeddings_dim_mismatch").alias("rule"), F.col("n")),
        emb.filter(
            F.col("embedding").isNotNull()
            & F.exists(
                "embedding",
                lambda x: F.isnan(x) | (F.abs(x) == F.lit(float("inf"))),
            )
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("embeddings_nonfinite").alias("rule"), F.col("n")),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out.select(
        "rule",
        F.col("n").alias("n_violations"),
        (F.col("n") == 0).alias("passed"),
    )


@register(
    "scale_shuffle_hash_hint",
    oracle="""
SELECT o.o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(14,2))) AS DOUBLE)
         AS total_price
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
""",
    doc="join strategy hint surface: the same fact-to-fact join run with "
    "an explicit SHUFFLE_HASH hint — at 100 TB a sort-merge join of two "
    "huge tables pays two full sorts, while shuffle-hash streams the "
    "big side against a hashed build side; when the build side fits per-"
    "partition memory, the hint (or AQE's preferSortMergeJoin=false) "
    "saves both sorts. Result identity is the gate: hints must NEVER "
    "change semantics, only physical strategy (plan assertion in "
    "tests/test_plans.py pins that the hint is honored).",
)
def scale_shuffle_hash_hint(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir).hint("SHUFFLE_HASH")
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_extendedprice").cast("decimal(14,2)"))
            .cast("double")
            .alias("total_price"),
        )
    )

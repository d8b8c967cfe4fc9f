"""Streaming-operator queries (SURVEY.md section 2.2 streaming surface).

The window/dedup operators are batch/streaming-polymorphic (same function,
see streaming/pipeline.py); the driver's correctness gate runs them in
batch mode against gaps-and-islands / time_bucket SQL oracles, and
tests/test_streaming.py runs the SAME operators as real streaming queries
with watermarks and checkpoints.

stream_export_e2e is a genuine streaming query (availableNow trigger):
file source -> built-in file sink partitioned write -> read-back,
oracle-checked. stream_replay_exactly_once replays a batch after a
simulated crash and checks that the sink's commit log keeps it
exactly-once.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_export_spark.config import UNSPECIFIED_TOKEN
from hive_export_spark.registry import register
from hive_export_spark.sources import load_table, read_stream_from_table
from hive_export_spark.streaming import (
    session_window_agg,
    sliding_window_agg,
    streaming_dedup,
    streaming_export,
    tumbling_window_agg,
)


@register(
    "stream_tumbling_window",
    oracle="""
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       time_bucket(INTERVAL '1 hour', ts) + INTERVAL 1 HOUR AS window_end,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM events
WHERE ts IS NOT NULL
GROUP BY 1, 2, 3
""",
    doc="tumbling 1h event-time windows per event_type (epoch-aligned, "
    "same origin alignment as DuckDB time_bucket). A NULL event time "
    "is structurally invisible to Spark's window() operator (no bucket "
    "to assign — the same class as pre-epoch rows under the initial "
    "watermark); the oracle makes the exclusion explicit (round-9 "
    "all-NULL sweep).",
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return tumbling_window_agg(ev, duration="1 hour")


@register(
    "stream_sliding_window",
    oracle="""
SELECT ws AS window_start,
       ws + INTERVAL 1 HOUR AS window_end,
       event_type,
       COUNT(*) AS n_events
FROM (
  SELECT e.ts, e.event_type,
         time_bucket(INTERVAL '30 minutes', e.ts) - k.k * INTERVAL '30 minutes' AS ws
  FROM events e, (VALUES (0), (1)) k(k)
) t
WHERE ts >= ws AND ts < ws + INTERVAL 1 HOUR
GROUP BY 1, 2, 3
""",
    doc="sliding 1h/30min windows: each event in duration/slide = 2 windows "
    "(oracle materializes both hops per row)",
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return sliding_window_agg(ev, duration="1 hour", slide="30 minutes")


@register(
    "stream_session_window",
    oracle="""
WITH flagged AS (
  -- ts IS NOT NULL: a NULL event time cannot join (or open) a session
  -- window on the Spark side (round-9 all-NULL sweep)
  SELECT user_id, ts,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       user_id,
       COUNT(*) AS n_events
FROM sess GROUP BY user_id, sid
""",
    doc="session windows (30min inactivity gap) per user; oracle is the "
    "batch gaps-and-islands equivalent — Spark session end = last event + "
    "gap, new session at gap STRICTLY > duration (the merge boundary is "
    "INCLUSIVE: an event exactly gap after the previous one joins the "
    "session — probed round-7 wave 8 with an exact-30min pair spanning "
    "epoch zero; Spark merges when next start <= previous end)",
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return session_window_agg(ev, gap="30 minutes")


@register(
    "stream_dedup_keys",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    doc="stateful dedup on (user_id, event_type) — streaming form is "
    "dropDuplicatesWithinWatermark (state bounded by watermark horizon); "
    "batch form shown here keeps only the key columns since the surviving "
    "row per key is engine-dependent",
)
def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return streaming_dedup(ev, keys=("user_id", "event_type")).select(
        "user_id", "event_type"
    )


@register(
    "stream_export_e2e",
    oracle=f"""
SELECT CASE WHEN event_type IS NULL OR trim(event_type, '\x01\x02\x03\x04\x05\x06\x07\x08\x09\x0a\x0b\x0c\x0d\x0e\x0f\x10\x11\x12\x13\x14\x15\x16\x17\x18\x19\x1a\x1b\x1c\x1d\x1e\x1f\x20') = ''
            THEN '{UNSPECIFIED_TOKEN}' ELSE event_type END AS event_type,
       COUNT(*) AS n_rows
FROM events GROUP BY 1
""",
    doc="the reference conduit as a real streaming query: file source -> "
    "JSON-encode + built-in file sink partitioned write with checkpoint "
    "(availableNow trigger), then read-back (R1-R11 end to end)",
)
def stream_export_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_stream_from_table(spark, "events", sf_dir)
    out = tempfile.mkdtemp(prefix="stream_export_out_")
    ckpt = tempfile.mkdtemp(prefix="stream_export_ckpt_")
    q = streaming_export(stream, out, ckpt, ["event_type"])
    q.awaitTermination()
    # explicit read-back schema (derived from the same pipeline the sink
    # runs — schema-only, nothing executes): a day-zero source drains in
    # ZERO micro-batches, so the output dir has no files to infer from
    # (round-8 day-zero sweep)
    from hive_export_spark.operators.parity import export_pipeline

    expected = export_pipeline(stream, ["event_type"]).schema
    written = spark.read.schema(expected).parquet(out)
    return written.groupBy("event_type").agg(F.count("*").alias("n_rows"))


@register(
    "stream_replay_exactly_once",
    oracle=f"""
SELECT CASE WHEN event_type IS NULL OR trim(event_type, '\x01\x02\x03\x04\x05\x06\x07\x08\x09\x0a\x0b\x0c\x0d\x0e\x0f\x10\x11\x12\x13\x14\x15\x16\x17\x18\x19\x1a\x1b\x1c\x1d\x1e\x1f\x20') = ''
            THEN '{UNSPECIFIED_TOKEN}' ELSE event_type END AS event_type,
       COUNT(*) AS n_rows
FROM events GROUP BY 1
""",
    doc="R11 block replay through the driver gate: the first run exports "
    "the stream, then the checkpoint's last commits/N entry and the "
    "sink's _spark_metadata/N entry are deleted, which is what a crash "
    "after the batch's files were written but before either commit leaves "
    "(the RestartBlockException analog). The restarted query replays the "
    "batch; the file sink logs only the new attempt's files, and Spark "
    "readers list files through that log. Counts matching the source "
    "prove exactly-once: a plain append would double every row and "
    "hash-mismatch.",
)
def stream_replay_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_export_spark.operators.parity import export_pipeline
    from hive_export_spark.queries.connector_queries import scratch_dir

    base = scratch_dir("stream_replay")
    out, ckpt = f"{base}/out", f"{base}/ckpt"
    # the simulated crash needs a fresh checkpoint every run
    for p in (out, ckpt):
        shutil.rmtree(p, ignore_errors=True)

    def run() -> DataFrame:
        stream = read_stream_from_table(spark, "events", sf_dir)
        streaming_export(stream, out, ckpt, ["event_type"]).awaitTermination()
        return stream

    run()
    _delete_last_log_entry(f"{ckpt}/commits")
    _delete_last_log_entry(f"{out}/_spark_metadata")
    stream = run()
    # explicit read-back schema (schema-only, nothing executes): partitionBy
    # of zero rows writes no data files to infer from (round-8 day-zero sweep)
    expected = export_pipeline(stream, ["event_type"]).schema
    written = spark.read.schema(expected).parquet(out)
    return written.groupBy("event_type").agg(F.count("*").alias("n_rows"))


def _delete_last_log_entry(log_dir: str) -> None:
    """Delete the newest entry (``N`` and ``.N.crc``) of a Spark metadata
    log, which is what a crash before that entry's write leaves."""
    entries = [int(n) for n in os.listdir(log_dir) if n.isdigit()]
    if not entries:
        raise AssertionError(f"no committed batch to replay in {log_dir}")
    last = max(entries)
    for name in (str(last), f".{last}.crc"):
        path = os.path.join(log_dir, name)
        if os.path.exists(path):
            os.remove(path)


@register(
    "stream_watermark_late_drop",
    oracle="""
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       time_bucket(INTERVAL '1 hour', ts) + INTERVAL 1 HOUR AS window_end,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM events
WHERE ts >= TIMESTAMP '1970-01-01 00:00:00'
GROUP BY 1, 2, 3
""",
    doc="watermark semantics through the driver gate, in three checkpointed "
    "availableNow phases over one file-source directory: phase 1 streams "
    "every real event into a watermarked (10 min) tumbling-window "
    "aggregation with an append parquet sink; phase 2 adds a LATE row (a "
    "duplicate of the earliest event, far below the checkpointed "
    "watermark) plus a far-future sentinel that advances the watermark "
    "past every real window; phase 3's second sentinel flushes any "
    "remaining finalized windows. The result (sentinel windows filtered) "
    "equals the batch tumbling aggregation over the REAL events only — if "
    "the late row were not dropped, its window's count would be +1 and "
    "the hash would mismatch. PRE-EPOCH rows are quarantined up front "
    "on both engines: Structured Streaming's INITIAL watermark is "
    "epoch 0, so a corrupt-clock event before 1970 is late-by-"
    "construction and silently invisible to EVERY watermarked stateful "
    "aggregation, even in the first micro-batch (probed round-7 wave "
    "8 with a receipt) — the production answer is an explicit "
    "quarantine filter with provenance, mirrored in the oracle, not "
    "an engine accident.",
)
def stream_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_export_spark.queries.connector_queries import scratch_dir

    base = scratch_dir("stream_watermark")
    src, out, ckpt = f"{base}/src", f"{base}/out", f"{base}/ckpt"
    for p in (src, out, ckpt):
        shutil.rmtree(p, ignore_errors=True)

    # quarantine corrupt-clock (pre-epoch) rows: below Spark's initial
    # watermark, they can never enter a watermarked aggregation
    ev = load_table(spark, "events", sf_dir).filter(
        F.col("ts") >= F.lit("1970-01-01 00:00:00").cast("timestamp")
    )

    def run_phase(df: DataFrame) -> None:
        df.coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(
            spark.read.parquet(src).schema
        ).parquet(src)
        agg = tumbling_window_agg(stream, duration="1 hour", watermark="10 minutes")
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def sentinel(ts_literal: str) -> DataFrame:
        return (
            ev.limit(1)
            .withColumn("ts", F.lit(ts_literal).cast("timestamp"))
            .withColumn("event_type", F.lit("zz_sentinel"))
        )

    late_dup = ev.orderBy("ts", "event_id").limit(1)
    run_phase(ev)  # all real events; watermark advances at phase end
    # the sentinel phase comes BEFORE the late injection: after phase 1
    # alone the watermark is only max(real ts) - 10min, so on a day-one
    # table (one event: earliest == latest) the "late" duplicate's window
    # would still be OPEN and Spark would legitimately aggregate it
    # (round-8 single-row sweep caught exactly that as a doubled count).
    # Phase 2's far-future sentinel closes every real window first; the
    # phase-3 duplicate is then below the watermark on EVERY fixture.
    run_phase(sentinel("2100-01-01 00:00:00"))
    run_phase(late_dup.unionByName(sentinel("2101-01-01 00:00:00")))

    return (
        spark.read.parquet(out)
        .filter(F.col("window_start") < F.lit("2090-01-01").cast("timestamp"))
        .select(
            "window_start", "window_end", "event_type", "n_events", "total_value"
        )
    )


@register(
    "stream_jdbc_sink_e2e",
    oracle="""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY event_type
""",
    doc="streaming export into a relational store: file stream -> "
    "foreachBatch JDBC append into embedded Derby -> range-partitioned "
    "parallel JDBC read-back -> aggregate. The reference conduit's "
    "database-facing twin (VoltDB-side JDBC instead of Hive-side ORC); "
    "the sink database is recreated per run so availableNow append is "
    "deterministic, and each micro-batch writes through one JDBC "
    "connection per partition (HiveExportClient.java:129-135 "
    "parallel-stream shape).",
)
def stream_jdbc_sink_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_export_spark.queries.connector_queries import (
        DERBY_DRIVER,
        scratch_dir,
    )
    from hive_export_spark.sources.jdbc import read_jdbc_auto, write_jdbc

    base = scratch_dir("stream_jdbc_sink")
    db, ckpt = f"{base}/db", f"{base}/ckpt"
    # only the checkpoint is recreated per run — deleting a Derby database
    # directory the embedded engine may still have booted (bench invokes
    # this query repeatedly in one JVM) corrupts the next boot; instead the
    # sink table itself is replaced by batch 0 below
    shutil.rmtree(ckpt, ignore_errors=True)
    url = f"jdbc:derby:{db};create=true"

    stream = read_stream_from_table(spark, "events", sf_dir).select(
        "event_id", "event_type", "value"
    )

    # reset the sink BEFORE the stream starts: an empty overwrite is a
    # DROP+CREATE at the JDBC table level, so stale rows from a prior run
    # (or prior scale factor) cannot survive even if this run's source
    # yields no batches at all — relying on batch 0 to overwrite would
    # silently keep them in that case
    write_jdbc(
        load_table(spark, "events", sf_dir)
        .select("event_id", "event_type", "value")
        .limit(0),
        url,
        "events_sink",
        mode="overwrite",
        driver=DERBY_DRIVER,
    )

    def jdbc_sink(batch_df: DataFrame, batch_id: int) -> None:
        # the table was reset above; every micro-batch appends
        write_jdbc(batch_df, url, "events_sink", mode="append", driver=DERBY_DRIVER)

    q = (
        stream.writeStream.foreachBatch(jdbc_sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    back = read_jdbc_auto(
        spark,
        url,
        "events_sink",
        "event_id",
        num_partitions=8,
        driver=DERBY_DRIVER,
    )
    return back.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias(
            "sum_value"
        ),
    )


@register(
    "stream_stream_left_outer_join",
    oracle="""
SELECT c.event_id AS click_id, p.event_id AS p_id
FROM events c LEFT JOIN events p
  ON c.user_id = p.user_id
 AND p.event_type = 'purchase'
 AND p.ts >= c.ts - INTERVAL 1 HOUR
 AND p.ts <= c.ts + INTERVAL 1 HOUR
WHERE c.event_type = 'click'
""",
    doc="watermarked stream-stream LEFT OUTER interval join: unmatched "
    "clicks must be emitted null-padded, which only happens once BOTH "
    "watermarks pass a row's join window — so after the real data drains, "
    "a second availableNow run on the same checkpoint appends one "
    "far-future sentinel per side (sentinels must survive each side's "
    "event-type filter: watermarks track post-filter rows), flushing "
    "every pending null emission. Result equals the batch left join; an "
    "inner join or an unflushed outer would drop the null rows and "
    "hash-mismatch.",
)
def stream_stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_export_spark.queries.connector_queries import scratch_dir

    base = scratch_dir("stream_ssloj")
    src, out, ckpt = f"{base}/src", f"{base}/out", f"{base}/ckpt"
    for p in (src, out, ckpt):
        shutil.rmtree(p, ignore_errors=True)

    ev = load_table(spark, "events", sf_dir).select(
        "user_id", "ts", "event_id", "event_type"
    )

    def run_phase(df: DataFrame) -> None:
        df.coalesce(1).write.mode("append").parquet(src)
        schema = spark.read.parquet(src).schema
        stream = spark.readStream.schema(schema).parquet(src)
        clicks = (
            stream.filter(F.col("event_type") == "click")
            .select(
                "user_id",
                F.col("ts").alias("click_ts"),
                F.col("event_id").alias("click_id"),
            )
            .withWatermark("click_ts", "2 hours")
        )
        purchases = (
            spark.readStream.schema(schema)
            .parquet(src)
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
            "left_outer",
        ).select("click_id", "click_ts", "p_id")
        q = (
            joined.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def sentinel(event_type: str, uid: int) -> DataFrame:
        return (
            ev.limit(1)
            .withColumn("ts", F.lit("2100-01-01 00:00:00").cast("timestamp"))
            .withColumn("event_type", F.lit(event_type))
            .withColumn("user_id", F.lit(uid).cast("long"))
            .withColumn("event_id", F.lit(-1).cast("long"))
        )

    run_phase(ev)
    run_phase(sentinel("click", -1).unionByName(sentinel("purchase", -2)))
    return (
        spark.read.parquet(out)
        .filter(F.col("click_ts") < F.lit("2090-01-01").cast("timestamp"))
        .select("click_id", "p_id")
    )


@register(
    "stream_stateful_totals",
    oracle="""
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
       CAST(MAX(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS max_value
FROM events GROUP BY user_id
""",
    doc="custom stateful streaming operator through the gate "
    "(streaming.stateful.running_user_totals, applyInPandasWithState — "
    "the sanctioned escape hatch SURVEY section 2.2 names for state "
    "machines built-in windows can't express): per-user running "
    "(count, sum, max) accumulated across micro-batches in the "
    "checkpointed state store, final state per user compared to the "
    "batch aggregate. Values stream as exact integer cents (whole "
    "cents in a double are exact to 2^53), so the Python-side float "
    "accumulation is order-insensitive and hash-stable against the "
    "oracle's decimal sum. State is one constant-width tuple per user "
    "— store size grows with distinct keys, not events.",
)
def stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_export_spark.queries.connector_queries import sf_scratch_dir
    from hive_export_spark.streaming.stateful import running_user_totals

    # split the source into 4 files and feed them one per micro-batch:
    # the per-user state genuinely persists across batches (a single-file
    # source would collapse the run into one batch and never exercise the
    # state store's cross-batch path)
    # sf-keyed on the full fixture path (sf_scratch_dir): a _SUCCESS-cached
    # dir from another fixture root in the same process must not be reused
    src = sf_scratch_dir("stateful_src", sf_dir)
    if not os.path.exists(f"{src}/_SUCCESS"):
        shutil.rmtree(src, ignore_errors=True)
        load_table(spark, "events", sf_dir).select(
            "user_id", "value"
        ).repartition(4).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select(
            "user_id",
            # exact cents: DECIMAL(12,2) == value for every fixture row, so
            # *100 is integral; int-valued doubles sum exactly in any order
            (F.col("value").cast("decimal(12,2)") * 100)
            .cast("double")
            .alias("value"),
        )
    )
    # fixed sink name, previous run's view dropped first: a per-call uuid
    # name would leak one driver-memory table per invocation (bench runs
    # each query 4x in one session)
    name = "stateful_totals_gate"
    spark.catalog.dropTempView(name)
    q = (
        running_user_totals(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # last update per user (n_events strictly increases) = final state
    return spark.sql(
        f"""
        SELECT user_id, n_events,
               CAST(total_value / 100 AS DOUBLE) AS total_value,
               CAST(max_value / 100 AS DOUBLE) AS max_value
        FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                       ORDER BY n_events DESC) AS rn
          FROM {name}
        ) WHERE rn = 1
        """
    )


# --- second-generation stateful API (transformWithState) -------------------
# Registered ONLY when the worker protocol can actually run here (it is
# protobuf-framed; see streaming.stateful.has_tws_runtime). In protobuf-less
# environments the name is absent from the registry — not a permanently
# red/skipped entry — and self-activates the moment the env supports it.
from hive_export_spark.streaming.stateful import has_tws_runtime  # noqa: E402

if has_tws_runtime():

    @register(
        "stream_stateful_totals_tws",
        oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
       CAST(MAX(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS max_value
FROM events GROUP BY event_type
""",
        doc="custom stateful operator through the SECOND stateful seam "
        "(transformWithStateInPandas, Spark 4's explicit-ValueState API): "
        "per-event-type running (count, sum, max) across micro-batches, "
        "final state vs the batch aggregate — the typed-state twin of "
        "stream_stateful_totals (applyInPandasWithState). Values stream "
        "as exact integer cents so Python float accumulation is "
        "order-insensitive and hash-stable.",
    )
    def stream_stateful_totals_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
        from hive_export_spark.queries.connector_queries import sf_scratch_dir
        from hive_export_spark.streaming.stateful import running_type_totals_tws

        src = sf_scratch_dir("tws_src", sf_dir)
        if not os.path.exists(f"{src}/_SUCCESS"):
            shutil.rmtree(src, ignore_errors=True)
            load_table(spark, "events", sf_dir).select(
                "event_type",
                (F.col("value").cast("decimal(12,2)") * 100)
                .cast("double")
                .alias("value"),
            ).repartition(4).write.parquet(src)
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        name = "stateful_totals_tws_gate"
        spark.catalog.dropTempView(name)
        q = (
            running_type_totals_tws(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.sql(
            f"""
            SELECT event_type, n_events,
                   CAST(total_value / 100 AS DOUBLE) AS total_value,
                   CAST(max_value / 100 AS DOUBLE) AS max_value
            FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                           ORDER BY n_events DESC) AS rn
              FROM {name}
            ) WHERE rn = 1
            """
        )


@register(
    "stream_static_enrich_join",
    oracle="""
SELECT c_mktsegment,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
""",
    doc="stream-static enrichment join as a REAL streaming query: the "
    "events file stream joins a STATIC customer dimension (broadcast — "
    "the dim is re-resolved per micro-batch, needs no watermark and "
    "holds no join state), enriched rows land append-only in the sink, "
    "then the read-back aggregates per market segment. This is the "
    "canonical streaming-ETL shape — enrich a firehose against a "
    "slowly-changing dim at line rate; per-batch broadcast keeps it "
    "shuffle-free on the stream side at any scale.",
)
def stream_static_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid as _uuid

    ev = read_stream_from_table(spark, "events", sf_dir)
    dim = load_table(spark, "customer", sf_dir).select(
        F.col("c_custkey"), F.col("c_mktsegment")
    )
    enriched = ev.join(
        # customer dim scales with SF: no hint, planner picks by size
        dim, ev.user_id == dim.c_custkey, "inner"
    ).select("event_id", "c_mktsegment", "value")
    name = f"gate_sse_{_uuid.uuid4().hex[:8]}"
    q = (
        enriched.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table(name)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)"))
            .cast("double")
            .alias("total_value"),
        )
    )


@register(
    "stream_window_topk",
    oracle="""
WITH agg AS (
  -- ts IS NOT NULL: Spark's streaming window() has no bucket for a
  -- NULL event time (round-9 all-NULL sweep)
  SELECT CAST(floor(epoch(time_bucket(INTERVAL '1 hour', ts))) AS BIGINT)
           AS window_epoch,
         user_id,
         SUM(CAST(value AS DECIMAL(12,2))) AS sv
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
)
SELECT window_epoch, user_id,
       CAST(sv AS DOUBLE) AS total_value,
       CAST(rk AS INTEGER) AS rk
FROM (
  SELECT window_epoch, user_id, sv,
         ROW_NUMBER() OVER (PARTITION BY window_epoch
                            ORDER BY sv DESC, user_id) AS rk
  FROM agg
) WHERE rk <= 3
""",
    doc="streaming per-window top-k: a REAL streaming query aggregates "
    "sum(value) per (1h tumbling window, user) over the events file "
    "stream (complete output mode, memory sink, availableNow), then "
    "the top-3 users per window are ranked over the finalized state — "
    "the leaderboard shape Structured Streaming cannot express "
    "directly (no rank over streaming aggregates), composed as "
    "stream-agg + batch-rank exactly the way production does it with "
    "foreachBatch. Complete mode here is the CORRECTNESS gate; the "
    "production shape documented in SCALING.md is append mode + "
    "watermark with the rank in foreachBatch per finalized window. "
    "Decimal sums keep the ranking deterministic across engines; "
    "(sum, user) total order pins ties.",
)
def stream_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid as _uuid

    from pyspark.sql import Window as W

    ev = read_stream_from_table(spark, "events", sf_dir)
    agg = (
        ev.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("user_id")
        )
        .agg(F.sum(F.col("value").cast("decimal(12,2)")).alias("sv"))
    )
    name = f"gate_swt_{_uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = spark.table(name).select(
        F.unix_timestamp(F.col("w.start")).cast("bigint").alias("window_epoch"),
        "user_id",
        "sv",
    )
    w_rank = W.partitionBy("window_epoch").orderBy(
        F.col("sv").desc(), "user_id"
    )
    return (
        final.withColumn("rk", F.row_number().over(w_rank))
        .filter(F.col("rk") <= 3)
        .select(
            "window_epoch",
            "user_id",
            F.col("sv").cast("double").alias("total_value"),
            F.col("rk").cast("int").alias("rk"),
        )
    )


@register(
    "stream_session_window_native",
    oracle="""
WITH flagged AS (
  -- ts IS NOT NULL: a NULL event time cannot join (or open) a session
  -- window on the Spark side (round-9 all-NULL sweep)
  SELECT user_id, ts, event_id, value,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts, event_id, value,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sess_no
  FROM flagged
)
SELECT user_id,
       CAST(floor(epoch(MIN(ts))) AS BIGINT) AS session_start_epoch,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM sess GROUP BY user_id, sess_no
""",
    doc="NATIVE session_window() aggregation (the engine-managed merging "
    "session operator, not the gaps-and-islands reformulation): "
    "per-user sessions with a 30-minute inactivity gap, each session's "
    "start/count/sum. Spark merges overlapping [ts, ts+gap) windows in "
    "the aggregation operator itself — the same code path Structured "
    "Streaming uses for stateful session windows — while the oracle "
    "independently derives identical sessions via lag/running-sum "
    "islands (break iff gap STRICTLY > 30 min on both sides: the merge "
    "boundary is INCLUSIVE — Spark merges windows when the next start "
    "<= the previous end, so an event exactly gap after the previous "
    "one joins the session; probed round-7 wave 8 with an exact-30min "
    "pair spanning epoch zero). Decimal sums; session identity "
    "pinned by its exact start timestamp.",
)
def stream_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), F.col("user_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "user_id",
            F.floor(F.unix_timestamp(F.col("w.start"))).cast("bigint").alias(
                "session_start_epoch"
            ),
            "n_events",
            "total_value",
        )
    )


@register(
    "stream_union_sources",
    oracle="""
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY event_type
""",
    doc="multi-source stream union: the events firehose split across TWO "
    "independent file-stream sources (odd/even user shards written to "
    "separate directories — the multi-datacenter / multi-topic ingest "
    "shape), unioned INSIDE one streaming query, aggregated per type, "
    "and reconciled against the unsharded batch total. Each source "
    "keeps its own file tracking; union of streams is append-safe with "
    "no state of its own. Scratch shards are _SUCCESS-cached per sf. "
    "The shard split is TOTAL: coalesce(pmod(user_id,2),0) routes "
    "anonymous (NULL user_id) and negative-id traffic deterministically "
    "— a bare `user_id % 2 == k` pair silently drops NULL rows from "
    "BOTH shards (NULL % 2 is NULL; round-7 NULL-key wave).",
)
def stream_union_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid as _uuid

    from hive_export_spark.queries.connector_queries import sf_scratch_dir

    ev = load_table(spark, "events", sf_dir)
    # v2: the scratch key is content-fingerprinted but NOT code-versioned,
    # so the split-logic change (total NULL-safe routing) needs a new name
    # or a pre-fix cache written for the same fixture content would be
    # reused with the NULL rows already missing
    base = sf_scratch_dir("stream_union_v2", sf_dir)
    shard_key = F.coalesce(F.pmod(F.col("user_id"), F.lit(2)), F.lit(0))
    shards = []
    for name, cond in (("odd", shard_key == 1),
                       ("even", shard_key == 0)):
        path = os.path.join(base, name)
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            ev.filter(cond).select(
                "event_id", "event_type", "value"
            ).repartition(2).write.mode("overwrite").parquet(path)
        schema = spark.read.parquet(path).schema
        shards.append(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
        )
    unioned = shards[0].unionByName(shards[1])
    name = f"gate_sus_{_uuid.uuid4().hex[:8]}"
    q = (
        unioned.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)"))
            .cast("double")
            .alias("total_value"),
        )
    )


def cdc_committed_snapshots(state: str, below: int | None = None) -> list[str]:
    """Snapshot versions on DISK (newest last), optionally only those
    written by batches before ``below``. Reading the pointer from storage
    — not from driver memory — is what makes the CDC merge restart-safe:
    after a crash the checkpoint skips committed batches, and the first
    new batch must find the snapshot its predecessor wrote, which only
    the filesystem remembers. Only versions with a _SUCCESS marker count
    (a half-written snapshot from a crashed batch is invisible, and the
    restarted batch overwrites it idempotently)."""
    if not os.path.isdir(state):
        return []
    vs = sorted(
        d for d in os.listdir(state)
        if d.startswith("v")
        and os.path.exists(os.path.join(state, d, "_SUCCESS"))
        and (below is None or int(d[1:]) < below)
    )
    return [os.path.join(state, d) for d in vs]


def cdc_merge_fn(state: str):
    """foreachBatch MERGE for a versioned-snapshot CDC table: union the
    batch with the newest committed snapshot BELOW this batch id (read
    from disk, never from a driver-memory pointer), resolve per key with
    max-seq-wins, write snapshot v{batch_id}. Restart-safe by
    construction: a fresh process resumes from whatever the last
    committed batch persisted."""

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        cur = batch_df.select("o_orderkey", "seq", "op", "status")
        prev = cdc_committed_snapshots(state, below=int(batch_id))
        if prev:
            cur = s.read.parquet(prev[-1]).unionByName(cur)
        merged = cur.groupBy("o_orderkey").agg(
            F.max_by(F.struct("seq", "op", "status"), F.col("seq")).alias("r")
        ).select(
            "o_orderkey",
            F.col("r.seq").alias("seq"),
            F.col("r.op").alias("op"),
            F.col("r.status").alias("status"),
        )
        merged.write.mode("overwrite").parquet(f"{state}/v{int(batch_id):05d}")

    return merge


@register(
    "stream_cdc_apply",
    oracle="""
SELECT o_orderkey,
       -- the changelog's true fixed point: wave 2 only UPDATEs keys
       -- whose status is NON-NULL and differs from 'O' (a NULL <> 'O'
       -- predicate selects nothing), so NULL-status keys keep wave 1's
       -- INSERT status (round-9 all-NULL sweep); identical to the bare
       -- o_orderstatus on any corpus without NULL statuses
       CASE WHEN o_orderstatus IS NOT NULL AND o_orderstatus <> 'O'
            THEN o_orderstatus ELSE 'O' END AS status
FROM orders WHERE o_orderkey % 97 <> 0
""",
    doc="streaming CDC apply — the MERGE-into-keyed-table pattern "
    "(Delta/Hudi upsert semantics) on plain parquet via versioned "
    "snapshots: a 3-wave changelog (seq 1 INSERT every key with status "
    "'O', seq 2 UPDATE keys whose true status differs, seq 3 DELETE "
    "keys divisible by 97) is streamed file-per-micro-batch "
    "(maxFilesPerTrigger=1, availableNow), and each foreachBatch "
    "merges batch rows into the previous snapshot with max-seq-wins "
    "per key, writing a NEW immutable snapshot version per batch "
    "(never read-and-overwrite in place — the transaction-log trick "
    "that makes the merge restart-safe). The previous-snapshot pointer "
    "is recovered from STORAGE inside every merge (newest "
    "_SUCCESS-marked version below the current batch id), never from "
    "driver memory, so a restarted query whose checkpoint skips "
    "committed batches still resumes from the state those batches "
    "wrote. Deletes persist as tombstones "
    "inside snapshots so late-arriving lower-seq rows can never "
    "resurrect a key across batch boundaries; they are filtered only "
    "at final read. The merge is batch-boundary-invariant, so the "
    "oracle is simply the changelog's fixed point computed from "
    "orders. Scale shape: each merge is one key-partitioned "
    "max_by aggregation over state+batch — at real scale state would "
    "be bucketed by key so the merge co-partitions without reshuffling "
    "state.",
)
def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_export_spark.queries.connector_queries import scratch_dir

    base = scratch_dir("stream_cdc_apply")
    src, ckpt, state = f"{base}/chg", f"{base}/ckpt", f"{base}/state"
    for p in (src, ckpt, state):
        shutil.rmtree(p, ignore_errors=True)

    orders = load_table(spark, "orders", sf_dir)
    waves = [
        orders.select(
            "o_orderkey",
            F.lit(1).alias("seq"),
            F.lit("I").alias("op"),
            F.lit("O").alias("status"),
        ),
        orders.where(F.col("o_orderstatus") != "O").select(
            "o_orderkey",
            F.lit(2).alias("seq"),
            F.lit("U").alias("op"),
            F.col("o_orderstatus").alias("status"),
        ),
        orders.where(F.col("o_orderkey") % 97 == 0).select(
            "o_orderkey",
            F.lit(3).alias("seq"),
            F.lit("D").alias("op"),
            F.lit(None).cast("string").alias("status"),
        ),
    ]
    # one file per wave -> one micro-batch per wave under maxFilesPerTrigger
    for w in waves:
        w.coalesce(1).write.mode("append").parquet(src)

    q = (
        spark.readStream.schema(
            "o_orderkey long, seq int, op string, status string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(cdc_merge_fn(state))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    snaps = cdc_committed_snapshots(state)
    assert len(snaps) >= 2, "expected multiple micro-batches"
    final = spark.read.parquet(snaps[-1])
    return final.where(F.col("op") != "D").select("o_orderkey", "status")

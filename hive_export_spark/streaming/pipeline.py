"""Streaming pipeline operators.

The reference's delivery model (SURVEY.md section 3.3) maps 1:1 onto
Structured Streaming:

- export block (onBlockStart / processRow xN / onBlockCompletion,
  HiveExportClient.java:171-196)            -> micro-batch
- RestartBlockException block replay (:159-162, :190-196)
                                            -> checkpointed offset replay
- Hive transaction-batch atomic commit (HivePartitionStream.java:141-174)
                                            -> file sink's _spark_metadata
                                               log entry per batch
- per-source decoder thread + 4 writer threads (HiveSink.java:45-56)
                                            -> executor task parallelism

The window/dedup operators below take and return plain DataFrames, so the
SAME function runs in batch mode (for the DuckDB-oracle correctness gate)
and in streaming mode (with watermarks, verified in tests/test_streaming.py).
At scale, event-time windows shuffle once on (key, window); state-store size
is bounded by the watermark horizon.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from hive_export_spark.config import UNSPECIFIED_TOKEN
from hive_export_spark.operators.parity import export_pipeline, route_partitions


def tumbling_window_agg(
    df: DataFrame,
    time_col: str = "ts",
    duration: str = "1 hour",
    keys: tuple[str, ...] = ("event_type",),
    watermark: str | None = None,
) -> DataFrame:
    """Fixed (tumbling) event-time windows: count + exact decimal sum per
    (window, keys). With `watermark` set and a streaming input, state is
    purged past the horizon and late rows are dropped."""
    if watermark:
        df = df.withWatermark(time_col, watermark)
    return (
        df.groupBy(F.window(time_col, duration).alias("w"), *keys)
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *keys,
            "n_events",
            "total_value",
        )
    )


def sliding_window_agg(
    df: DataFrame,
    time_col: str = "ts",
    duration: str = "1 hour",
    slide: str = "30 minutes",
    keys: tuple[str, ...] = ("event_type",),
    watermark: str | None = None,
) -> DataFrame:
    """Sliding (hopping) windows: each row lands in duration/slide windows."""
    if watermark:
        df = df.withWatermark(time_col, watermark)
    return (
        df.groupBy(F.window(time_col, duration, slide).alias("w"), *keys)
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *keys,
            "n_events",
        )
    )


def session_window_agg(
    df: DataFrame,
    time_col: str = "ts",
    gap: str = "30 minutes",
    keys: tuple[str, ...] = ("user_id",),
    watermark: str | None = None,
) -> DataFrame:
    """Session windows: activity bursts separated by >= `gap` of silence.

    Spark's session_window end = last event + gap (exclusive horizon).
    In batch SQL this is the gaps-and-islands pattern; in streaming, Spark
    merges session state incrementally — same function serves both.
    """
    if watermark:
        df = df.withWatermark(time_col, watermark)
    return (
        df.groupBy(F.session_window(time_col, gap).alias("w"), *keys)
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            *keys,
            "n_events",
        )
    )


def streaming_dedup(
    df: DataFrame,
    keys: tuple[str, ...] = ("event_id",),
    time_col: str = "ts",
    watermark: str | None = None,
) -> DataFrame:
    """Exactly-once-per-key dedup.

    Streaming (watermark set): dropDuplicatesWithinWatermark — state bounded
    by the watermark horizon, the scale-safe form of streaming dedup.
    Batch (no watermark): plain dropDuplicates over the keys.
    """
    if watermark:
        return df.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark(
            list(keys)
        )
    return df.dropDuplicates(list(keys))


def streaming_export(
    stream_df: DataFrame,
    out_path: str,
    checkpoint_path: str,
    partition_cols: list[str],
    token: str = UNSPECIFIED_TOKEN,
    fmt: str = "parquet",
    available_now: bool = True,
    timezone: str = "UTC",
) -> StreamingQuery:
    """The reference's whole conduit as one streaming query: decode ->
    JSON-encode -> token-substitute -> partition-route -> exactly-once
    partitioned write (R1-R11).

    Spark's built-in file sink commits each micro-batch by writing its
    file list to ``out_path/_spark_metadata/<batch>`` (the Hive tx-batch
    analog). A batch replayed after a crash (the RestartBlockException
    analog, HiveExportClient.java:159-162,190-196) is skipped if its log
    entry exists; otherwise its files are written again and only the new
    attempt's files are logged. Spark readers list files through that log,
    so each row reads back once. A non-Spark reader of the directory sees
    every file on disk, including a crashed attempt's orphans.

    available_now drains the source then stops (tests, registry queries);
    a production run leaves the trigger continuous.
    """
    routed = route_partitions(
        export_pipeline(stream_df, partition_cols, token, timezone=timezone),
        partition_cols,
    )
    writer = (
        routed.writeStream.format(fmt)
        .partitionBy(*partition_cols)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start(out_path)

"""Real streaming-mode tests: the same operators the correctness gate runs
in batch mode, executed as Structured Streaming queries with watermarks,
checkpoints, and replay (the reference's block-redelivery semantics,
HiveExportClient.java:159-162, 190-196)."""

from __future__ import annotations

import os
import uuid
from collections import Counter

import pytest
from pyspark.sql import functions as F

from hive_export_spark.engine import ExportEngine
from hive_export_spark.operators.parity import export_pipeline
from hive_export_spark.sources import load_table, read_stream_from_table
from hive_export_spark.streaming import (
    streaming_dedup,
    streaming_export,
    tumbling_window_agg,
)


def _memory_sink(df, name, mode="complete"):
    return (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )


def test_streaming_tumbling_matches_batch(spark, sf_dir):
    batch = tumbling_window_agg(load_table(spark, "events", sf_dir))
    stream_in = read_stream_from_table(spark, "events", sf_dir)
    name = f"tumbling_{uuid.uuid4().hex[:8]}"
    q = _memory_sink(
        tumbling_window_agg(stream_in, watermark="1 day"), name
    )
    q.awaitTermination(120)
    streamed = spark.sql(f"SELECT * FROM {name}")
    b = {tuple(r) for r in batch.collect()}
    s = {tuple(r) for r in streamed.collect()}
    assert b == s and len(b) > 0


def test_streaming_dedup_within_watermark(spark, tmp_path):
    # duplicate event_ids across two files -> exactly one survivor per key
    src = tmp_path / "dup_src"
    rows = [(1, "2024-01-01 00:00:00", 10.0), (2, "2024-01-01 00:05:00", 20.0)]
    dup = [(1, "2024-01-01 00:01:00", 99.0), (3, "2024-01-01 00:06:00", 30.0)]
    cols = ["event_id", "ts", "value"]
    for i, batch in enumerate([rows, dup]):
        (
            spark.createDataFrame(batch, cols)
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .coalesce(1)
            .write.mode("append" if i else "overwrite")
            .parquet(str(src))
        )
    schema = spark.read.parquet(str(src)).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(
        str(src)
    )
    deduped = streaming_dedup(stream, keys=("event_id",), watermark="1 hour")
    name = f"dedup_{uuid.uuid4().hex[:8]}"
    q = (
        deduped.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql(f"SELECT event_id FROM {name}").collect()
    ids = sorted(r.event_id for r in out)
    assert ids == [1, 2, 3]


def test_streaming_export_exactly_once_on_restart(spark, sf_dir, tmp_path):
    # Replay with the same checkpoint must not duplicate rows — the
    # exactly-once analog of the reference's Hive tx-batch atomicity
    # (HivePartitionStream.java:152-154).
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    n_src = load_table(spark, "events", sf_dir).count()

    for _ in range(2):  # second run: checkpoint says everything is processed
        stream = read_stream_from_table(spark, "events", sf_dir)
        q = streaming_export(stream, out, ckpt, ["event_type"])
        q.awaitTermination(120)

    written = spark.read.parquet(out)
    assert written.count() == n_src
    # partition directories exist (dynamic partition creation)
    assert written.select("event_type").distinct().count() >= 5


def _delete_last_log_entry(log_dir: str) -> bool:
    """Delete the newest entry of a Spark metadata log (``N`` and its
    ``.N.crc``), which is what a crash before that entry's write leaves.
    Returns whether there was an entry to delete."""
    if not os.path.isdir(log_dir):
        return False
    entries = [int(n) for n in os.listdir(log_dir) if n.isdigit()]
    if not entries:
        return False
    last = max(entries)
    for name in (str(last), f".{last}.crc"):
        path = os.path.join(log_dir, name)
        if os.path.exists(path):
            os.remove(path)
    return True


@pytest.mark.parametrize("crash", ["before_checkpoint_commit", "before_sink_commit"])
def test_export_stream_replay_after_crash_is_exactly_once(spark, sf_dir, tmp_path, crash):
    # R11 replay (HiveExportClient.java:159-162,190-196): a crash after the
    # batch's files are written but before the checkpoint commits it
    # replays the batch on restart. before_sink_commit crashes one step
    # earlier, before the sink's _spark_metadata entry is written too, so
    # the first attempt's files are orphans on disk.
    engine = ExportEngine.from_properties(
        {
            "hive.uri": "thrift://metastore:9083",
            "hive.db": "analytics",
            "hive.table": "events",
            "hive.partition.columns": "EVENTS:EVENT_TYPE",
        }
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    want = Counter(
        tuple(r)
        for r in export_pipeline(load_table(spark, "events", sf_dir), ["event_type"])
        .select("event_type", "json_payload")
        .collect()
    )

    def run():
        stream = read_stream_from_table(spark, "events", sf_dir)
        engine.export_stream(stream, out, ckpt).awaitTermination(120)
        return export_pipeline(stream, ["event_type"]).schema

    run()
    assert _delete_last_log_entry(os.path.join(ckpt, "commits"))
    if crash == "before_sink_commit":
        # a sink without a commit log has no entry to delete
        _delete_last_log_entry(os.path.join(out, "_spark_metadata"))
    schema = run()

    written = spark.read.schema(schema).parquet(out)
    got = Counter(
        tuple(r) for r in written.select("event_type", "json_payload").collect()
    )
    n_got, n_want = sum(got.values()), sum(want.values())
    assert n_got == n_want
    assert got == want
    if crash == "before_sink_commit":
        # the first attempt's files stay on disk; Spark readers skip them
        on_disk = [
            f
            for d, _, files in os.walk(out)
            if "_spark_metadata" not in d
            for f in files
            if f.endswith(".parquet")
        ]
        assert len(on_disk) > len(written.inputFiles())


def test_streaming_late_data_dropped(spark, tmp_path):
    # Watermark guarantee (probed empirically): once a window has been
    # FINALIZED AND EMITTED in append mode, a late row targeting it is
    # dropped — emitted windows are immutable and never re-emitted.
    # (The row-level drop filter lags the reported watermark by one batch,
    # so the assertion is on the emitted-window guarantee, which is the
    # one Spark actually makes.)
    import glob
    import os
    import shutil
    import time

    src = tmp_path / "late_src"
    src.mkdir()
    batches = [
        [(1, "2024-01-01 10:00:00", "a", 1.0), (2, "2024-01-01 12:00:00", "a", 1.0)],
        [(3, "2024-01-01 14:00:00", "a", 1.0)],  # advances wm to 13:00
        [(4, "2024-01-01 10:30:00", "a", 1.0)],  # late: window already emitted
    ]
    cols = ["event_id", "ts", "event_type", "value"]
    # the file source orders batches by modification time: pin mtimes so
    # arrival order is deterministic
    now = time.time()
    for i, batch in enumerate(batches):
        staging = tmp_path / f"staging_{i}"
        (
            spark.createDataFrame(batch, cols)
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(str(staging))
        )
        part = glob.glob(str(staging / "part-*.parquet"))[0]
        dest = str(src / f"{i}_batch.parquet")
        shutil.copy(part, dest)
        os.utime(dest, (now + i * 30, now + i * 30))
    schema = spark.read.parquet(str(src)).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(
        str(src)
    )
    agg = tumbling_window_agg(stream, duration="1 hour", keys=("event_type",),
                              watermark="1 hour")
    name = f"late_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")  # append emits only finalized (closed) windows
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    finalized = spark.sql(f"SELECT * FROM {name}").collect()
    ten_oclock = [r for r in finalized if r.window_start.hour == 10]
    # exactly one emission, and the late row (event 4) is NOT in its count
    assert len(ten_oclock) == 1
    assert ten_oclock[0].n_events == 1

"""The partitioned write's routing: every shuffle partition writes, each
key still lands in one file, an unpartitioned export writes unrouted, and
a failed writer task leaves nothing visible."""

from __future__ import annotations

import os
import uuid
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hive_export_spark.config import ExportConfig
from hive_export_spark.engine import ExportEngine
from hive_export_spark.operators.parity import route_partitions, write_partitioned
from hive_export_spark.session import local_frame

_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("key", T.StringType()),
    T.StructField("value", T.DoubleType()),
])


def _rows(n: int, n_keys: int) -> list[tuple]:
    return [(i, f"k{i % n_keys:02d}", i * 0.5) for i in range(n)]


def _data_files(root: str) -> list[str]:
    """Committed data files: none under ``_temporary``, no markers or
    checksums."""
    out = []
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if d != "_temporary"]
        out += [
            os.path.join(dirpath, f) for f in filenames
            if not f.startswith((".", "_"))
        ]
    return out


@contextmanager
def _job_group(spark):
    """Run the body's jobs in a fresh job group; yields its id."""
    sc = spark.sparkContext
    group = f"parallel-write-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "write under test")
    try:
        yield group
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _result_stage(spark, group: str):
    """The last stage of the group's last job: the write's result stage."""
    tracker = spark.sparkContext.statusTracker()
    job = tracker.getJobInfo(max(tracker.getJobIdsForGroup(group)))
    return tracker.getStageInfo(max(job.stageIds))


def _engine(partition_columns: dict[str, list[str]], **kw) -> ExportEngine:
    return ExportEngine(ExportConfig(
        uri="thrift://localhost:9083", db="db", table="T",
        partition_columns=partition_columns, **kw,
    ))


def test_batch_export_writes_on_every_shuffle_partition(spark, tmp_path):
    """2k rows over 16 keys is a shuffle far under AQE's 1 MB advisory
    size: a repartition by columns alone is coalesced into one writer
    task. The routing's explicit count keeps the write stage at
    ``spark.sql.shuffle.partitions`` tasks, and hashing still gives each
    key exactly one file."""
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert n > 1
    df = local_frame(spark, _rows(2000, 16), _SCHEMA)
    out = str(tmp_path / "out")
    with _job_group(spark) as jobs:
        _engine({"T": ["KEY"]}).export_batch(df, out)
    assert _result_stage(spark, jobs).numTasks == n

    key_dirs = sorted(d for d in os.listdir(out) if d.startswith("key="))
    assert len(key_dirs) == 16
    for d in key_dirs:
        assert len(_data_files(os.path.join(out, d))) == 1, d
    assert spark.read.orc(out).count() == 2000


def test_unpartitioned_export_batch_round_trips(spark, tmp_path):
    """``allow_unpartitioned`` gives no partition columns: routing is a
    no-op (no exchange), and the export writes every row."""
    rows = _rows(300, 7)
    df = local_frame(spark, rows, _SCHEMA)
    assert route_partitions(df, []) is df

    out = str(tmp_path / "flat")
    _engine({}, allow_unpartitioned=True).export_batch(df, out)

    back = spark.read.orc(out)
    assert back.columns == ["json_payload"]
    got = sorted(
        (r["id"], r["key"], r["value"])
        for r in back.select(F.from_json("json_payload", _SCHEMA).alias("r"))
        .select("r.*").collect()
    )
    assert got == sorted(rows)


def test_failed_writer_task_leaves_no_visible_file(spark, tmp_path):
    """Job-level atomicity under parallel writers: one writer task
    raises while the other writer tasks have their keys' files open, and
    no data file becomes visible outside ``_temporary``."""
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert n > 1
    df = local_frame(spark, _rows(2000, 40), _SCHEMA)
    routed = route_partitions(
        df.select(F.to_json(F.struct("id", "value")).alias("json_payload"), "key"),
        ["key"],
    )
    # the error is evaluated after the exchange, in the writer task
    # that owns key k07
    poisoned = routed.withColumn(
        "json_payload",
        F.when(F.col("key") == "k07", F.raise_error(F.lit("poisoned key")))
        .otherwise(F.col("json_payload")),
    )
    out = str(tmp_path / "atomic")
    with _job_group(spark) as jobs:
        with pytest.raises(Exception, match="poisoned key"):
            write_partitioned(poisoned, out, ["key"], fmt="orc")
    assert _result_stage(spark, jobs).numTasks == n
    assert _data_files(out) == []

"""The export_blocks Python DataSource: Arrow batch decode path.

The connector re-expresses the reference's pluggable export-decoder seam
(HiveExportClient.java:constructExportDecoder) as a Spark DataSource;
these tests pin the Arrow hot path — RecordBatch yields, advertised-schema
conformance (casts + typed null-fill), blank-line and empty-block
tolerance — without going through the registered driver query.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hive_export_spark.sources.export_blocks import (
    ExportBlocksReader,
    register_export_blocks_source,
)


@pytest.fixture()
def block_dir(tmp_path):
    (tmp_path / "block-0.jsonl").write_text(
        '{"event_id": 1, "event_type": "click", "value": 1.5}\n'
        "\n"
        '{"event_id": 2, "value": 2.25}\n'
    )
    (tmp_path / "block-1.jsonl").write_text(
        '{"event_id": 3, "event_type": "purchase", "value": 10.0}\n'
    )
    (tmp_path / "block-2.jsonl").write_text("")  # empty export block
    return str(tmp_path)


def test_reader_yields_arrow_batches(spark, block_dir):
    import pyarrow as pa

    from pyspark.sql.types import StructType

    schema = StructType.fromDDL("event_id bigint, event_type string, value double")
    reader = ExportBlocksReader({"path": block_dir}, schema)
    parts = reader.partitions()
    assert len(parts) == 3  # one task per block file, empty one included
    batches = [b for p in parts for b in reader.read(p)]
    assert batches and all(isinstance(b, pa.RecordBatch) for b in batches)
    assert sum(b.num_rows for b in batches) == 3


def test_schema_conformance_and_null_fill(spark, block_dir):
    register_export_blocks_source(spark)
    df = (
        spark.read.format("export_blocks")
        # extra_col never appears in any block: must surface as typed nulls
        .schema("event_id bigint, event_type string, value double, extra_col string")
        .option("path", block_dir)
        .load()
    )
    rows = {r.event_id: r for r in df.collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[2].event_type is None  # key absent in that block's row
    assert all(r.extra_col is None for r in rows.values())
    assert rows[1].value == 1.5 and rows[3].event_type == "purchase"


def test_roundtrip_against_plain_read(spark, sf_dir, tmp_path):
    from hive_export_spark.sources import load_table

    ev = load_table(spark, "events", sf_dir).select("event_id", "event_type", "value")
    out = str(tmp_path / "blocks")
    ev.repartition(4).select(
        F.to_json(F.struct("event_id", "event_type", "value")).alias("v")
    ).write.text(out)
    register_export_blocks_source(spark)
    back = (
        spark.read.format("export_blocks")
        .schema("event_id bigint, event_type string, value double")
        .option("path", out)
        .load()
    )
    agg = lambda df: df.agg(  # noqa: E731
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(12,2)")).alias("s"),
    ).collect()[0]
    a, b = agg(ev), agg(back)
    assert (a.n, a.s) == (b.n, b.s)


def test_missing_dir_raises():
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL("event_id bigint")
    reader = ExportBlocksReader({"path": os.path.join("/nonexistent", "x")}, schema)
    with pytest.raises(FileNotFoundError):
        reader.partitions()


_TS_CASES = [
    # (json text, epoch microseconds it denotes)
    ("2024-01-02T03:04:05.123456", 1704164645123456),  # zone-less, fraction
    ("2024-01-02 03:04:05", 1704164645000000),  # zone-less, space
    ("2024-01-02T03:04:05+02:00", 1704157445000000),  # explicit offset
    ("2024-01-02T03:04:05Z", 1704164645000000),  # Zulu
]


@pytest.fixture()
def ts_block_dir(tmp_path):
    (tmp_path / "block-0.jsonl").write_text(
        "".join(
            f'{{"event_id": {i}, "ts": "{text}"}}\n'
            for i, (text, _) in enumerate(_TS_CASES)
        )
        + '{"event_id": 99, "ts": null}\n'
    )
    return str(tmp_path)


def test_timestamp_forms_decode_as_utc(ts_block_dir):
    """Every ISO form decodes; zone-less values read as UTC, the session
    zone, whether or not pyarrow's inference would recognize them."""
    import pyarrow as pa

    from pyspark.sql.types import StructType

    schema = StructType.fromDDL("event_id bigint, ts timestamp")
    reader = ExportBlocksReader({"path": ts_block_dir}, schema)
    (part,) = reader.partitions()
    got = {}
    for b in reader.read(part):
        assert b.schema.field("ts").type == pa.timestamp("us", tz="UTC")
        ids = b.column("event_id").to_pylist()
        us = b.column("ts").cast(pa.int64()).to_pylist()
        got.update(zip(ids, us))
    want = {i: us for i, (_, us) in enumerate(_TS_CASES)}
    want[99] = None
    assert got == want


def test_timestamp_forms_through_spark(spark, ts_block_dir):
    register_export_blocks_source(spark)
    df = (
        spark.read.format("export_blocks")
        .schema("event_id bigint, ts timestamp")
        .option("path", ts_block_dir)
        .load()
    )
    got = {
        r.event_id: r.us
        for r in df.select("event_id", F.unix_micros("ts").alias("us")).collect()
    }
    want = {i: us for i, (_, us) in enumerate(_TS_CASES)}
    want[99] = None
    assert got == want

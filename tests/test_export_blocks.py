"""The export_blocks source: export blocks decoded by a JVM file format.

The connector re-expresses the reference's pluggable export-decoder seam
(HiveExportClient.java:constructExportDecoder) as a Spark file format;
these tests pin, through ``spark.read.format("export_blocks")``, which
files are blocks, advertised-schema conformance (typed null-fill),
blank-line and empty-block tolerance, timestamp forms, the outcome of
each hostile line, and that the scan is a JVM file scan — without going
through the registered query.
"""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from hive_export_spark.sources.export_blocks import register_export_blocks_source

_DDL = "event_id bigint, event_type string, value double"


def _read(spark, path: str):
    register_export_blocks_source(spark)
    return spark.read.format("export_blocks").schema(_DDL).option("path", path).load()


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


def test_timestamp_forms_decode_as_utc_in_a_non_utc_session(spark, ts_block_dir):
    """A session built outside get_spark may run in another zone; the
    decoder still reads zone-less timestamps as UTC."""
    zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
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
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)
    want = {i: us for i, (_, us) in enumerate(_TS_CASES)}
    want[99] = None
    assert got == want


_NON_BLOCKS = ("README.txt", "part-00000.crc", ".x.crc", "_SUCCESS")


def test_missing_path_fails_the_load(spark, tmp_path):
    with pytest.raises(Exception, match="no such path"):
        _read(spark, str(tmp_path / "missing")).collect()


@pytest.mark.parametrize("names", [(), _NON_BLOCKS], ids=["empty", "no_blocks"])
def test_dir_without_block_files_fails_the_load(spark, tmp_path, names):
    for name in names:
        (tmp_path / name).write_text('{"event_id": 1}\n')
    with pytest.raises(Exception, match="no block files"):
        _read(spark, str(tmp_path)).collect()


def test_only_block_files_are_read(spark, block_dir):
    """README.txt, checksum files and _SUCCESS sit beside the blocks and
    hold lines that would fail the read if they were decoded."""
    for name in _NON_BLOCKS:
        with open(os.path.join(block_dir, name), "w") as fh:
            fh.write("not json\n")
    with open(os.path.join(block_dir, "part-00003"), "w") as fh:
        fh.write('{"event_id": 4, "event_type": "view", "value": 0.5}\n')
    got = sorted(r.event_id for r in _read(spark, block_dir).collect())
    assert got == [1, 2, 3, 4]


def test_scan_is_a_jvm_file_scan(spark, block_dir):
    """The optimized plan reads the blocks with a file-source scan, and
    nothing in the executed plan is a Python data-source scan."""
    qe = _read(spark, block_dir)._jdf.queryExecution()
    leaves = qe.optimizedPlan().collectLeaves()
    kinds = [
        (leaf.getClass().getSimpleName(), leaf.relation().getClass().getSimpleName())
        for leaf in (leaves.apply(i) for i in range(leaves.size()))
    ]
    assert kinds == [("LogicalRelation", "HadoopFsRelation")]
    physical = qe.executedPlan().toString()
    assert "FileScan json" in physical
    assert "Python" not in physical and "BatchScan" not in physical


_GOOD = b'{"event_id": 1, "event_type": "a", "value": 1.5}\n'

# hostile lines a FAILFAST read (the default mode) rejects
_MALFORMED = {
    "truncated": b'{"event_id": 2, "event_type": "b", "val',
    "bad_utf8": b'{"event_id": 2, "event_type": "b\xff\xfe", "value": 2.0}\n',
    "long_as_string": b'{"event_id": "2", "event_type": "b", "value": 2.0}\n',
    "double_as_string": b'{"event_id": 2, "event_type": "b", "value": "2.5"}\n',
    "int_past_int64": b'{"event_id": 9223372036854775808, "value": 2.0}\n',
}


@pytest.mark.parametrize("case", sorted(_MALFORMED))
def test_malformed_line_fails_the_read(spark, tmp_path, case):
    (tmp_path / "block-0.jsonl").write_bytes(_GOOD + _MALFORMED[case])
    with pytest.raises(Exception, match="FAILFAST"):
        _read(spark, str(tmp_path)).collect()


@pytest.mark.parametrize("nan", ["NaN", '"NaN"'], ids=["bare", "quoted"])
def test_nan_decodes_to_nan(spark, tmp_path, nan):
    (tmp_path / "block-0.jsonl").write_bytes(
        _GOOD + f'{{"event_id": 2, "event_type": "b", "value": {nan}}}\n'.encode()
    )
    rows = {r.event_id: r for r in _read(spark, str(tmp_path)).collect()}
    assert sorted(rows) == [1, 2] and rows[1].value == 1.5
    assert math.isnan(rows[2].value) and rows[2].event_type == "b"


def test_mode_option_passes_through(spark, tmp_path):
    """Spark's own ``mode`` option still applies: DROPMALFORMED keeps the
    good line of a block that FAILFAST would reject."""
    (tmp_path / "block-0.jsonl").write_bytes(_GOOD + _MALFORMED["long_as_string"])
    register_export_blocks_source(spark)
    df = (
        spark.read.format("export_blocks").schema(_DDL)
        .option("path", str(tmp_path)).option("mode", "DROPMALFORMED").load()
    )
    assert [r.event_id for r in df.collect()] == [1]

"""session.local_frame: driver-held rows as an Arrow-backed LocalRelation.

Pins the helper's contract — explicit-schema round trips, zero rows,
``Row``/dict inputs, strict verification — and the reason it exists:
the frame analyzes to a ``LocalRelation`` and collecting it submits no
Spark job (a list-built frame runs one job of Python-worker tasks).
A source scan keeps ``createDataFrame(`` out of the operator modules,
so list-built frames cannot creep back into operator hot paths.
"""

from __future__ import annotations

import ast
import math
import pathlib

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from hive_export_spark.session import local_frame
from tests.conftest import spark  # noqa: F401 — fixture

_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("n", T.IntegerType()),
        T.StructField("vec", T.ArrayType(T.DoubleType())),
    ]
)


def _job_ids(spark):  # noqa: F811
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def test_types_round_trip(spark):  # noqa: F811
    rows = [
        (1, "a", 7, [1.0, None, float("nan")]),
        (2**40, None, -(2**31), []),
        (None, "", None, None),
    ]
    df = local_frame(spark, rows, _SCHEMA)
    assert df.schema == _SCHEMA
    got = sorted(df.collect(), key=lambda r: (r.id is None, r.id or 0))
    assert [(r.id, r.name, r.n) for r in got] == [
        (1, "a", 7),
        (2**40, None, -(2**31)),
        (None, "", None),
    ]
    v = got[0].vec
    assert v[0] == 1.0 and v[1] is None and math.isnan(v[2])
    assert got[1].vec == [] and got[2].vec is None


def test_string_ids_and_zero_rows(spark):  # noqa: F811
    schema = T.StructType(
        [
            T.StructField("query_id", T.StringType()),
            T.StructField("cid", T.LongType()),
        ]
    )
    df = local_frame(spark, [("q-1", 3), ("q-2", 4)], schema)
    assert sorted(df.collect()) == [("q-1", 3), ("q-2", 4)]

    empty = local_frame(spark, [], schema)
    assert empty.schema == schema
    assert empty.collect() == []


def test_row_and_dict_inputs(spark):  # noqa: F811
    collected = local_frame(spark, [(5, "x", 1, [2.0])], _SCHEMA).collect()
    rows = collected + [
        Row(id=6, name="y", n=2, vec=[3.0]),
        {"id": 7, "vec": [4.0], "name": "z"},  # absent key reads as NULL
    ]
    got = sorted(local_frame(spark, rows, _SCHEMA).collect())
    assert got == [
        (5, "x", 1, [2.0]),
        (6, "y", 2, [3.0]),
        (7, "z", None, [4.0]),
    ]


@pytest.mark.parametrize(
    "bad",
    [
        (1.5, "a", 1, None),       # float into long: no truncation
        ("1", "a", 1, None),       # string into long: no parsing
        (True, "a", 1, None),      # bool into long
        (1, "a", 2**40, None),     # out of int range
        (1, "a", 1, [1]),          # int element into array<double>
        (1, "a", 1),               # row shorter than the schema
    ],
)
def test_value_outside_schema_raises(spark, bad):  # noqa: F811
    with pytest.raises((TypeError, ValueError)):
        local_frame(spark, [bad], _SCHEMA)


def test_non_nullable_field_rejects_none(spark):  # noqa: F811
    schema = T.StructType([T.StructField("id", T.LongType(), False)])
    with pytest.raises(ValueError):
        local_frame(spark, [(None,)], schema)


def test_local_relation_collects_without_a_job(spark):  # noqa: F811
    rows = [(i, str(i), i, [float(i)]) for i in range(16)]
    df = local_frame(spark, rows, _SCHEMA)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.lstrip().startswith("LocalRelation"), analyzed

    before = _job_ids(spark)
    assert len(df.collect()) == 16
    assert _job_ids(spark) == before

    # control: the list-built frame the helper replaces does run a job,
    # so the job-id probe above can see one
    listed = spark.createDataFrame(rows, _SCHEMA)
    before = _job_ids(spark)
    assert len(listed.collect()) == 16
    assert _job_ids(spark) - before


def _create_dataframe_calls(path: pathlib.Path) -> list[int]:
    tree = ast.parse(path.read_text(), filename=str(path))
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
    ]


def test_operators_build_driver_frames_with_local_frame():
    """Every driver-held frame in an operator or a registered query goes
    through local_frame: a ``createDataFrame(<list>)`` there would put a
    Python-worker job back into the plans that read it."""
    root = pathlib.Path(__file__).resolve().parents[1]
    package = root / "hive_export_spark"
    offenders = {
        str(p.relative_to(root)): lines
        for d in ("operators", "queries")
        for p in sorted((package / d).rglob("*.py"))
        if (lines := _create_dataframe_calls(p))
    }
    assert not offenders, (
        "build driver-held frames with hive_export_spark.session.local_frame, "
        f"not createDataFrame: {offenders}"
    )

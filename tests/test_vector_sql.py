"""The vector helpers of operators.similarity build one SQL expression each:
column names, F.col references and other helpers' results nest exactly,
names with special characters included; any other Column raises rather
than going through its printed form."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


def test_names_references_and_nested_helpers(spark):
    from hive_export_spark.operators.kmeans import _sq_l2
    from hive_export_spark.operators.similarity import (
        _as_double,
        cosine,
        dot,
        l2_norm,
    )

    df = spark.createDataFrame(
        [([3.0, 4.0], [4, 3], ([1.0, 2.0],))],
        "`my vec` array<double>, `b``q` array<int>, s struct<v: array<double>>",
    )
    row = df.select(
        dot("my vec", F.col("`b``q`")).alias("dot"),
        l2_norm(F.col("my vec")).alias("norm"),
        cosine(F.col("my vec"), _as_double("`b``q`")).alias("cos"),
        _sq_l2("s.v", _as_double(F.col("`b``q`"))).alias("d2"),
        l2_norm(_as_double(_as_double("s.v"))).alias("nested"),
    ).first()
    assert row.dot == 24.0
    assert row.norm == 5.0
    assert row.cos == 24.0 / 25.0
    assert row.d2 == 9.0 + 1.0
    assert row.nested == math.sqrt(5.0)


def test_other_columns_raise(spark):
    from hive_export_spark.operators.similarity import cosine, l2_norm

    with pytest.raises(TypeError, match="column name"):
        l2_norm(F.transform("v", lambda x: x * 2))
    with pytest.raises(TypeError, match="column name"):
        cosine("v", F.col("v") + 1)

"""SparkSession construction with scale-oriented defaults.

The engine targets large multi-executor clusters; these defaults are the
ones that matter at 100 TB (AQE, skew handling, broadcast thresholds,
Arrow for the few Pandas-UDF operators) while remaining correct on
``local[*]`` test runs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# The JVM half of the engine: the ``export_blocks`` file format, built from
# jvm/ExportBlocksFormat.java by tools/build_export_blocks_jar.py.
EXPORT_BLOCKS_JAR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "jvm", "export-blocks.jar"
)


def get_spark(
    app_name: str = "hive_export_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    Defaults chosen for scale:
    - AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
      and dynamic join-strategy switching replace hand-tuned partition counts.
    - UTC session timezone: deterministic timestamp semantics everywhere
      (the reference made the export timezone explicit config;
      HiveExportClient.java:74-77).
    - Arrow enabled: the sanctioned Python escape hatch is pandas_udf only.
    - The engine's jar on ``spark.jars``, after any jars the caller passes
      there: it registers the ``export_blocks`` format. ``spark.jars`` is
      read when the JVM starts, so it only takes effect on a new session.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    conf = dict(extra_conf or {})
    conf["spark.jars"] = ",".join(
        j for j in (conf.get("spark.jars"), EXPORT_BLOCKS_JAR) if j
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows, schema: StructType) -> DataFrame:
    """Driver-held rows as an Arrow-backed ``LocalRelation``.

    ``spark.createDataFrame(<list>, schema)`` parallelizes pickled rows
    and re-serializes them through a Python ``map``, so every plan that
    reads the frame runs a job whose tasks start Python workers. An
    Arrow table instead analyzes to a ``LocalRelation``: collecting it
    runs no job, and broadcasting it runs a JVM-only scan.

    ``rows`` are tuples or ``Row`` objects in ``schema`` field order, or
    dicts keyed by field name. Values are checked against ``schema`` with
    the same verifier the list form uses, so a value that does not fit
    its field raises instead of being coerced.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _make_type_verifier

    names = schema.names
    verify = _make_type_verifier(schema)
    values = []
    for row in rows:
        if isinstance(row, dict):
            row = tuple(row.get(n) for n in names)
        verify(row)
        values.append(row)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*values)) if values else [()] * len(names)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)

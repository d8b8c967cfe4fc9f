"""The ``export_blocks`` source: export-block directories decoded in the JVM.

The reference engine's whole job is decoding VoltDB export blocks with a
pluggable per-table decoder (HiveExportClient.java:constructExportDecoder,
the block-decode loop at HiveExportClient.java:176-187), in-process on the
JVM. Here the decoder is a JVM file format, ``jvm/ExportBlocksFormat.java``,
registered under the short name ``export_blocks`` by the engine's jar.
``session.get_spark`` puts the jar on ``spark.jars``, and
``register_export_blocks_source`` adds it at runtime to a session built
otherwise::

    spark.read.format("export_blocks").schema(ddl).option("path", dir).load()

Block format (deliberately reference-shaped): a directory of files, one
JSON object per line, one file per export block. Only ``*.jsonl`` and
``part-*`` files are blocks; ``*.crc`` and hidden (``.x``, ``_x``) files
are skipped, and a missing path or a directory with no block files fails
the load. The scan is Spark's JSON file source, so blocks are split and
packed into tasks like any other file scan, and no Python worker starts.
Like the reference, the decoder trusts the advertised schema instead of
inferring it per block: fields absent from a block come back as typed
nulls, blank lines and empty blocks are tolerated, and zone-less ISO
timestamps decode as UTC (``timeZone`` defaults to ``UTC``). A malformed
line fails the read (``mode`` defaults to ``FAILFAST``); Spark's own
``mode`` and JSON options pass through.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError

from hive_export_spark.session import EXPORT_BLOCKS_JAR


def _resolves(spark) -> bool:
    datasources = spark._jvm.org.apache.spark.sql.execution.datasources
    try:
        datasources.DataSource.lookupDataSource(
            "export_blocks", spark._jsparkSession.sessionState().conf()
        )
    except Py4JJavaError:
        return False
    return True


def register_export_blocks_source(spark) -> None:
    """Make the ``export_blocks`` format resolvable on the calling thread.

    The format is registered by the engine's jar. ``get_spark`` puts it on
    ``spark.jars``; in a session built otherwise (a driver's own plain
    builder, say) the format does not resolve, so the jar is added here
    with ``ADD JAR``. That adds it to the session's class loader and makes
    the loader the context class loader of the calling thread only, so a
    thread that reads blocks calls this before ``load()``. Raises
    ``RuntimeError`` naming the jar when the format still does not resolve.
    """
    if _resolves(spark):
        return
    jar = EXPORT_BLOCKS_JAR
    cause = None
    try:
        spark.sql(f"ADD JAR '{jar}'")
    except Py4JJavaError as exc:
        cause = exc
    if cause is None and _resolves(spark):
        return
    raise RuntimeError(
        f"the export_blocks format does not resolve even after ADD JAR {jar}: "
        f"start the session with spark.jars={jar} "
        "(hive_export_spark.session.get_spark does this)"
    ) from cause

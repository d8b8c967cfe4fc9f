"""The engine's jar: built from the committed source, put on the classpath
by ``get_spark`` beside the caller's jars, added at runtime to a session
built otherwise, and named in the error when it cannot be loaded.

The session tests start their own JVM in a subprocess: ``spark.jars`` is
read only when a JVM starts, and the shared test session has the engine's
jar already.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import textwrap
import zipfile

import duckdb

from hive_export_spark.registry import all_oracles
from hive_export_spark.session import EXPORT_BLOCKS_JAR

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE = os.path.join(ROOT, "hive_export_spark", "jvm", "ExportBlocksFormat.java")
SF_DIR = "/root/testdata/sf0.001"


def test_committed_jar_is_built_from_committed_source():
    """Rebuild with ``python tools/build_export_blocks_jar.py`` when this fails."""
    with open(SOURCE, "rb") as fh:
        want = hashlib.sha256(fh.read()).hexdigest()
    with zipfile.ZipFile(EXPORT_BLOCKS_JAR) as jar:
        recorded = jar.read("META-INF/export-blocks-source.sha256").decode().split()[0]
        service = jar.read(
            "META-INF/services/org.apache.spark.sql.sources.DataSourceRegister"
        ).decode().split()
        assert "hive_export_spark/jvm/ExportBlocksFormat.class" in jar.namelist()
    assert recorded == want
    assert service == ["hive_export_spark.jvm.ExportBlocksFormat"]


def _run(script: str, tmp_path) -> str:
    env = dict(os.environ, SPARK_DRIVER_MEMORY="512m", PYTHONPATH=ROOT)
    proc = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(script)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return proc.stdout


def test_get_spark_keeps_the_callers_jars(tmp_path):
    caller_jar = tmp_path / "caller.jar"
    with zipfile.ZipFile(caller_jar, "w") as jar:
        jar.writestr("caller-marker.txt", "x")
    out = _run(
        f"""
        from hive_export_spark.session import get_spark
        from hive_export_spark.sources.export_blocks import register_export_blocks_source
        spark = get_spark("jars", master="local[1]",
                          extra_conf={{"spark.jars": {str(caller_jar)!r}}})
        register_export_blocks_source(spark)
        loader = spark._jvm.org.apache.spark.util.Utils.getContextOrSparkClassLoader()
        print("JARS", spark.sparkContext.getConf().get("spark.jars"))
        print("MARKER", loader.getResource("caller-marker.txt") is not None)
        spark.stop()
        """,
        tmp_path,
    )
    assert f"JARS {caller_jar},{EXPORT_BLOCKS_JAR}\n" in out
    assert "MARKER True\n" in out


def test_plain_session_reads_blocks_after_a_runtime_add(tmp_path):
    """A driver builds its own session: no spark.jars, a non-UTC zone.
    ``source_export_blocks`` adds the jar itself and matches its oracle,
    also when run again from a second thread, whose context class loader
    does not have the jar yet."""
    out = _run(
        f"""
        import json, threading
        from pyspark.sql import SparkSession
        from hive_export_spark.registry import all_queries
        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.ui.enabled", "false")
                 .config("spark.sql.session.timeZone", "America/New_York")
                 .getOrCreate())
        query = all_queries()["source_export_blocks"]
        def rows():
            df = query(spark, {SF_DIR!r})
            return sorted(tuple(r) for r in df.collect())
        print("MAIN", json.dumps(rows()))
        got = {{}}
        thread = threading.Thread(target=lambda: got.update(rows=rows()))
        thread.start()
        thread.join()
        print("THREAD", json.dumps(got["rows"]))
        spark.stop()
        """,
        tmp_path,
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{SF_DIR}/events.parquet'")
    want = sorted(
        [list(r) for r in con.execute(all_oracles()["source_export_blocks"]).fetchall()]
    )
    assert want
    for label in ("MAIN", "THREAD"):
        line = next(x for x in out.splitlines() if x.startswith(label + " "))
        assert json.loads(line.split(" ", 1)[1]) == want, label


def test_session_that_cannot_load_the_jar_gets_a_clear_error(tmp_path):
    no_format = tmp_path / "no-format.jar"
    with zipfile.ZipFile(no_format, "w") as jar:
        jar.writestr("README.txt", "no data source here")
    out = _run(
        f"""
        from pyspark.sql import SparkSession
        from hive_export_spark.sources import export_blocks
        export_blocks.EXPORT_BLOCKS_JAR = {str(no_format)!r}
        spark = (SparkSession.builder.master("local[1]")
                 .config("spark.ui.enabled", "false").getOrCreate())
        try:
            export_blocks.register_export_blocks_source(spark)
        except RuntimeError as exc:
            print("ERROR", exc)
        spark.stop()
        """,
        tmp_path,
    )
    assert "ERROR the export_blocks format does not resolve" in out
    assert f"spark.jars={no_format}" in out

"""Build ``hive_export_spark/jvm/export-blocks.jar`` from its Java source.

The jar holds the compiled ``ExportBlocksFormat`` classes, the
``DataSourceRegister`` service entry that gives the format its short name
``export_blocks``, and the sha256 of the source it was built from, which
``tests/test_export_blocks_jar.py`` compares with the committed source.
Building needs a JDK (``javac``) and compiles against PySpark's own jars;
using the jar needs neither. Entries carry a fixed timestamp, so a rebuild
from the same source with the same JDK gives the same bytes.

    python tools/build_export_blocks_jar.py
"""

from __future__ import annotations

import hashlib
import os
import pathlib
import subprocess
import sys
import tempfile
import zipfile

import pyspark

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JVM_DIR = os.path.join(ROOT, "hive_export_spark", "jvm")
SOURCE = os.path.join(JVM_DIR, "ExportBlocksFormat.java")
JAR = os.path.join(JVM_DIR, "export-blocks.jar")
HASH_ENTRY = "META-INF/export-blocks-source.sha256"
SERVICE_ENTRY = "META-INF/services/org.apache.spark.sql.sources.DataSourceRegister"
SERVICE_CLASS = "hive_export_spark.jvm.ExportBlocksFormat"
_EPOCH = (1980, 1, 1, 0, 0, 0)


def source_sha256(path: str = SOURCE) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def build(jar: str = JAR) -> str:
    spark_jars = os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")
    with tempfile.TemporaryDirectory() as classes:
        subprocess.run(
            ["javac", "--release", "17", "-cp", spark_jars, "-d", classes, SOURCE],
            check=True,
        )
        entries = {
            str(p.relative_to(classes)): p.read_bytes()
            for p in pathlib.Path(classes).rglob("*.class")
        }
    entries[SERVICE_ENTRY] = f"{SERVICE_CLASS}\n".encode()
    entries[HASH_ENTRY] = f"{source_sha256()}  {os.path.basename(SOURCE)}\n".encode()
    with zipfile.ZipFile(jar, "w") as zf:
        for name in sorted(entries):
            zf.writestr(zipfile.ZipInfo(name, _EPOCH), entries[name], zipfile.ZIP_DEFLATED)
    return jar


if __name__ == "__main__":
    print(build(*sys.argv[1:]))

"""Connector round-trip queries: non-parquet file formats and JDBC.

These exist so the driver's correctness gate exercises the connector rows
of SURVEY.md section 2.2 ("parquet/ORC/CSV/JSON read+write", "JDBC read
(VoltDB-like source)") end-to-end, not just in unit tests. Each query
writes a projection of a source table through the connector and reads it
back; the oracle is the same projection straight off parquet, so any
fidelity loss in the connector (type mangling, null handling, partition
splits) shows up as a hash mismatch.

One probe per format (fmt_roundtrip_orc / _csv / _json) so a failure
localizes to a single connector. Output types are deliberately boring —
BIGINT / DOUBLE / VARCHAR only: the round-2 gate showed the driver's
normalization of DECIMAL values after a text round-trip drifts from both
Spark and DuckDB, and the probe's job is to grade the connector, not the
driver's decimal formatter.

At 100 TB these round-trips are not a pattern you'd run as a query — they
are correctness probes for the connector layer (the reference's analog:
the ORC write path in HivePartitionStream.java and the VoltDB JDBC-ish
export source, HiveExportClient.java:129-135).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_export_spark.registry import register
from hive_export_spark.sources import load_table
from hive_export_spark.sources.jdbc import read_jdbc_auto, write_jdbc

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


_SCRATCH_ROOTS: set[str] = set()


def _remove_scratch_root(root: str, pid: int) -> None:
    # a forked child inherits this handler; only the owner removes the tree
    if os.getpid() == pid:
        shutil.rmtree(root, ignore_errors=True)


def scratch_dir(name: str) -> str:
    """Deterministic per-process scratch path for connector round-trips.

    Repeated invocations of a registered query within one driver/bench
    session reuse (and overwrite) the same directory instead of leaking a
    fresh ``mkdtemp`` tree per call. The per-process root is removed
    when the process exits.
    """
    pid = os.getpid()
    root = os.path.join(tempfile.gettempdir(), f"hive_export_scratch_{pid}")
    if root not in _SCRATCH_ROOTS:
        _SCRATCH_ROOTS.add(root)
        atexit.register(_remove_scratch_root, root, pid)
    base = os.path.join(root, name)
    os.makedirs(base, exist_ok=True)
    return base


def sf_scratch_dir(name: str, sf_dir: str) -> str:
    """Scratch path for _SUCCESS-cached data derived from ``sf_dir``.

    Keyed on a hash of the FULL fixture path PLUS a content fingerprint
    (per-parquet size + mtime_ns, recursing into parquet DIRECTORIES so
    multi-file fixtures invalidate too): two fixture roots with the same
    leaf name must not reuse each other's cache, and — the subtler
    hazard — a fixture REGENERATED in place under an existing scratch
    tree must invalidate every derived cache (a stale IVF index or
    MinHash signature store against new fixtures would silently
    wrong-answer the probe queries). Regeneration changes mtime, so the
    key moves and the derived data rebuilds; sibling scratch trees for
    the SAME name with a superseded hash are pruned so regenerations
    don't accumulate stale cache trees unboundedly.
    """
    import hashlib

    # path-hash and content-hash are SEPARATE key segments: pruning
    # matches on (name, path-hash) so caches for different fixture roots
    # (sf0.001 vs sf0.01 in one session) never evict each other — only a
    # superseded content generation of the SAME fixture root is removed.
    ph = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    h = hashlib.md5()
    try:
        for fn in sorted(os.listdir(sf_dir)):
            if not fn.endswith(".parquet"):
                continue
            path = os.path.join(sf_dir, fn)
            if os.path.isdir(path):
                for dirpath, dirnames, filenames in os.walk(path):
                    dirnames.sort()
                    for leaf in sorted(filenames):
                        st = os.stat(os.path.join(dirpath, leaf))
                        rel = os.path.relpath(
                            os.path.join(dirpath, leaf), sf_dir
                        ).replace(os.sep, "/")
                        h.update(f"{rel}:{st.st_size}:{st.st_mtime_ns}".encode())
            else:
                st = os.stat(path)
                h.update(f"{fn}:{st.st_size}:{st.st_mtime_ns}".encode())
    except FileNotFoundError:
        pass
    key = f"{name}_{ph}_{h.hexdigest()[:12]}"
    out = scratch_dir(key)
    root = os.path.dirname(out)
    try:
        for sib in os.listdir(root):
            if sib.startswith(f"{name}_{ph}_") and sib != key:
                shutil.rmtree(os.path.join(root, sib), ignore_errors=True)
    except FileNotFoundError:
        pass
    return out


_FMT_ORACLE = """
SELECT l_orderkey,
       l_linenumber,
       CAST(l_quantity AS DOUBLE) AS l_qty,
       l_returnflag
FROM lineitem
"""


def _format_roundtrip(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    src = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("double").alias("l_qty"),
        "l_returnflag",
    )
    path = os.path.join(scratch_dir("fmt_roundtrip"), fmt)
    writer = src.write.mode("overwrite").format(fmt)
    if fmt == "csv":
        writer = writer.option("header", "true")
    writer.save(path)
    # explicit schema on read: CSV/JSON carry no types, and inference
    # is both slow (extra scan) and drift-prone
    reader = spark.read.format(fmt).schema(src.schema)
    if fmt == "csv":
        reader = reader.option("header", "true")
    return reader.load(path)


@register(
    "fmt_roundtrip_orc",
    oracle=_FMT_ORACLE,
    doc="ORC write/read-back fidelity probe; hash-compared against the "
    "parquet source (reference analog: HivePartitionStream.java:141-174).",
)
def fmt_roundtrip_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _format_roundtrip(spark, sf_dir, "orc")


@register(
    "fmt_roundtrip_csv",
    oracle=_FMT_ORACLE,
    doc="CSV (headered) write/read-back fidelity probe with explicit "
    "read schema; hash-compared against the parquet source.",
)
def fmt_roundtrip_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _format_roundtrip(spark, sf_dir, "csv")


@register(
    "fmt_roundtrip_json",
    oracle=_FMT_ORACLE,
    doc="JSON-lines write/read-back fidelity probe with explicit read "
    "schema; hash-compared against the parquet source.",
)
def fmt_roundtrip_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _format_roundtrip(spark, sf_dir, "json")


@register(
    "source_formats_roundtrip",
    oracle="""
SELECT l_orderkey,
       l_linenumber,
       CAST(l_quantity AS DOUBLE) AS l_qty,
       l_returnflag,
       f.fmt AS fmt
FROM lineitem, (VALUES ('orc'), ('csv'), ('json')) AS f(fmt)
""",
    doc="ORC + CSV + JSON write/read-back fidelity: one leg per format, "
    "tagged and unioned; hash-compared against the parquet source. "
    "Superseded in the driver window by the per-format fmt_roundtrip_* "
    "probes, kept registered for the combined-union shape.",
)
def source_formats_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    legs = [
        _format_roundtrip(spark, sf_dir, fmt).withColumn("fmt", F.lit(fmt))
        for fmt in ("orc", "csv", "json")
    ]
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


@register(
    "jdbc_roundtrip_derby",
    oracle="SELECT c_custkey, c_name, c_acctbal FROM customer",
    doc="JDBC connector end-to-end on embedded Derby (bundled with Spark): "
    "batched write, then a range-partitioned parallel read with automatic "
    "stride discovery (sources/jdbc.py) — the VoltDB-like per-partition "
    "stream shape of HiveExportClient.java:129-135.",
)
def jdbc_roundtrip_derby(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_name", "c_acctbal"
    )
    db = os.path.join(scratch_dir("jdbc_roundtrip"), "db")
    url = f"jdbc:derby:{db};create=true"
    write_jdbc(src, url, "customer_rt", mode="overwrite", driver=DERBY_DRIVER)
    return read_jdbc_auto(
        spark,
        url,
        "customer_rt",
        "c_custkey",
        num_partitions=8,
        driver=DERBY_DRIVER,
    )


@register(
    "fmt_schema_evolution",
    oracle="""
SELECT o_orderkey,
       o_orderstatus,
       CAST(o_totalprice AS DOUBLE) AS price,
       CASE WHEN o_orderkey % 2 = 1 THEN CAST(NULL AS VARCHAR)
            ELSE o_orderpriority END AS priority
FROM orders
""",
    doc="schema evolution across file generations (mergeSchema): batch 1 "
    "writes odd orderkeys WITHOUT the priority column, batch 2 writes "
    "even orderkeys WITH it — the lakehouse reality where a producer "
    "adds a field mid-stream (the reference handles this as a new "
    "AdvertisedDataSource generation, HiveExportClient.java: schema per "
    "generation; a file sink must instead reconcile at read time). The "
    "mergeSchema read unions the schemas, null-filling the old files; "
    "the oracle reconstructs exactly that null pattern from parquet.",
)
def fmt_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = scratch_dir("schema_evolution")
    shutil.rmtree(base, ignore_errors=True)
    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("price"),
        "o_orderpriority",
    )
    # generation 1: no priority column yet
    o.filter(F.col("o_orderkey") % 2 == 1).drop("o_orderpriority").write.parquet(
        f"{base}/t", mode="overwrite"
    )
    # generation 2: producer added the column
    o.filter(F.col("o_orderkey") % 2 == 0).withColumnRenamed(
        "o_orderpriority", "priority"
    ).write.parquet(f"{base}/t", mode="append")
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(f"{base}/t")
        .select("o_orderkey", "o_orderstatus", "price", "priority")
    )


@register(
    "source_export_blocks",
    oracle="""
SELECT event_type, COUNT(*) AS n_rows,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY event_type
""",
    doc="custom connector as a JVM file format — the reference's "
    "pluggable export-decoder seam "
    "(HiveExportClient.java:constructExportDecoder) re-expressed as a "
    "Spark data source registered by the engine's jar "
    "(jvm/ExportBlocksFormat.java, sources/export_blocks.py): events are "
    "first exported as line-JSON block files (the conduit's output "
    "format), then read back with spark.read.format('export_blocks'), a "
    "JSON file scan over the block files with no Python worker, and "
    "aggregated. Round-tripping the decimal sums proves the decoder is "
    "lossless on the double payload.",
)
def source_export_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_export_spark.sources.export_blocks import (
        register_export_blocks_source,
    )

    # sf-keyed on the full fixture path: see sf_scratch_dir
    base = sf_scratch_dir("export_blocks", sf_dir)
    if not os.path.exists(f"{base}/_SUCCESS"):
        shutil.rmtree(base, ignore_errors=True)
        ev = load_table(spark, "events", sf_dir).select(
            "event_id", "event_type", "value"
        )
        # 4 block files = 4 reader partitions
        ev.repartition(4).select(
            F.to_json(F.struct("event_id", "event_type", "value")).alias("v")
        ).write.text(base)
    register_export_blocks_source(spark)
    blocks = (
        spark.read.format("export_blocks")
        .schema("event_id bigint, event_type string, value double")
        .option("path", base)
        .load()
    )
    return blocks.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
    )


@register(
    "fmt_roundtrip_xml",
    oracle="""
SELECT doc_id, lang, source, n_chars FROM documents
""",
    doc="native XML connector (Spark 4, the built-in spark-xml): "
    "write a documents projection as row-tagged XML, read it back with "
    "an explicit schema — fidelity is hash-compared against the parquet "
    "source. XML is the one text format where attribute/element escaping "
    "can silently mangle values, which is exactly what the hash gate "
    "checks. Free-text columns are excluded on purpose: XML whitespace "
    "normalization (trailing newlines in element text) is lossy by "
    "specification, not a connector bug; typed scalar fidelity is the "
    "contract worth pinning.",
)
def fmt_roundtrip_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = load_table(spark, "documents", sf_dir).select(
        "doc_id", "lang", "source", "n_chars"
    )
    path = os.path.join(scratch_dir("fmt_roundtrip"), "xml")
    (
        src.write.mode("overwrite")
        .format("xml")
        .option("rootTag", "documents")
        .option("rowTag", "doc")
        .save(path)
    )
    return (
        spark.read.format("xml")
        .option("rowTag", "doc")
        .schema(src.schema)
        .load(path)
    )


@register(
    "source_binary_files",
    oracle="""
SELECT doc_id,
       CAST(strlen(substr(text, 1, 64)) AS BIGINT) AS n_bytes,
       substr(text, 1, 64) AS head
FROM documents WHERE doc_id < 100 AND text IS NOT NULL
""",
    doc="binaryFile source: the ingest path for opaque blobs (the "
    "multimodal column story's front door — images/audio land as files, "
    "enter the engine as (path, length, content) rows). Each document's "
    "64-char head is written as a real .txt file, read back via "
    "spark.read.format('binaryFile'), the id parsed from the filename "
    "with regexp_extract and the payload decoded/measured — byte length "
    "from the actual file content, hash-checked against the source text "
    "(oracle strlen = bytes, exercising multi-byte text if present). At "
    "scale the format reads files in parallel with one task per file "
    "group and never materializes blobs on the driver.",
)
def source_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        load_table(spark, "documents", sf_dir)
        .filter(F.col("doc_id") < 100)
        .select("doc_id", F.substring("text", 1, 64).alias("head"))
    )
    # v2: write logic changed (NULL-payload skip) and the cache key is
    # content-, not code-versioned (stream_union_v2 precedent)
    out = sf_scratch_dir("source_binary_files_v2", sf_dir)
    marker = os.path.join(out, "_SUCCESS")
    if not os.path.exists(marker):
        # write the blob files distributed (one partition dir sweep), not
        # via a driver loop: foreachPartition runs on executors
        def write_files(rows):
            for r in rows:
                # a NULL payload has no blob to land — no file, no row
                # (oracle mirrors with text IS NOT NULL; round-9
                # all-NULL sweep: .encode on None crashed the executor)
                if r.head is None:
                    continue
                with open(
                    os.path.join(out, f"doc_{r.doc_id}.txt"), "wb"
                ) as f:
                    f.write(r.head.encode("utf-8"))

        d.foreachPartition(write_files)
        open(marker, "w").close()
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "doc_*.txt")
        .load(out)
    )
    return files.select(
        F.regexp_extract(
            F.col("path"), r"doc_(\d+)\.txt$", 1
        ).cast("long").alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.col("content").cast("string").alias("head"),
    )


@register(
    "fmt_roundtrip_text",
    oracle="""
SELECT doc_id, lang, n_chars FROM documents
""",
    doc="line-oriented text connector round-trip: documents metadata "
    "serialized as tab-separated lines through spark.write.text, read "
    "back with spark.read.text and re-parsed with split() — the "
    "log-shipping format the reference's consumers commonly land "
    "(HivePartitionStream.java writes line-delimited records). Fields "
    "chosen are delimiter-free by schema (bigint, single-token lang "
    "code, bigint); NULLs are encoded as the Hive text sentinel \\\\N "
    "(concat_ws silently DROPS null args, which shifts every later "
    "field over and broke the indexed re-parse on NULL-bearing rows — "
    "NULL-wave hostile sweep), so the round trip is lossless including "
    "NULLs; hash-compared against the parquet source. Text scans split "
    "by line ranges, so the read parallelizes like any file source.",
)
def fmt_roundtrip_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    sentinel = "\\N"
    src = load_table(spark, "documents", sf_dir).select(
        F.concat_ws(
            "\t",
            F.coalesce(F.col("doc_id").cast("string"), F.lit(sentinel)),
            F.coalesce(F.col("lang"), F.lit(sentinel)),
            F.coalesce(F.col("n_chars").cast("string"), F.lit(sentinel)),
        ).alias("value")
    )
    path = os.path.join(scratch_dir("fmt_roundtrip"), "text")
    src.write.mode("overwrite").format("text").save(path)
    lines = spark.read.format("text").load(path)
    parts = F.split(F.col("value"), "\t")

    def field(i: int):
        return F.nullif(parts.getItem(i), F.lit(sentinel))

    return lines.select(
        field(0).cast("bigint").alias("doc_id"),
        field(1).alias("lang"),
        field(2).cast("bigint").alias("n_chars"),
    )


@register(
    "source_partition_discovery",
    oracle="""
SELECT event_type, COUNT(*) AS n_rows,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM events
WHERE event_type IN ('click', 'purchase')
GROUP BY event_type
""",
    doc="Hive-style partition discovery: events written as "
    "event_type=<v>/ parquet directories, read back through directory-"
    "layout inference with a partition-column filter — the filter must "
    "become a PartitionFilter (directories never opened), not a data "
    "filter, which is THE mechanism that makes 100 TB scans affordable "
    "when queries carry partition predicates. The partition column "
    "itself is recovered from the directory names; its TYPE comes from "
    "the caller schema (the production discipline — value-based type "
    "inference is layout-dependent, and a day-zero table has no files "
    "to infer from at all). Scratch write is _SUCCESS-cached per sf.",
)
def source_partition_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = sf_scratch_dir("partition_discovery", sf_dir)
    marker = os.path.join(base, "_SUCCESS")
    ev = load_table(spark, "events", sf_dir)
    if not os.path.exists(marker):
        ev.write.mode("overwrite").partitionBy("event_type").parquet(base)
    # explicit read-back schema: a day-zero (empty) partitioned write
    # leaves no data files to infer from (round-8 day-zero sweep)
    back = spark.read.schema(ev.schema).parquet(base)
    return (
        back.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("value").cast("decimal(12,2)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


@register(
    "fmt_compression_codecs",
    oracle="""
SELECT codec, COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
FROM (
  SELECT 'snappy' AS codec, l_quantity FROM lineitem
  UNION ALL SELECT 'zstd', l_quantity FROM lineitem
  UNION ALL SELECT 'gzip', l_quantity FROM lineitem
)
GROUP BY codec
""",
    doc="parquet compression-codec fidelity probe: the same projection "
    "written with snappy, zstd and gzip, read back and aggregated per "
    "codec — every codec must round-trip byte-exact values (the 100 TB "
    "decision between them is pure speed/ratio, never fidelity, and "
    "this pins that). Writes are scratch-cached per (process, sf).",
)
def fmt_compression_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    base = sf_scratch_dir("codecs", sf_dir)
    outs = []
    for codec in ("snappy", "zstd", "gzip"):
        path = os.path.join(base, codec)
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            src.write.mode("overwrite").option("compression", codec).parquet(path)
        outs.append(
            spark.read.parquet(path).select(
                F.lit(codec).alias("codec"), "l_quantity"
            )
        )
    allb = outs[0].unionAll(outs[1]).unionAll(outs[2])
    return allb.groupBy("codec").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(12,2)"))
        .cast("double")
        .alias("sum_qty"),
    )

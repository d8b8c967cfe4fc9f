"""Reference-parity operators R1-R9 (SURVEY.md section 2.1).

The reference's whole dataflow is: receive typed rows -> drop internal
metadata columns -> per-type field encode -> divert partition columns out of
the payload (with null/blank token substitution) -> JSON-encode the payload
in schema order -> group rows by partition values -> write each group
transactionally into a partitioned table.

Here each step is a declarative column expression, so the entire pipeline
compiles to one WholeStageCodegen span followed by a single shuffle into the
partitioned write. At 100 TB the only data movement is that final shuffle,
and it is exactly the shuffle the partitioned write needs anyway.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hive_export_spark.config import UNSPECIFIED_TOKEN

# Reference formats timestamps to millisecond precision in the configured
# timezone (PartitionedJsonDecoder.java:55-56, 201-214; microseconds are
# truncated to ms via asApproximateJavaDate at :209).
TIMESTAMP_FORMAT = "yyyy-MM-dd HH:mm:ss.SSS"

# VoltDB's 6 leading internal metadata columns, skipped by the reference
# via skipInternalFields(true) (HiveExportClient.java:155,
# PartitionedJsonDecoder.java:118-124).
N_INTERNAL_FIELDS = 6

# Java String.trim strips EVERY char <= U+0020 — not just the common
# whitespace six. The reference's blank-partition-value test uses it
# (HiveEndPointFactory.java:88-93), so the full set is required for parity.
JAVA_TRIM_CHARS = "".join(chr(i) for i in range(0x21))


def skip_internal_fields(df: DataFrame, n_internal: int = N_INTERNAL_FIELDS) -> DataFrame:
    """R2: drop the leading internal metadata columns (a pure projection —
    Catalyst prunes them out of the scan entirely)."""
    return df.select(*df.columns[n_internal:])


def encoded_column(field: T.StructField, timezone: str = "UTC") -> Column:
    """R3: the per-type field encoder, as one column expression.

    Mirrors the DecodeType visitor surface (PartitionedJsonDecoder.java:163-253):
    - TIMESTAMP -> 'yyyy-MM-dd HH:mm:ss.SSS' string in the CONFIGURED
      timezone, null-safe (:201-214; the TZ is part of the reference's
      user contract, format+TZ at :55-56, :91)
    - VARBINARY -> base64 string, null-safe (:235-247)
    - numerics / decimal / string -> passthrough (:166-198, 217-232, 250-252)

    Unsupported-by-reference types (arrays/maps/structs) pass through —
    they are native in Spark and used by the extension surface.
    """
    col = F.col(field.name)
    if isinstance(field.dataType, T.TimestampType):
        # render in the configured zone without touching the session TZ:
        # sessions are pinned UTC, so shift then format
        shifted = col if timezone == "UTC" else F.from_utc_timestamp(col, timezone)
        return F.date_format(shifted, TIMESTAMP_FORMAT).alias(field.name)
    if isinstance(field.dataType, T.BinaryType):
        return F.base64(col).alias(field.name)
    return col


def typed_encode(df: DataFrame, timezone: str = "UTC") -> DataFrame:
    """R3 over a whole frame: apply the per-type encoder to every column.

    The reference compiles one JsonFieldDecoder per column at prime time
    (PartitionedJsonDecoder.java:96-107); the analog here is Catalyst
    resolving these expressions once into generated code.
    """
    return df.select(*[encoded_column(f, timezone) for f in df.schema.fields])


def partition_token_substitute(
    df: DataFrame, partition_cols: list[str], token: str = UNSPECIFIED_TOKEN
) -> DataFrame:
    """R4: null/blank/whitespace-only partition values -> substitution token.

    Matches validPartitionValue (HiveEndPointFactory.java:88-93: null or
    trimmed-empty) and the substitution site
    (PartitionedJsonDecoder.java:220-228, token :262). Java's String.trim
    strips ALL chars <= U+0020 (not just whitespace) — Spark's trim()
    strips only spaces, so btrim with the full Java set is used instead.
    """
    out = df
    for c in partition_cols:
        out = out.withColumn(
            c,
            F.when(
                F.col(c).isNull()
                | (F.btrim(F.col(c), F.lit(JAVA_TRIM_CHARS)) == F.lit("")),
                F.lit(token),
            ).otherwise(F.col(c)),
        )
    return out


def camel_case_name_lower_first(name: str) -> str:
    """UPPER_UNDERSCORE -> lowerCamelCase, the reference's field-name
    transform (PartitionedJsonDecoder.java:300-307 applies
    ``camelCaseNameLowerFirst``, Guava CaseFormat semantics over the
    upper-cased name): EVENT_TYPE -> eventType, TS -> ts."""
    parts = name.upper().split("_")
    head, *rest = [p.lower() for p in parts]
    return head + "".join(p[:1].upper() + p[1:] for p in rest)


def to_partitioned_json(
    df: DataFrame,
    partition_cols: list[str],
    token: str = UNSPECIFIED_TOKEN,
    payload_col: str = "json_payload",
    timezone: str = "UTC",
    camel_case_field_names: bool = False,
) -> DataFrame:
    """R4+R5: split each row into (JSON payload of non-partition columns,
    token-substituted partition columns).

    JSON field order is schema order — the reference uses a LinkedHashMap
    keyed in schema order (PartitionedJsonDecoder.java:136); Spark's to_json
    follows struct field order, so selecting fields in schema order matches.
    Null payload fields are EMITTED as JSON null (JSONWriter semantics),
    hence ignoreNullFields=false — Spark's default would drop them
    (SURVEY.md section 7, known-hard #2).

    ``camel_case_field_names`` models the decoder builder's
    ``camelCaseFieldNames`` knob (PartitionedJsonDecoder.java:260,300-307):
    JSON payload keys become lowerCamelCase. The production path disables
    it (HiveExportClient.java:152), so the default is off. Partition
    columns keep their frame names — in the reference the transformed
    partition names are only an internal decoder lookup; the emitted
    artifacts (payload JSON, Hive partition directories) take partition
    names from the table, which is what the Spark write path does too.

    Vectorized and codegen'd: this is the reference's whole per-row hot loop
    (PartitionedJsonDecoder.java:109-129) as one expression.
    """
    encoded = typed_encode(df, timezone)
    payload_fields = [f.name for f in encoded.schema.fields if f.name not in partition_cols]
    routed = partition_token_substitute(encoded, partition_cols, token)

    def key(name: str) -> str:
        return camel_case_name_lower_first(name) if camel_case_field_names else name

    if camel_case_field_names:
        # two payload columns mapping to one camelCase key (USER_ID and
        # user_id -> userId) would silently emit duplicate JSON keys;
        # fail loudly like the rest of the parity pipeline
        seen: dict[str, str] = {}
        for c in payload_fields:
            k = key(c)
            if k in seen:
                raise ValueError(
                    f"camelCaseFieldNames collision: columns {seen[k]!r} and "
                    f"{c!r} both map to JSON key {k!r}"
                )
            seen[k] = c

    return routed.select(
        F.to_json(
            F.struct(*[F.col(c).alias(key(c)) for c in payload_fields]),
            {"ignoreNullFields": "false"},
        ).alias(payload_col),
        *[F.col(c) for c in partition_cols],
    )


def route_partitions(df: DataFrame, partition_cols: list[str]) -> DataFrame:
    """R6/R8: hash-distribute rows by partition values.

    The reference buffers rows into Multimap<HiveEndPoint, json>
    (StreamingHiveDecoder.java:44-54) then hashes endpoints across 4 writer
    threads (HiveSink.java:68). In Spark this IS the shuffle: repartition on
    the partition columns, so each key lands in exactly one task and gets
    one file per write.

    The task count is explicit, ``spark.sql.shuffle.partitions``: AQE
    coalesces a repartition by columns alone into partitions of at least
    1 MB, so a small shuffle ran in one task that wrote every partition
    file in turn. AQE leaves a repartition by number alone, so the write
    runs that many tasks, as a stream's does (streaming turns AQE off).
    No columns means an unpartitioned write: the frame is returned
    unrouted.
    """
    if not partition_cols:
        return df
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, *[F.col(c) for c in partition_cols])


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    fmt: str = "parquet",
    mode: str = "append",
) -> None:
    """R9: partitioned table write with dynamic partition creation.

    The reference creates Hive partitions on demand and commits in
    transaction batches (HivePartitionStream.java:62-75, 141-174). Spark's
    file-commit protocol provides the same atomicity per write job;
    partitionBy provides dynamic partition creation.
    """
    (
        route_partitions(df, partition_cols)
        .write.mode(mode)
        .partitionBy(*partition_cols)
        .format(fmt)
        .save(path)
    )


def export_pipeline(
    df: DataFrame,
    partition_cols: list[str],
    token: str = UNSPECIFIED_TOKEN,
    n_internal: int = 0,
    timezone: str = "UTC",
    camel_case_field_names: bool = False,
) -> DataFrame:
    """The full reference dataflow R2->R5 as one composed operator.

    Returns the routed frame (json_payload + partition columns) ready for
    write_partitioned — the exact Spark equivalent of the block-processing
    trace in SURVEY.md section 3.3.
    """
    out = skip_internal_fields(df, n_internal) if n_internal else df
    return to_partitioned_json(
        out,
        partition_cols,
        token,
        timezone=timezone,
        camel_case_field_names=camel_case_field_names,
    )

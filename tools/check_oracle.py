"""Local replica of the driver's t2 correctness gate.

Runs every registered query on Spark and its oracle on DuckDB against the
same sf dir, compares row count, sorted column names, and an
order-insensitive value hash. Use while iterating:

    python tools/check_oracle.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys

import duckdb

sys.path.insert(0, "/root/repo")

from hive_export_spark.registry import all_oracles, all_queries  # noqa: E402
from hive_export_spark.session import get_spark  # noqa: E402
from hive_export_spark.sources import TABLE_NAMES  # noqa: E402


def _spark_kind(dt: str) -> str:
    """Collapse a Spark dtype string to a comparable kind."""
    dt = dt.strip().lower()
    if dt in ("tinyint", "smallint", "int", "bigint"):
        return "int"
    if dt in ("float", "double"):
        return "float"
    if dt.startswith("decimal"):
        scale = dt.rstrip(")").split(",")[1] if "," in dt else "0"
        return f"decimal.{scale.strip()}"
    if dt in ("string", "varchar"):
        return "str"
    if dt == "date":
        return "date"
    if dt.startswith("timestamp"):
        return "ts"
    if dt == "boolean":
        return "bool"
    if dt == "binary":
        return "bytes"
    if dt.startswith("array<"):
        return f"list<{_spark_kind(dt[6:-1])}>"
    return f"complex:{dt}"


def _duck_kind(dt: str) -> str:
    """Collapse a DuckDB type string to the same kind space.

    HUGEINT deliberately maps to its own kind: duckdb's pandas/arrow
    conversion turns int128 into float64, which is exactly the value-level
    drift that broke q12 under the driver hash in round 1.
    """
    dt = dt.strip().upper()
    if dt.endswith("[]"):
        return f"list<{_duck_kind(dt[:-2])}>"
    if dt in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
              "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if dt in ("HUGEINT", "UHUGEINT"):
        return "HUGEINT(int128->float64 drift)"
    if dt in ("FLOAT", "REAL", "DOUBLE"):
        return "float"
    if dt.startswith("DECIMAL"):
        scale = dt.rstrip(")").split(",")[1] if "," in dt else "0"
        return f"decimal.{scale.strip()}"
    if dt == "VARCHAR":
        return "str"
    if dt == "DATE":
        return "date"
    if dt.startswith("TIMESTAMP"):
        return "ts"
    if dt == "BOOLEAN":
        return "bool"
    if dt == "BLOB":
        return "bytes"
    return f"complex:{dt.lower()}"


# Kinds whose driver-side normalization is unverified (no round-1 green row
# ever carried one) or proven drifty; the sweep reports them as WARN.
# "decimal." joined the list after round 2:
# source_formats_roundtrip matched rows+schema+local hash on both replicas
# yet failed the driver hash — the only non-boring output type was
# DECIMAL(12,2) through a CSV/JSON text round-trip, so the driver's
# decimal rendering (trailing zeros / float re-parse) is the suspected
# drift. BIGINT/DOUBLE/VARCHAR/BOOLEAN are proven across 48 green rows.
_RISKY_KINDS = ("list<", "complex:", "date", "decimal.")


def _decimal_text_ambiguous(rows: list[tuple], columns: list[str], kinds: dict) -> list[str]:
    """Columns whose decimal values normalize differently depending on the
    driver's (unknown) rendering choice: str(Decimal) keeps scale
    ('123.40'), a float re-parse drops it ('123.4'). Any difference means
    a text round-trip through the driver can hash-drift even when both
    engines computed identical values."""
    import decimal

    suspects = [i for i, c in enumerate(columns) if kinds.get(c, "").startswith("decimal")]
    out = []
    for i in suspects:
        for r in rows[:1000]:
            v = r[i]
            if isinstance(v, decimal.Decimal) and str(v) != repr(float(v)):
                out.append(columns[i])
                break
    return out


def normalize_cell(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def frame_fingerprint(columns: list[str], rows: list[tuple]) -> tuple[int, list[str], str]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    cols_sorted = [columns[i] for i in order]
    lines = sorted(
        "\x1f".join(normalize_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return len(rows), cols_sorted, h


def _hostile_session():
    """A driver-shaped session: plain builder, hostile defaults (non-UTC
    timezone, stock shuffle partitions, none of get_spark's confs). Every
    query must force its own runtime requirements to pass under this."""
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master("local[8]")
        .appName("oracle-check-hostile")
        .config("spark.sql.session.timeZone", "America/New_York")
        .getOrCreate()
    )


def _determinism_sweep(spark, sf_dir: str, only: set[str]) -> int:
    """Partition-count determinism gate: run every query's SPARK side at
    two different ``spark.sql.shuffle.partitions`` settings and compare
    the order-insensitive fingerprints. An order-dependent result (float
    accumulation order, under-specified window ordering, first/any_value
    without a deterministic frame) can accidentally hash-match DuckDB at
    one partitioning and silently break at another — on a 1000-executor
    cluster the partitioning WILL differ from the test box, so this is
    the cheap local stand-in for "does the answer survive re-planning".
    """
    from hive_export_spark.registry import all_queries as _qs

    failures = []
    for name, fn in _qs().items():
        if only and name not in only:
            continue
        hashes = []
        try:
            for parts in ("7", "32"):
                spark.conf.set("spark.sql.shuffle.partitions", parts)
                sdf = fn(spark, sf_dir)
                rows = [tuple(r) for r in sdf.collect()]
                hashes.append(frame_fingerprint(sdf.columns, rows))
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: error: {e}")
            failures.append(name)
            continue
        finally:
            spark.conf.unset("spark.sql.shuffle.partitions")
        (n1, c1, h1), (n2, c2, h2) = hashes
        ok = (n1, c1, h1) == (n2, c2, h2)
        print(f"{'OK  ' if ok else 'FAIL'}  {name}: p7={n1} rows {h1} | p32={n2} rows {h2}")
        if not ok:
            failures.append(name)
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nall green")
    return 1 if failures else 0


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    hostile = "--hostile" in sys.argv[1:]
    hostile_fixture = "--hostile-fixture" in sys.argv[1:]
    combined_fixture = "--combined-fixture" in sys.argv[1:]
    determinism = "--determinism" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    if combined_fixture:
        # the round-10 combined-adversity gate: rebuild the interacting-
        # degenerate-classes fixture from sf_dir and sweep on it in one
        # command (sibling of --hostile-fixture). Implies the hostile
        # session.
        import tempfile

        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        from make_combined_fixture import build

        out = os.path.join(
            tempfile.gettempdir(),
            f"combined_fixture_{os.path.basename(os.path.normpath(sf_dir))}",
        )
        build(sf_dir, out)
        sf_dir = out
        hostile = True

    if hostile_fixture:
        # the standing adversarial gate (round-6 verdict ask #6): rebuild
        # the edge-case fixture from sf_dir and sweep the registry on it
        # in one command — a new query can't silently regress a class the
        # round-6 hostile waves fixed. Implies the hostile session.
        import tempfile

        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        from make_hostile_fixture import build

        out = os.path.join(
            tempfile.gettempdir(),
            f"hostile_fixture_{os.path.basename(os.path.normpath(sf_dir))}",
        )
        build(sf_dir, out)
        sf_dir = out
        hostile = True

    spark = _hostile_session() if hostile else get_spark("oracle-check")
    if determinism:
        return _determinism_sweep(spark, sf_dir, only)
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    queries = all_queries()
    oracles = all_oracles()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        oracle = oracles.get(name)
        try:
            sdf = fn(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
            skinds = {c: _spark_kind(t) for c, t in sdf.dtypes}
            s_n, s_cols, s_hash = frame_fingerprint(scols, srows)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        risky = [f"{c}:{k}" for c, k in skinds.items()
                 if any(k.startswith(r) or r in k for r in _RISKY_KINDS)]
        risky += [
            f"{c}:decimal-text-roundtrip"
            for c in _decimal_text_ambiguous(srows, scols, skinds)
        ]
        if risky:
            print(f"WARN  {name}: driver-risky output kinds {risky}")
        if oracle is None:
            print(f"ROWS  {name}: {s_n} rows (no oracle)")
            if s_n == 0:
                failures.append(name)
            continue
        try:
            rel = con.sql(oracle)
            dcols = list(rel.columns)
            dkinds = {c: _duck_kind(str(t)) for c, t in zip(dcols, rel.types)}
            drows = rel.fetchall()
            d_n, d_cols, d_hash = frame_fingerprint(dcols, drows)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        kind_drift = [
            f"{c}: spark={skinds.get(c)} duckdb={dkinds.get(c)}"
            for c in sorted(set(skinds) | set(dkinds))
            if skinds.get(c) != dkinds.get(c)
        ]
        if kind_drift:
            print(f"FAIL  {name}: dtype drift {kind_drift}")
            failures.append(name)
            continue
        ok = (s_n, s_cols, s_hash) == (d_n, d_cols, d_hash)
        status = "OK  " if ok else "FAIL"
        print(f"{status}  {name}: spark={s_n} rows {s_cols} {s_hash} | duckdb={d_n} rows {d_cols} {d_hash}")
        if not ok:
            failures.append(name)
            # show a sample diff
            s_set = {tuple(normalize_cell(x) for x in r) for r in srows}
            d_set = {tuple(normalize_cell(x) for x in r) for r in drows}
            for label, diff in (("spark-only", s_set - d_set), ("duckdb-only", d_set - s_set)):
                for row in list(diff)[:3]:
                    print(f"        {label}: {row}")
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nall green")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Registry-wide guards: every registered query must execute and every
oracle must parse — cheap protection against breaking a registry entry in
a later round without running the full oracle gate."""

from __future__ import annotations

import duckdb
import pytest

from hive_export_spark.registry import all_oracles, all_queries

SIDE_EFFECT_QUERIES = {
    # these write files / run streaming queries — exercised by their own
    # tests and the oracle gate; excluded from the per-query smoke loop
    "parity_partitioned_write",
    "stream_export_e2e",
}


@pytest.mark.parametrize("name", sorted(all_queries().keys() - SIDE_EFFECT_QUERIES))
def test_query_executes(spark, name):
    fn = all_queries()[name]
    df = fn(spark, "/root/testdata/sf0.001")
    rows = df.limit(5).collect()
    assert df.columns  # stable, non-empty schema
    assert rows is not None


def test_every_oracle_parses_in_duckdb():
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'/root/testdata/sf0.001/{t}.parquet'"
        )
    bad = []
    for name, sql in all_oracles().items():
        try:
            con.execute(f"EXPLAIN {sql}")
        except Exception as e:  # noqa: BLE001
            bad.append((name, str(e)[:120]))
    assert not bad, bad


def test_registry_is_consistent():
    qs, os_ = all_queries(), all_oracles()
    # every registered query is oracle-backed
    assert set(os_) == set(qs)
    # documented minimum surface (guards accidental deregistration)
    assert len(qs) >= 238

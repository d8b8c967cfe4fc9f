"""Day-zero (empty-input) regression gate.

The round-8 day-zero sweep ran the FULL registry against a fixture where
every table exists with its exact schema and ZERO rows — the first day
of any production pipeline — and found 17 failures across 7 classes:

1. grouping-lattice divergence: Spark ROLLUP/CUBE/GROUPING SETS emit
   ZERO rows on an empty relation (Expand feeds the aggregate no input
   groups, including the () set) where DuckDB emits the grand-total
   row — pinned with an EXISTS guard in the oracles;
2. read-back schema inference: partitionBy of zero rows writes NO data
   files, so every write-then-read-back needs the writer's schema;
3. crossJoin annihilation: a 1-row summary assembled from FILTERED legs
   collapses to zero rows when a leg is empty — legs must be global
   aggregates;
4. theta_intersection_agg raises ("infinite set") over zero sketches
   even under an output guard — the SCALAR theta_intersection
   NULL-propagates instead;
5. spark.ml fit() raises on an empty frame (BucketedRandomProjectionLSH);
6. driver-side int(None) from min/max probes over empty frames (zorder);
7. vacuous-recall convention: recall over zero exact pairs is TRUE, not
   0/1 < threshold; an empty query set returns no neighbors, it is not
   a configuration error (IVF).

This test rebuilds the day-zero fixture (tools/make_empty_fixture.py —
pyarrow schema copy, preserving physical types) and re-runs every fixed
query through BOTH engines with the driver-shaped comparison.
"""

from __future__ import annotations

import os
import subprocess
import sys

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

from check_oracle import frame_fingerprint  # noqa: E402

from hive_export_spark.registry import all_oracles, all_queries  # noqa: E402
from hive_export_spark.sources import TABLE_NAMES  # noqa: E402

PINNED = [
    # class 1: grouping lattice on empty input
    "agg_rollup",
    "agg_cube",
    "agg_grouping_sets",
    "agg_grouping_id",
    # class 2: write-then-read-back schema inference
    "parity_partitioned_write",
    "source_partition_discovery",
    "scale_compaction",
    "scale_dpp_scan",
    "stream_export_e2e",
    "stream_replay_exactly_once",
    "llm_dedup_incremental_banded",
    # classes 3+4: summary-row assembly + theta intersection
    "agg_theta_sketch_intersect",
    # classes 5-7: ml fit / driver guards / vacuous recall
    "llm_sim_ivf_topk",
    "scale_zorder_scan",
    "llm_dedup_embedding",
]


@pytest.fixture(scope="module")
def day_zero_dir(tmp_path_factory) -> str:
    out = str(tmp_path_factory.mktemp("day_zero_fixture"))
    subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "make_empty_fixture.py"),
            "/root/testdata/sf0.001",
            out,
        ],
        check=True,
        capture_output=True,
    )
    return out


@pytest.fixture(scope="module")
def duck(day_zero_dir):
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{day_zero_dir}/{t}.parquet'"
        )
    yield con
    con.close()


def test_empty_lattice_mechanism(spark):
    """The class-1 mechanism itself: Spark's grouping lattice emits zero
    rows on an empty relation while a global aggregate still emits one —
    the asymmetry the EXISTS oracle guard exists for."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW __dz AS "
        "SELECT * FROM VALUES (1, 'a') v(x, y) WHERE 1 = 0"
    )
    assert spark.sql("SELECT COUNT(*) n FROM __dz").count() == 1
    assert (
        spark.sql("SELECT x, COUNT(*) n FROM __dz GROUP BY ROLLUP(x)").count()
        == 0
    )
    assert (
        spark.sql(
            "SELECT COUNT(*) n FROM __dz GROUP BY GROUPING SETS (())"
        ).count()
        == 0
    )


@pytest.mark.parametrize("name", PINNED)
def test_day_zero_query_matches_oracle(spark, day_zero_dir, duck, name):
    sdf = all_queries()[name](spark, day_zero_dir)
    s_n, s_cols, s_hash = frame_fingerprint(
        sdf.columns, [tuple(r) for r in sdf.collect()]
    )
    rel = duck.sql(all_oracles()[name])
    d_n, d_cols, d_hash = frame_fingerprint(rel.columns, rel.fetchall())
    assert (s_n, s_cols, s_hash) == (d_n, d_cols, d_hash)

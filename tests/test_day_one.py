"""Day-one (single-row) regression gate.

The round-8 day-one sweep ran the FULL registry against a fixture where
every table holds exactly one (referentially coherent) row — the first
trickle of real data — and found 9 failures the hostile and day-zero
fixtures could not reach, because singleton GROUPS flow through every
estimator (see tools/make_onerow_fixture.py for the class inventory:
n-1=0 sample variance, zero t-variance slopes, NULL pivot halves into
sketch merges, a "late" duplicate whose window is still open, recall
floors above the achievable neighbor count, integer-free fraction
bands, and born-compact tables). All fixed; this test rebuilds the
fixture and re-runs every fixed query through BOTH engines with the
driver-shaped comparison.
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
    # ANSI crash class: n-1 = 0 sample variance / zero t-variance slope
    "stats_welch_ttest",
    "ts_linear_forecast",
    # watermark: the duplicate must be BELOW the watermark on every
    # fixture (sentinel phase precedes the late injection)
    "stream_watermark_late_drop",
    # NULL pivot half into a NULL-propagating sketch merge
    "agg_kll_quantile_merge",
    # recall floor capped at the achievable exact-neighbor count
    "llm_sim_ivf_topk",
    # fraction band needs an absolute floor at tiny n
    "llm_sample_fraction",
    # a one-file table is born compact
    "scale_compaction",
]


@pytest.fixture(scope="module")
def day_one_dir(tmp_path_factory) -> str:
    out = str(tmp_path_factory.mktemp("day_one_fixture"))
    subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "make_onerow_fixture.py"),
            "/root/testdata/sf0.001",
            out,
        ],
        check=True,
        capture_output=True,
    )
    return out


@pytest.fixture(scope="module")
def duck(day_one_dir):
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{day_one_dir}/{t}.parquet'"
        )
    yield con
    con.close()


def test_day_one_fixture_is_single_row(day_one_dir):
    con = duckdb.connect()
    for t in TABLE_NAMES:
        n = con.execute(
            f"SELECT COUNT(*) FROM '{day_one_dir}/{t}.parquet'"
        ).fetchone()[0]
        assert n == 1, t
    # coherence: the lineitem row joins the orders row joins the customer
    assert con.execute(
        f"SELECT COUNT(*) FROM '{day_one_dir}/lineitem.parquet' l "
        f"JOIN '{day_one_dir}/orders.parquet' o ON l.l_orderkey = o.o_orderkey "
        f"JOIN '{day_one_dir}/customer.parquet' c ON o.o_custkey = c.c_custkey"
    ).fetchone()[0] == 1
    con.close()


@pytest.mark.parametrize("name", PINNED)
def test_day_one_query_matches_oracle(spark, day_one_dir, duck, name):
    sdf = all_queries()[name](spark, day_one_dir)
    s_n, s_cols, s_hash = frame_fingerprint(
        sdf.columns, [tuple(r) for r in sdf.collect()]
    )
    rel = duck.sql(all_oracles()[name])
    d_n, d_cols, d_hash = frame_fingerprint(rel.columns, rel.fetchall())
    assert (s_n, s_cols, s_hash) == (d_n, d_cols, d_hash)

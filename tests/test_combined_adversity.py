"""Combined-adversity regression gate (round 10).

The six prior fixture generations sweep each degenerate class in
ISOLATION; the round-9 all-NULL wave proved isolation hides bugs. This
gate rebuilds the round-10 COMBINED fixture — two or more degenerate
classes interacting on the SAME row (see tools/make_combined_fixture.py
for the class inventory: duplicate-PK × all-NULL-payload documents, a
constant-ZERO event series containing the epoch-0/pre-epoch clock rows,
a guest-checkout order on the 9999-12-31 sentinel, an orphan lineitem
with every ratio degenerate at once, an SCD duplicate with one-sided FK
loss, anonymous measurement-less duplicate deliveries, an all-NULL
zero-timespan burst, and duplicate-PK zero-vector / singleton-label-NULL
embeddings) — and re-runs the queries the full-registry sweep caught
through BOTH engines with the driver-shaped comparison.

Round-10 findings (2 failures in 1 class — ANSI divide on a zero mass
that only a class INTERACTION produces):
- stats_gini_concentration: the constant-zero 'frozen' series passes the
  value >= 0 filter with sum(x) = 0 — Gini over zero mass divided by
  zero (hostile's zero-sum 'settle' series never passed the filter with
  zero mass; constant-series' fixtures had nonzero values).
- llm_embedding_label_drift: the NULL-label group's only members are the
  duplicate ZERO vectors, so its centroid norm is 0 (hostile's zero
  vector shared label 99 with a healthy constant vector to hide behind).
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
    # ANSI zero-mass divide: constant-zero series through rank weights
    "stats_gini_concentration",
    # ANSI zero-norm centroid: all-zero-vector label group
    "llm_embedding_label_drift",
    # interaction neighbors that must STAY green (each touches several
    # laced classes at once): the DQ gate sees duplicate PKs and NULL
    # payloads together; dedup sees the NULL-text duplicate pair; skyline
    # ranks rows with nothing to dominate
    "scale_dq_checks",
    "llm_dedup_exact",
    "llm_dedup_minhash_lsh",
    "stats_welch_ttest",
    "pareto_skyline",
    "join_nearest_value",
    "agg_corr_regression",
    # streaming family (r10 verdict ask #5): before round 11 the
    # watermark/session/stateful queries saw degenerate classes only in
    # ISOLATION. The combined events table laces the interactions they
    # are most exposed to: the constant-zero 'frozen' series CONTAINING
    # the epoch-0/pre-epoch clock rows (watermark quarantine must drop
    # the pre-epoch row while the zero values flow through the window
    # sums), the all-NULL zero-timespan burst (a session/window bucket
    # whose every measurement is NULL), and the anonymous
    # measurement-less at-least-once duplicate (stateful totals keyed on
    # a NULL user over a NULL value).
    "stream_watermark_late_drop",
    "stream_session_window",
    "stream_stateful_totals",
    "stream_dedup_keys",
]


@pytest.fixture(scope="module")
def combined_dir(tmp_path_factory) -> str:
    out = str(tmp_path_factory.mktemp("combined_fixture"))
    subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "make_combined_fixture.py"),
            "/root/testdata/sf0.001",
            out,
        ],
        check=True,
        capture_output=True,
    )
    return out


@pytest.fixture(scope="module")
def duck(combined_dir):
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{combined_dir}/{t}.parquet'"
        )
    yield con
    con.close()


def test_combined_fixture_interactions_present(combined_dir):
    """The generator must actually produce INTERACTING classes — guard
    against a refactor quietly de-combining them."""
    con = duckdb.connect()
    # duplicate PK whose every payload column is NULL
    assert con.execute(
        f"SELECT COUNT(*) FROM '{combined_dir}/documents.parquet' "
        "WHERE doc_id = 910001 AND text IS NULL AND lang IS NULL"
    ).fetchone()[0] == 2
    # constant-zero series containing epoch-0 and pre-epoch rows
    lo, hi, n, sm = con.execute(
        f"SELECT MIN(ts), MAX(ts), COUNT(*), SUM(value) FROM "
        f"'{combined_dir}/events.parquet' WHERE event_type = 'frozen'"
    ).fetchone()
    assert n == 4 and sm == 0.0
    assert lo.year == 1969 and hi.year == 2024
    # guest checkout on the sentinel date
    assert con.execute(
        f"SELECT COUNT(*) FROM '{combined_dir}/orders.parquet' "
        "WHERE o_custkey IS NULL AND o_orderdate = DATE '9999-12-31'"
    ).fetchone()[0] == 1
    # duplicate-PK zero vector with NULL label
    assert con.execute(
        f"SELECT COUNT(*) FROM '{combined_dir}/embeddings.parquet' "
        "WHERE vec_id = 910001 AND label IS NULL "
        "AND list_sum(list_transform(CAST(embedding AS DOUBLE[]), "
        "x -> abs(x))) = 0"
    ).fetchone()[0] == 2
    con.close()


@pytest.mark.parametrize("name", PINNED)
def test_combined_query_matches_oracle(spark, combined_dir, duck, name):
    sdf = all_queries()[name](spark, combined_dir)
    s_n, s_cols, s_hash = frame_fingerprint(
        sdf.columns, [tuple(r) for r in sdf.collect()]
    )
    rel = duck.sql(all_oracles()[name])
    d_n, d_cols, d_hash = frame_fingerprint(rel.columns, rel.fetchall())
    assert (s_n, s_cols, s_hash) == (d_n, d_cols, d_hash)


@pytest.fixture(scope="module")
def union_dir(tmp_path_factory) -> str:
    """Hostile ∪ combined: BOTH lacing generations in one table set —
    their key ranges are disjoint by design (900001+/3.0e9 vs
    910001+/3.1e9), so the generators compose by chaining. The full
    registry swept 263/263 green on this union (round 10); this gate
    keeps the composition itself from silently breaking."""
    hostile = str(tmp_path_factory.mktemp("union_hostile"))
    out = str(tmp_path_factory.mktemp("union"))
    for tool, src in (
        ("make_hostile_fixture.py", "/root/testdata/sf0.001"),
        ("make_combined_fixture.py", hostile),
    ):
        subprocess.run(
            [sys.executable, os.path.join(REPO, "tools", tool), src,
             out if tool.startswith("make_combined") else hostile],
            check=True,
            capture_output=True,
        )
    return out


@pytest.mark.parametrize(
    "name",
    [
        # the queries where hostile rows (borderline-Jaccard pairs,
        # laced NULLs, duplicate PKs) and combined rows (NULL-text
        # duplicates, zero-mass series) meet in one corpus
        "scale_dq_checks",
        "llm_dedup_minhash_lsh",
        "llm_dedup_ngram_jaccard",
        "stats_gini_concentration",
        "llm_embedding_label_drift",
    ],
)
def test_union_of_lacing_generations_matches_oracle(spark, union_dir, name):
    sdf = all_queries()[name](spark, union_dir)
    s = frame_fingerprint(sdf.columns, [tuple(r) for r in sdf.collect()])
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{union_dir}/{t}.parquet'"
        )
    rel = con.sql(all_oracles()[name])
    d = frame_fingerprint(rel.columns, rel.fetchall())
    con.close()
    assert s == d

"""Adversarial-fixture regression gate.

Round-6 hostile sweep (tools/make_hostile_fixture.py) found 17 latent
issues invisible on the clean fixture: ANSI crashes on degenerate input
(zero-norm vectors, empty docs, n=1 series, >int31 keys), silent
convention divergences (NULL sort order, round() tie-breaking, accent
folding), and domain-edge wrong answers (Benford's first digit on
sub-unit prices). This test rebuilds the hostile fixture from sf0.001
into a tmp dir and re-runs the representative queries from each failure
class through BOTH engines with the driver-shaped comparison, so the
whole class stays pinned without the 10-minute full sweep.
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

# one representative per hostile-failure class (round-6 sweep):
PINNED = [
    # ANSI crash class: empty-doc ratios, n=1 variance, zero variance,
    # singleton series sd, >int31 cast, zero-norm cosine
    "llm_text_quality",
    "agg_stats_moments",
    "agg_skew_kurtosis",
    "stats_zscore_outliers",
    "fn_try_family",
    "llm_sim_topk_bruteforce",
    # convention-divergence class: NULL rank order, round() ties,
    # accent-folding map
    "stats_bootstrap_poisson",
    "llm_text_normalize",
    # domain-edge class: sub-unit price first digit
    "stats_benford_first_digit",
    # NULL-wave class (round-6 second sweep: NULL text / value /
    # embedding payload rows): serialization sentinel round-trip,
    # outer-explode NULL-array row, rank-based stats with NULL
    # measurements, per-row text transform NULL row retention
    "fmt_roundtrip_text",
    "fn_explode_outer",
    "stats_mad_outliers",
    "llm_intradoc_dedup",
    # malformed-JSON class (broken upstream writer in props): ANSI
    # parse_json must try, DuckDB json_extract must be json_valid-guarded
    "fn_variant_family",
    # round-7 control-char wave: Java \s includes \x0B, RE2 \s does not
    # — every tokenization oracle pins the explicit class
    # [ \t\n\x0B\f\r]+ (llm_queries._SQL_WS); token_stats' negated
    # punct class additionally spells out \x0B\f
    "llm_text_token_stats",
    # round-7 degenerate JSON roots ("", "null", "[]"): class held
    # with no code change — pinned so it stays held
    "fn_json_family",
    # round-7 wave 5: exact-duplicate document row (at-least-once
    # upstream writer) — dedup/count/canonical paths must treat the
    # pair identically on both engines
    "llm_dedup_exact",
    "llm_dedup_keep_canonical",
    # round-8 wave 1 (r7 driver advisory #1): the borderline-Jaccard
    # pair gate — the fixture plants doc 900017~900018 at exact
    # j = 41/51 = 0.8039 (banded OPH-LSH MUST surface it or the pair
    # list hash-mismatches the exhaustive oracle) and 900019~900020 at
    # j = 39/49 = 0.7959 (exact verification MUST exclude it). Pinned
    # DIRECTLY on the pair list, not just through keep_canonical:
    "llm_dedup_minhash_oph",
    # round-7 wave 5: astral-plane emoji + NFD combining marks held
    # with zero changes (both engines codepoint-based) — pinned via the
    # tokenization/normalize reps above, which now read the emoji/NFD
    # rows from the same rebuilt fixture
    # round-7 wave 7: NULL foreign/grouping keys (anonymous events,
    # guest-checkout order, orphan lineitem, NULL-nation customer).
    # The finds still reached by a registered query, each its own
    # convention pin:
    # to_json emits NULL struct fields (ignoreNullFields=false, matches
    # DuckDB + reference R5 encoder):
    # -> fn_json_family, already pinned above
    # shard splits must be TOTAL (bare `key % 2 == k` drops NULL keys
    # from every shard):
    "stream_union_sources",
    # held with no change: NULL-key outer-join row preservation
    # (NULL o_custkey survives FULL with NULL customer columns, matches
    # nothing in inner/semi; orphan lineitem surfaces in anti)
    "join_full",
    # round-7 wave 8: clock corruption (epoch-zero / pre-epoch / 2038
    # rollover), sentinel 9999-12-31 dates, at-least-once duplicate
    # delivery, empty-string keys, duplicate-key dimension rows.
    # One pin per find still reached by a registered query:
    # calendar arithmetic beyond year 9999 -> NULL on both engines
    # (JVM computes year 10000 fine; Python datetime cannot collect it):
    "fn_date_family",
    # session merge boundary is INCLUSIVE (an event exactly gap after
    # the previous one JOINS the session; oracle islands break on
    # strictly-greater gaps):
    "stream_session_window_native",
    # pre-epoch rows are late-by-construction under watermarks (the
    # initial watermark is epoch 0) -> explicit quarantine filter:
    "stream_watermark_late_drop",
    # as-of join consumes the left side exactly-once (DISTINCT
    # collapses at-least-once redelivery duplicates on both engines):
    "join_asof",
    # blank partition values sentinel-encode before partitionBy ('' ->
    # __HIVE_DEFAULT_PARTITION__ -> NULL round-trip merges ''/NULL):
    "scale_compaction",
    # the quarantine-first DQ gate, POSITIVE-fire test: the laced
    # corruption (NULL embedding, orphan lineitem, duplicate-custkey
    # SCD pair) must be CAUGHT (passed=false with matching violation
    # counts on both engines), proving the gate actually catches what
    # the per-query conventions quarantine:
    "scale_dq_checks",
]


@pytest.fixture(scope="module")
def hostile_dir(tmp_path_factory) -> str:
    out = str(tmp_path_factory.mktemp("hostile_fixture"))
    subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "make_hostile_fixture.py"),
            "/root/testdata/sf0.001",
            out,
        ],
        check=True,
        capture_output=True,
    )
    return out


@pytest.fixture(scope="module")
def duck(hostile_dir):
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{hostile_dir}/{t}.parquet'"
        )
    yield con
    con.close()


def test_signed_zero_round_pin(spark):
    """Round-7 wave 5 mechanism pin: DuckDB's round() preserves IEEE
    -0.0 (repr '-0.0' under the driver-shaped hash) where Spark's
    BigDecimal-backed round() cannot represent it (+0.0, repr '0.0') —
    so any sign-crossing statistic that rounds to zero from below
    hash-diverges unless the oracle appends `+ 0` (IEEE: -0.0 + 0 =
    +0.0, exact no-op on every other value, NULL-transparent)."""
    con = duckdb.connect()
    raw = con.sql("SELECT round(-0.0000001::DOUBLE, 6)").fetchone()[0]
    pinned = con.sql("SELECT round(-0.0000001::DOUBLE, 6) + 0").fetchone()[0]
    nul = con.sql("SELECT round(NULL::DOUBLE, 6) + 0").fetchone()[0]
    exact = con.sql("SELECT round(-42.4242::DOUBLE, 2) + 0").fetchone()[0]
    con.close()
    assert repr(raw) == "-0.0"          # the divergence exists
    assert repr(pinned) == "0.0"        # ...and + 0 removes it
    assert nul is None                  # NULL rides through
    assert exact == -42.42              # nonzero values untouched
    s = spark.sql(
        "SELECT round(CAST(-0.0000001 AS DOUBLE), 6) AS r"
    ).collect()[0].r
    assert repr(s) == "0.0"             # Spark's side is already +0.0


def test_session_gap_inclusive_pin(spark):
    """Round-7 wave 8 mechanism pin: Spark session_window merges an
    event arriving EXACTLY gap after the previous one (windows touch:
    next start <= previous end), so gaps-and-islands oracles must break
    on STRICTLY-greater gaps. An event 1s past the gap starts a new
    session."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 10:30:00"),
         (2, "2024-01-01 10:00:00"), (2, "2024-01-01 10:30:01")],
        "user_id int, ts string",
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts"))
    out = (
        df.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n"))
        .groupBy("user_id")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy("user_id")
        .collect()
    )
    assert [(r.user_id, r.n_sessions) for r in out] == [(1, 1), (2, 2)]


@pytest.mark.parametrize("name", PINNED)
def test_hostile_query_matches_oracle(spark, hostile_dir, duck, name):
    sdf = all_queries()[name](spark, hostile_dir)
    s_n, s_cols, s_hash = frame_fingerprint(
        sdf.columns, [tuple(r) for r in sdf.collect()]
    )
    rel = duck.sql(all_oracles()[name])
    d_n, d_cols, d_hash = frame_fingerprint(rel.columns, rel.fetchall())
    assert (s_n, s_cols, s_hash) == (d_n, d_cols, d_hash)

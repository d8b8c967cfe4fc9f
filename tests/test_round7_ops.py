"""Round-7 hardening tests: the generalized broadcast-hint audit
(multi-line chains + every F.broadcast position) and sf_scratch_dir's
recursive fingerprint + stale-generation pruning (round-6 verdict ask #4
and the code advisories)."""

from __future__ import annotations

import os
import time

from hive_export_spark.plans.audit import scan_scale_killers


def test_audit_flags_multiline_crossjoin(tmp_path):
    # round-6 gap (advisory #2): a crossJoin split across lines left a
    # bare '.crossJoin(' physical line that a generic allowlist key could
    # sanction; the flattened-statement matcher must flag it
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "bad.py").write_text(
        "out = (\n"
        "    facts\n"
        "    .crossJoin(\n"
        "        F.broadcast(all_events)\n"
        "    )\n"
        ")\n"
    )
    vs = scan_scale_killers(str(pkg))
    assert any("bad.py:3" in v and "crossJoin" in v for v in vs)


def test_audit_flags_unannotated_broadcast_join_hint(tmp_path):
    # round-6 verdict ask #4: an explicit .join(F.broadcast(X)) hint with
    # a data-sized X must fail the sweep like crossJoin does — single-line,
    # multi-line, and leading-position forms alike
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "bad.py").write_text(
        "j = facts.join(F.broadcast(all_customers), 'k')\n"
        "j2 = facts.join(\n"
        "    F.broadcast(all_customers), 'k'\n"
        ")\n"
        "j3 = F.broadcast(all_customers).join(facts, 'k')\n"
    )
    (pkg / "good.py").write_text(
        "a = facts.join(F.broadcast(dim.limit(10)), 'k')\n"
        # round-8 doctrine (r7 driver advisory #3): an aggregate is NOT
        # self-evidently bounded — a groupBy over a high-cardinality key
        # is data-sized — so aggregate-valued hints need the comment
        "# bounded: per-status counts, <= #statuses rows\n"
        "b = facts.join(F.broadcast(dim.groupBy('k').agg(F.count('*'))), 'k')\n"
        "# bounded: nation dim, 25 rows at any scale factor\n"
        "c = facts.join(F.broadcast(nation), 'k')\n"
        "d = draws.join(\n"
        "    # oracle-twin: fixture-scale exact twin; prod is poisson_boot\n"
        "    F.broadcast(lookup), 'k'\n"
        ")\n"
        "e = facts.join(big_side, 'k')\n"  # no hint: AQE decides, unpoliced
    )
    vs = scan_scale_killers(str(pkg))
    assert any("bad.py:1" in v and "F.broadcast" in v for v in vs)
    assert any(("bad.py:2" in v or "bad.py:3" in v) and "F.broadcast" in v
               for v in vs)
    assert any("bad.py:5" in v and "F.broadcast" in v for v in vs)
    # an UNANNOTATED aggregate-valued hint is now a violation too
    (pkg / "bad2.py").write_text(
        "b = facts.join(F.broadcast(dim.groupBy('k').agg(F.count('*'))), 'k')\n"
    )
    vs2 = scan_scale_killers(str(pkg))
    assert any("bad2.py:1" in v and "F.broadcast" in v for v in vs2)
    assert not any("good.py" in v for v in vs)


def _touch_tree(d):
    for root, _dirs, files in os.walk(d):
        for f in files:
            os.utime(os.path.join(root, f))


def test_sf_scratch_dir_recurses_and_prunes(tmp_path):
    # advisory #3: parquet-DIRECTORY fixtures must fingerprint their inner
    # files, and a regenerated fixture must prune the superseded scratch
    # generation instead of accumulating trees
    from hive_export_spark.queries.connector_queries import sf_scratch_dir

    fx = tmp_path / "sfx"
    (fx / "documents.parquet").mkdir(parents=True)
    inner = fx / "documents.parquet" / "part-0000.parquet"
    inner.write_bytes(b"AAAA")

    k1 = sf_scratch_dir("ivf_probe7", str(fx))
    marker = os.path.join(k1, "_SUCCESS")
    open(marker, "w").close()
    assert k1 == sf_scratch_dir("ivf_probe7", str(fx))  # stable
    assert os.path.exists(marker)

    # change an INNER file only: key must move (recursive fingerprint)
    time.sleep(0.01)
    inner.write_bytes(b"BBBB")
    k2 = sf_scratch_dir("ivf_probe7", str(fx))
    assert k2 != k1
    # and the superseded generation for the SAME fixture root is pruned
    assert not os.path.exists(k1)

    # a DIFFERENT fixture root with the same name is untouched by pruning
    fy = tmp_path / "sfy"
    (fy / "documents.parquet").mkdir(parents=True)
    (fy / "documents.parquet" / "part-0000.parquet").write_bytes(b"CCCC")
    ky = sf_scratch_dir("ivf_probe7", str(fy))
    assert ky != k2
    assert os.path.exists(k2) and os.path.exists(ky)
    # re-keying fx again does not evict fy's cache
    sf_scratch_dir("ivf_probe7", str(fx))
    assert os.path.exists(ky)


def test_evidence_tool_skips_unparseable_basenames(tmp_path):
    # advisory #4: a CORRECTNESS file whose basename lacks r<digits> must
    # be skipped, not crash the ledger tool
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, os.path.join(repo, "tools", "evidence.py"), "--json"],
        capture_output=True,
        text=True,
        cwd=repo,
    )
    assert out.returncode == 0, out.stderr


def test_determinism_mode_smoke():
    # the --determinism gate (spark-vs-spark at shuffle.partitions 7 vs
    # 32) must run and pass for a representative pair: one decimal-agg
    # query and one window/rank query — the two shapes where partition
    # order could leak into results if conventions slipped
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [
            sys.executable,
            os.path.join(repo, "tools", "check_oracle.py"),
            "/root/testdata/sf0.001",
            "--determinism",
            "q1_pricing_summary",
            "topk_per_group",
        ],
        capture_output=True,
        text=True,
        cwd=repo,
        timeout=300,
    )
    assert out.returncode == 0, out.stdout[-2000:] + out.stderr[-2000:]
    assert "all green" in out.stdout


def test_shuffle_probe_smoke():
    # the shuffle-linearity probe (UI REST stage metrics) must run end to
    # end, emit one JSON object per query with the metric fields, and
    # report zero spill for a dimension-bounded query at fixture scale
    import json
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [
            sys.executable,
            os.path.join(repo, "tools", "shuffle_probe.py"),
            "/root/testdata/sf0.001",
            "q5_local_supplier_volume",
        ],
        capture_output=True,
        text=True,
        cwd=repo,
        timeout=300,
    )
    assert out.returncode == 0, out.stdout[-2000:] + out.stderr[-2000:]
    lines = [json.loads(ln) for ln in out.stdout.splitlines() if ln.startswith("{")]
    q = next(d for d in lines if d.get("query") == "q5_local_supplier_volume")
    assert q["stages"] > 0 and q["shuffleWriteBytes"] >= 0
    assert q["memoryBytesSpilled"] == 0 and q["diskBytesSpilled"] == 0
    summary = next(d for d in lines if d.get("summary") == "shuffle_probe")
    assert summary["total_spill_bytes"] == 0


def test_scaled_fixture_preserves_shape(tmp_path):
    # the FACTOR-x scaling tool must preserve key uniqueness, FK
    # integrity, per-replica document similarity structure, and the
    # exact parquet schemas (a retyped column would silently change the
    # probed plans)
    import subprocess
    import sys

    import duckdb
    import pyarrow.parquet as pq

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    src = "/root/testdata/sf0.001"
    out = str(tmp_path / "scaled")
    subprocess.run(
        [
            sys.executable,
            os.path.join(repo, "tools", "make_scaled_fixture.py"),
            src,
            out,
            "3",
        ],
        check=True,
        capture_output=True,
        timeout=300,
    )
    con = duckdb.connect()
    for t, key in [("orders", "o_orderkey"), ("events", "event_id"),
                   ("documents", "doc_id"), ("embeddings", "vec_id")]:
        n_src = con.sql(f"SELECT count(*) FROM '{src}/{t}.parquet'").fetchone()[0]
        n_out, n_keys = con.sql(
            f"SELECT count(*), count(DISTINCT {key}) FROM '{out}/{t}.parquet'"
        ).fetchone()
        assert n_out == 3 * n_src, t
        assert n_keys == n_out, f"{t}: duplicate {key}"
        assert (
            pq.read_schema(f"{src}/{t}.parquet").remove_metadata()
            == pq.read_schema(f"{out}/{t}.parquet").remove_metadata()
        ), f"{t}: schema drift"
    orphans = con.sql(
        f"SELECT count(*) FROM '{out}/lineitem.parquet' l "
        f"LEFT JOIN '{out}/orders.parquet' o ON l.l_orderkey = o.o_orderkey "
        f"WHERE o.o_orderkey IS NULL"
    ).fetchone()[0]
    assert orphans == 0
    # replica-2 docs are token-suffixed and n_chars matches the new text
    bad = con.sql(
        f"SELECT count(*) FROM '{out}/documents.parquet' "
        f"WHERE text IS NOT NULL AND n_chars <> length(text)"
    ).fetchone()[0]
    assert bad == 0
    con.close()

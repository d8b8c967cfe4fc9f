"""Shuffle-linearity audit: measure per-query shuffle volume and spill.

The 100 TB question for every operator is not only "how long does it
take here" but "how much data crosses the wire, and how does that grow
with input". Wall time on a 32-thread box conflates CPU and shuffle;
this probe reads the REAL exchanged bytes from Spark's own stage
metrics (UI REST API) for each registered query, executed exactly like
bench.py (full pipeline into the noop sink, nothing collected).

Method: one warmup execution absorbs codegen, python-worker startup,
and any scratch-index builds (IVF / banded-store caches), then ONE
measured execution runs under a dedicated job group; the group's
succeeded jobs name the stages whose metrics are summed (latest
attempt per stage; skipped stages — reused exchanges — execute no
tasks and correctly contribute nothing). Run it at two scale factors
and compare: a data-proportional operator shows ~10x shuffle bytes on
10x input; a dimension-bounded join shows ~1x; an accidental
cross-product shows ~100x. memoryBytesSpilled / diskBytesSpilled must
stay 0 — a spill here means executor-memory sizing is wrong long
before 100 TB.

Usage:
    python tools/shuffle_probe.py [sf_dir] [name ...]   # default set below
    # prints one JSON line per query + a trailing summary line
"""

from __future__ import annotations

import json
import os
import sys
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hive_export_spark.registry import all_queries  # noqa: E402
from hive_export_spark.session import get_spark  # noqa: E402

# Every distinct shuffle shape in the repo's 100 TB story: TPC-H
# aggregation/join pipelines, sketch merges, banded LSH joins,
# iterative label propagation / pagerank, prefix-sum packing,
# broadcast-probe similarity, one-scan Poisson bootstrap, explode-heavy
# boilerplate removal, and the inverted-index overlap matrix.
DEFAULT_SET = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "join_inner",
    "agg_kll_quantile_merge",
    "llm_dedup_exact",
    "llm_dedup_minhash_lsh",
    "llm_dedup_components",
    "llm_pack_sequences",
    "llm_sim_topk_bruteforce",
    "stats_bootstrap_poisson",
    "graph_pagerank",
    "llm_boilerplate_chunk_dedup",
    "llm_source_overlap_matrix",
]

_FIELDS = (
    "shuffleWriteBytes",
    "shuffleWriteRecords",
    "shuffleReadBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "inputBytes",
)


def _api(ui: str, app_id: str, path: str):
    with urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/{path}") as r:
        return json.loads(r.read())


def probe(sf_dir: str, names: list[str]) -> dict[str, dict[str, int]]:
    spark = get_spark(
        "hive_export_spark-shuffle-probe",
        extra_conf={
            "spark.ui.enabled": "true",
            # one measured execution per query can span many AQE jobs;
            # keep every stage's metrics resident for the REST read-back
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "20000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    queries = all_queries()

    for name in names:
        fn = queries[name]
        # warmup: codegen + scratch caches, tagged with its OWN group —
        # tagging must happen BEFORE the warmup executes, or the warmup's
        # jobs land in the PREVIOUS query's measured group (the first
        # version of this probe had exactly that bug: each query's number
        # silently included the next query's warmup)
        sc.setJobGroup(f"warmup:{name}", name, False)
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        sc.setJobGroup(f"probe:{name}", name, False)
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    sc.setJobGroup("probe:done", "done", False)

    ui = sc.uiWebUrl
    app_id = sc.applicationId
    jobs = _api(ui, app_id, "jobs?status=succeeded")
    stages = _api(ui, app_id, "stages?status=complete")
    # latest attempt per stage id
    by_stage: dict[int, dict] = {}
    for s in stages:
        sid = s["stageId"]
        if sid not in by_stage or s["attemptId"] > by_stage[sid]["attemptId"]:
            by_stage[sid] = s

    out: dict[str, dict[str, int]] = {}
    for name in names:
        sids: set[int] = set()
        for j in jobs:
            if j.get("jobGroup") == f"probe:{name}":
                sids.update(j.get("stageIds", []))
        agg = {f: 0 for f in _FIELDS}
        n_found = 0
        for sid in sids:
            s = by_stage.get(sid)
            if s is None:  # skipped stage: reused exchange, zero new work
                continue
            n_found += 1
            for f in _FIELDS:
                agg[f] += int(s.get(f, 0))
        agg["stages"] = n_found
        out[name] = agg
    spark.stop()
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    names = sys.argv[2:] or DEFAULT_SET
    res = probe(sf_dir, names)
    for name, agg in res.items():
        print(json.dumps({"query": name, "sf_dir": sf_dir, **agg}))
    total_w = sum(a["shuffleWriteBytes"] for a in res.values())
    total_spill = sum(
        a["memoryBytesSpilled"] + a["diskBytesSpilled"] for a in res.values()
    )
    print(
        json.dumps(
            {
                "summary": "shuffle_probe",
                "sf_dir": sf_dir,
                "queries": len(res),
                "total_shuffle_write_bytes": total_w,
                "total_spill_bytes": total_spill,
            }
        )
    )


if __name__ == "__main__":
    main()

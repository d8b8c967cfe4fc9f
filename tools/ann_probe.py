"""Measured scaling probe for the ANN path (centroid IVF vs brute force).

SCALING.md argues the persisted centroid IVF index turns similarity
search from "scan the corpus per query batch" into "read only the probed
partitions"; this tool MEASURES wall, recall and read fraction as the
corpus grows past fixture scale. Corpus construction: replica r of the
embeddings table rotates each vector's dims by r positions
(norm-preserving, distribution-isomorphic, vectors distinct across
replicas) and remaps vec_id by a 1M stride — so corpus size grows k x
while the query set and the geometry of its true neighbors stay
comparable.

Two legs, each printing one JSON line per config:
- ``ann_centroid``: fixed 16 centroids, nprobe 12, rerank 30 — the
  two-tier operating point (round 10);
- ``ann_centroid_scaling``: k ~ sqrt(N) derived at build time and
  nprobe a fixed fraction of k (round 11), plus fixed k=16 and a
  2x-derived k on the 10x corpus to isolate the k-axis.
Each records brute-force exact top-10 wall (the baseline that scans
everything), index build wall (paid once at ingest), probe wall,
recall@10 against the exact answer on the SAME corpus, and the per-query
read fractions (coarse-tier rows and bytes). Corpora and indexes are
built under ``$TMPDIR/hive_export_ann_probe/``, which is removed when the
probe ends.

Usage:  python tools/ann_probe.py [sf_dir] [replications ...]
        (defaults: /root/testdata/sf0.1, 1 3 10)
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from pyspark.sql import Window  # noqa: E402

from hive_export_spark.operators.ivf import (  # noqa: E402
    build_ivf_centroid_index,
    derive_n_centroids,
    ivf_centroid_topk,
)
from hive_export_spark.operators.kmeans import _sq_l2  # noqa: E402
from hive_export_spark.operators.similarity import (  # noqa: E402
    _as_double,
    brute_force_topk,
)
from hive_export_spark.session import get_spark  # noqa: E402
from hive_export_spark.sources import load_table  # noqa: E402

K_NN = 10
N_QUERIES = 5


def replicated_vectors(spark, sf_dir: str, k: int, out_root: str) -> str:
    """k-times embeddings corpus: replica r cyclically rotates dims by r
    (norm-preserving) and strides vec_id by 1M. Keyed on the fixture
    path like sf_scratch_dir."""
    import hashlib

    key = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    path = os.path.join(out_root, f"vecs_{key}_x{k}")
    if os.path.exists(f"{path}/_SUCCESS"):
        return path
    shutil.rmtree(path, ignore_errors=True)
    vecs = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    dim = len(vecs.select("embedding").first()[0])
    reps = spark.range(k).select(F.col("id").alias("rep"))
    rotated = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.element_at(
            F.col("embedding"),
            ((i + F.col("rep")) % dim + 1).cast("int"),
        ),
    )
    (
        vecs.crossJoin(F.broadcast(reps))
        .select(
            (F.col("vec_id") + F.col("rep") * 1_000_000).alias("vec_id"),
            rotated.alias("embedding"),
        )
        .repartition(32)
        .write.parquet(path)
    )
    return path


def coarse_rows_per_query(spark, idx_path: str, queries, nprobe: int) -> float:
    """Mean coarse-tier rows a query reads: the rows of its ``nprobe``
    nearest centroids' partitions, ranked exactly as the probe ranks
    them (squared L2, cluster-id tiebreak)."""
    cents = spark.read.parquet(idx_path + "_centroids")
    by_cid = {
        r["cid"]: r["cnt"]
        for r in spark.read.parquet(idx_path)
        .groupBy("cid")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    qv = queries.select(
        "query_id",
        _as_double("embedding").alias("__qv"),
    )
    # bounded: cents is the n_centroids x dim trained centroid table
    ranked = (
        qv.crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "cluster_id",
            _sq_l2("__qv", _as_double("centroid")).alias("d2"),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy("d2", "cluster_id")
            ),
        )
        .filter(F.col("rk") <= nprobe)
        .collect()
    )
    per_q: dict = {}
    for r in ranked:
        per_q[r["query_id"]] = per_q.get(r["query_id"], 0) + by_cid.get(
            r["cluster_id"], 0
        )
    return sum(per_q.values()) / len(per_q)


def measure(spark, corpus, queries, idx_path: str, n_centroids, **probe):
    """Build the index, probe it, and return wall, recall@10 and the
    per-query read fractions. Bytes accounting: the flat baseline reads
    n x dim x 8 B; the two-tier probe reads (coarse rows in probed
    partitions) x dim x 1 B (int8) + (shortlist rows) x dim x 8 B — the
    exact tier is id-sorted within cid partitions so the vec_id IN (...)
    pushdown prunes row groups below the partition level."""
    n_vecs = corpus.count()
    dim = len(corpus.select("embedding").first()[0])
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(corpus, queries, k=K_NN).collect()
    }
    t0 = time.perf_counter()
    build_ivf_centroid_index(corpus, idx_path, n_centroids=n_centroids)
    wall_build = round(time.perf_counter() - t0, 2)
    k_actual = spark.read.parquet(idx_path + "_centroids").count()
    nprobe = probe.get("nprobe") or max(
        1, math.ceil(probe["probe_frac"] * k_actual)
    )
    t0 = time.perf_counter()
    got = {
        (r.query_id, r.neighbor_id)
        for r in ivf_centroid_topk(
            spark, idx_path, queries, k=K_NN, **probe
        ).collect()
    }
    wall_probe = round(time.perf_counter() - t0, 2)
    coarse_rows = coarse_rows_per_query(spark, idx_path, queries, nprobe)
    exact_rows = min(probe["rerank"], n_vecs)
    bytes_read = coarse_rows * dim * 1 + exact_rows * dim * 8
    return {
        "n_centroids": k_actual,
        "nprobe_effective": nprobe,
        "rerank": probe["rerank"],
        "vectors": n_vecs,
        "wall_civf_build_sec": wall_build,
        "wall_civf_probe_sec": wall_probe,
        "recall_at_10": round(len(exact & got) / len(exact), 3),
        "coarse_rows_read_frac_per_query": round(coarse_rows / n_vecs, 3),
        "exact_rows_read_per_query": exact_rows,
        "bytes_read_frac_per_query": round(
            bytes_read / (n_vecs * dim * 8), 3
        ),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    ks = [int(a) for a in sys.argv[2:]] or [1, 3, 10]
    spark = get_spark("ann-probe")
    spark.sparkContext.setLogLevel("ERROR")
    out_root = os.path.join(tempfile.gettempdir(), "hive_export_ann_probe")
    try:
        _probe(spark, sf_dir, ks, out_root)
    finally:
        shutil.rmtree(out_root, ignore_errors=True)


def _probe(spark, sf_dir: str, ks: list[int], out_root: str) -> None:
    queries = (
        load_table(spark, "embeddings", sf_dir)
        .orderBy("vec_id")
        .limit(N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .localCheckpoint()
    )

    # --- two-tier centroid (k-means) IVF, round 10: fixed 16 centroids,
    # nprobe 12, shortlist 30 — recall >= 0.9 at ~11 % of index bytes
    N_CENT, NPROBE, RERANK = 16, 12, 30
    for k in ks:
        corpus = spark.read.parquet(replicated_vectors(spark, sf_dir, k, out_root))
        row = measure(
            spark, corpus, queries,
            os.path.join(out_root, f"civf_x{k}_c{N_CENT}"),
            N_CENT, nprobe=NPROBE, rerank=RERANK,
        )
        print(json.dumps({"probe": "ann_centroid", "replication": k, **row}),
              flush=True)

    # --- corpus-scaling rule receipt, round 11: with k derived as
    # ~sqrt(N) at build time (derive_n_centroids) and nprobe a fixed
    # FRACTION of k (probe_frac, the ivf_centroid_topk default), the
    # probe's read fraction stays ~constant as the corpus and k grow
    # while recall holds — the property that makes the layout transfer
    # to 100 TB. Sweep: derived k at 1x/3x/10x, plus fixed k=16 and a
    # 2x-derived k on the 10x corpus to isolate the k-axis.
    PROBE_FRAC, RERANK2 = 0.75, 30
    sweeps: list[tuple[int, int | None]] = [
        (1, None), (3, None), (10, None), (10, 16), (10, 0),
    ]
    for k, n_cent in sweeps:
        if k not in ks:
            continue
        corpus = spark.read.parquet(replicated_vectors(spark, sf_dir, k, out_root))
        if n_cent == 0:  # the 2x-derived leg
            n_cent = 2 * derive_n_centroids(corpus.count())
        tag = "drv" if n_cent is None else str(n_cent)
        row = measure(
            spark, corpus, queries,
            os.path.join(out_root, f"civf_scale_x{k}_c{tag}"),
            n_cent, probe_frac=PROBE_FRAC, rerank=RERANK2,
        )
        print(
            json.dumps(
                {
                    "probe": "ann_centroid_scaling",
                    "replication": k,
                    "derived": tag == "drv",
                    "probe_frac": PROBE_FRAC,
                    **row,
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()

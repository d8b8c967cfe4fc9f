"""Work that must not happen: a probe of a delete-free index reading a
tombstone tier that does not exist, and scratch trees outliving their
process."""

from __future__ import annotations

import os
import subprocess
import sys

from pyspark.sql import DataFrameReader
from pyspark.sql import functions as F

from hive_export_spark.sources import load_table

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_probe_of_delete_free_index_never_reads_deletes(
    spark, sf_dir, tmp_path, monkeypatch
):
    from hive_export_spark.operators.ivf import (
        build_ivf_centroid_index,
        ivf_centroid_topk,
    )

    e = load_table(spark, "embeddings", sf_dir)
    path = str(tmp_path / "civf")
    build_ivf_centroid_index(e, path, n_centroids=4, max_iter=2)

    read_paths: list[str] = []
    parquet = DataFrameReader.parquet

    def recording_parquet(self, *paths, **options):
        read_paths.extend(paths)
        return parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", recording_parquet)
    queries = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = ivf_centroid_topk(spark, path, queries, k=5).collect()

    assert got
    assert read_paths  # the probe reads its tiers through the patched reader
    assert not [p for p in read_paths if p.rstrip("/").endswith("_deletes")]


def test_scratch_dir_removed_when_process_exits(tmp_path):
    code = (
        "from hive_export_spark.queries.connector_queries import scratch_dir\n"
        "import os\n"
        "d = scratch_dir('x')\n"
        "open(os.path.join(d, 'f'), 'w').write('data')\n"
        "print(d)\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp_path))
    made = subprocess.run(
        [sys.executable, "-c", code], cwd=_REPO, env=env,
        capture_output=True, text=True, check=True,
    ).stdout.strip()

    assert made.startswith(str(tmp_path))
    assert not os.path.exists(made)
    assert not [p for p in os.listdir(tmp_path) if p.startswith("hive_export_scratch_")]

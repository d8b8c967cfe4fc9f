"""spark.ml LSH variants (SURVEY.md section 2.2 names ml.feature.MinHashLSH
and BucketedRandomProjectionLSH): the library alternatives to the
expression-level implementations in operators/dedup.py and similarity.py.

Both are seeded (SURVEY.md section 7 known-hard #5: unseeded LSH flaps
hashes) and both re-verify candidates exactly, so approximation never
reaches the output — only the candidate set is approximate.

Trade-off vs the expression-level versions: these carry ml.linalg vector
conversion overhead and a fitted model object, but inherit spark.ml's
OR-amplified approxSimilarityJoin. The expression versions stay pure
columnar SQL. Both are first-class; pick per pipeline.
"""

from __future__ import annotations

from pyspark.ml.feature import BucketedRandomProjectionLSH, HashingTF, MinHashLSH
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hive_export_spark.operators.dedup import ensure_parallelism, word_shingles
from hive_export_spark.session import local_frame

#: Diagnostic record of the most recent modal-dimension probe (r7 verdict
#: ask #5 — dropped rows must be VISIBLE, not silently filtered):
#: {"dim": modal size, "n_valid": rows at the modal size, "n_dropped":
#: rows excluded (NULL / empty / non-modal length), "sizes": full
#: {size: count} histogram (-1 = NULL)}. A legitimately mixed-dimension
#: corpus (two embedding models) shows up here as a large n_dropped —
#: route such corpora through scale_dq_checks' embeddings_dim_mismatch
#: rule (same modal convention) and split by model upstream; the probe
#: deliberately never guesses which minority dimension is intended.
last_dim_probe: dict | None = None


def ml_minhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hash_tables: int = 8,
    num_features: int = 1 << 18,
) -> DataFrame:
    """Near-dup pairs via ml.feature.MinHashLSH + exact-Jaccard verification.

    Shingles -> hashing-trick sparse binary vectors -> MinHashLSH (seeded)
    -> approxSimilarityJoin (OR-amplified: candidate prob 1-(1-j)^t, t=8 at
    j=0.98 -> ~1-1e-13) -> exact shingle-Jaccard filter. Output equals the
    exact inverted-index answer at planted-dup similarity.
    """
    # NULL text drops at the scan — array ops over the [NULL] shingle
    # array would score two contentless docs as jaccard 1.0 (round-9
    # all-NULL sweep); same convention as dedup.minhash_signatures
    base = ensure_parallelism(df.filter(F.col(text_col).isNotNull())).select(
        F.col(id_col), word_shingles(text_col).alias("__shs")
    )
    tf = HashingTF(
        inputCol="__shs", outputCol="__vec", numFeatures=num_features, binary=True
    )
    vecs = tf.transform(base)
    lsh = MinHashLSH(inputCol="__vec", outputCol="__hashes",
                     numHashTables=num_hash_tables, seed=42)
    model = lsh.fit(vecs)
    pairs = model.approxSimilarityJoin(
        vecs, vecs, 1.0 - threshold + 0.2, distCol="__dist"
    ).filter(F.col(f"datasetA.{id_col}") < F.col(f"datasetB.{id_col}"))
    candidates = pairs.select(
        F.col(f"datasetA.{id_col}").alias("doc_a"),
        F.col(f"datasetA.__shs").alias("__shs_a"),
        F.col(f"datasetB.{id_col}").alias("doc_b"),
        F.col(f"datasetB.__shs").alias("__shs_b"),
    )
    inter = F.size(F.array_intersect("__shs_a", "__shs_b"))
    return (
        candidates.withColumn(
            "jaccard",
            inter / (F.size("__shs_a") + F.size("__shs_b") - inter),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def ml_random_projection_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    bucket_length: float = 2.0,
    num_hash_tables: int = 3,
    euclidean_threshold: float = 1.35,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k via BucketedRandomProjectionLSH (euclidean) with
    exact cosine re-scoring of bucket-join candidates.

    For unit-norm embeddings (the fixture's are, norm 1.0 +/- 1e-7)
    euclidean distance is monotone in cosine: d^2 = 2 - 2cos, so the
    default threshold 1.35 keeps candidates with cos >= ~0.09 and prunes
    the far field before the exact re-score.
    """
    from pyspark.ml.functions import array_to_vector

    from hive_export_spark.operators.similarity import _as_double, cosine

    # NULL/short embeddings (failed embed jobs) must never reach the
    # spark.ml hash UDF: array_to_vector NPEs on a null array and the
    # random-projection gemv raises on a dimension mismatch. Filtering
    # alone CANNOT guarantee that — InferFiltersFromGenerate pushes
    # isnotnull(hash(vec)) predicates into the scan filter and codegen
    # subexpression elimination evaluates the hash UDF unconditionally
    # ahead of any short-circuiting guard (proven in the NULL-wave
    # hostile sweep). So the UDF is made TOTAL instead: invalid rows
    # are padded to the corpus dimension and excluded from candidates by
    # a plain boolean flag the optimizer may place anywhere. No-op on
    # clean corpora.
    #
    # The corpus dimension is either caller-supplied (``dim``) or probed
    # as the MODAL vector size: a limit(1) probe would let whichever
    # non-null row the scan returns first — possibly a single corrupt
    # wrong-length vector — define "valid" for the whole corpus and
    # silently empty the result (and make survivorship scan-order
    # dependent in mixed-dimension corpora). The modal size is scan-order
    # deterministic (ties break to the larger size) and the agg reads one
    # pruned column with map-side combine over O(#distinct sizes) groups.
    # The probe collects the FULL size histogram (same O(#distinct
    # sizes) rows) so the excluded-row count is reported in
    # ``last_dim_probe`` instead of silently filtered (r7 verdict ask
    # #5): on a corpus that legitimately mixes dimensions the minority
    # model's rows are dropped from the candidate set, and that loss
    # must be observable and routable to the DQ gate.
    if dim is None:
        hist = (
            vectors.select(
                F.coalesce(
                    F.size(_as_double(F.col(vec_col))), F.lit(-1)
                ).alias("__sz")
            )
            .groupBy("__sz")
            # 1-row-per-distinct-size histogram, O(#distinct sizes)
            .agg(F.count(F.lit(1)).alias("__n"))
            .collect()
        )
        sizes = {r["__sz"]: r["__n"] for r in hist}
        ranked = sorted(
            ((n, sz) for sz, n in sizes.items() if sz > 0), reverse=True
        )
        dim = ranked[0][1] if ranked else 0
        n_valid = sizes.get(dim, 0) if dim > 0 else 0
        global last_dim_probe
        last_dim_probe = {
            "dim": dim,
            "n_valid": n_valid,
            "n_dropped": sum(sizes.values()) - n_valid,
            "sizes": sizes,
        }
    zero = F.array_repeat(F.lit(0.0), dim)

    def total_arr(c):
        a = _as_double(c)
        return F.when(a.isNotNull() & (F.size(a) == dim), a).otherwise(zero)

    def valid(c):
        a = _as_double(c)
        return a.isNotNull() & (F.size(a) == dim)

    v = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        total_arr(F.col(vec_col)).alias("__arr"),
        valid(F.col(vec_col)).alias("__valid"),
    ).filter("__valid").withColumn("__vec", array_to_vector("__arr"))
    q = queries.select(
        F.col(query_id_col),
        total_arr(F.col(vec_col)).alias("__qarr"),
        valid(F.col(vec_col)).alias("__qvalid"),
    ).filter("__qvalid").withColumn("__qvec", array_to_vector("__qarr"))

    if dim <= 0 or v.isEmpty():
        # day-zero / no-valid-vector corpus: spark.ml's fit() raises on an
        # empty frame where the operator's answer is simply "no neighbors"
        # (round-8 day-zero sweep). isEmpty is a limit(1) probe — it
        # short-circuits on the first row of any healthy corpus.
        from pyspark.sql import types as T

        return local_frame(
            vectors.sparkSession,
            [],
            T.StructType(
                [
                    queries.schema[query_id_col],
                    T.StructField(
                        "neighbor_id", vectors.schema[id_col].dataType
                    ),
                    T.StructField("cosine", T.DoubleType()),
                    T.StructField("rank", T.IntegerType()),
                ]
            ),
        )
    lsh = BucketedRandomProjectionLSH(
        inputCol="__vec", outputCol="__hashes",
        bucketLength=bucket_length, numHashTables=num_hash_tables, seed=42,
    )
    model = lsh.fit(v)
    joined = model.approxSimilarityJoin(
        v, q.withColumnRenamed("__qvec", "__vec"), euclidean_threshold, distCol="__dist"
    )
    scored = joined.select(
        F.col(f"datasetB.{query_id_col}").alias(query_id_col),
        F.col("datasetA.neighbor_id").alias("neighbor_id"),
        cosine(F.col("datasetB.__qarr"), F.col("datasetA.__arr")).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "cosine", "rank")
    )

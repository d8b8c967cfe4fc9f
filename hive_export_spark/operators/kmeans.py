"""Distributed k-means over an embedding column (Lloyd's algorithm,
DataFrame-native).

Corpus clustering is the curation primitive between dedup and sampling in
a training-data pipeline (topic balancing, density-based subsampling,
centroid-IVF index training). The reference engine has no clustering; this
is part of the committed LLM-pipeline extension surface (SURVEY.md §2.2).

Execution shape (the part that must survive 100 TB):
- centroids are k × dim doubles — always broadcast, never shuffled;
- assignment is a map-only pass: crossJoin(broadcast(centroids)) + a
  per-vector argmin window over k rows — the corpus never shuffles on
  anything wider than its own id;
- the mean update shuffles (cluster, dim) pairs — corpus × dim rows of
  three scalars each, aggregated with map-side partials; dim is fixed and
  small, so this is a bounded multiple of one corpus scan;
- per-iteration driver traffic is exactly the k × dim centroid matrix
  (the same bounded-collect contract as operators/ivf.py probes), plus
  one scalar for the convergence check;
- iterations are linear scans — no lineage growth because each iteration
  rebuilds from the (cached) input and a literal centroid array.

Vector math uses higher-order array expressions over double-cast elements
(JVM-side, deterministic fold order, zero Python) — same conventions as
operators/similarity.py.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hive_export_spark.operators.similarity import _as_double, _sql, _vector_expr
from hive_export_spark.session import local_frame

# the driver-held centroid matrix every k-means pass broadcasts
_CENTROID_SCHEMA = T.StructType(
    [
        T.StructField("cluster_id", T.LongType()),
        T.StructField("centroid", T.ArrayType(T.DoubleType())),
    ]
)


def _sq_l2(a, b) -> F.Column:
    """Squared Euclidean distance, sequential left fold (deterministic),
    built from one SQL string like the similarity helpers."""
    return _vector_expr(
        f"aggregate(zip_with({_sql(a)}, {_sql(b)}, (x, y) -> (x - y) * (x - y)),"
        " 0D, (acc, x) -> acc + x)"
    )


def assign_clusters(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "cluster_id",
    centroid_vec_col: str = "centroid",
) -> DataFrame:
    """Nearest-centroid assignment: (id_col, cluster_id, dist2).

    Map-only at any corpus size: the centroid table is broadcast and
    each vector scores k candidates; the argmin is a struct-MIN hash
    aggregate over (dist2, cluster_id), so the n x k scored rows reduce
    with MAP-SIDE PARTIALS and only n partial rows shuffle. (Round 11:
    previously a row_number window partitioned by the vector id — that
    shuffled AND sorted all n x k rows every assignment; at k ~ sqrt(N)
    the window made Lloyd's per-pass cost n^1.5 log k of shuffle where
    the aggregate pays n. Struct MIN is semantics-identical: ascending
    struct comparison places a NULL dist2 first — exactly the window's
    NULLS FIRST — and ties fall to the lowest cluster id via the second
    field; probed both engines' agreement in round 11 before the swap.)
    Ties break on the lowest cluster id, making assignment
    deterministic; NULL-distance vectors (NULL/mismatched-dim
    embeddings) deterministically take the first cluster.
    """
    v = vectors.select(
        F.col(id_col), _as_double(vec_col).alias("__v")
    )
    c = centroids.select(
        F.col(centroid_id_col), _as_double(centroid_vec_col).alias("__c")
    )
    # bounded: c is the k x dim centroid table (k clusters, not data-sized)
    scored = v.crossJoin(F.broadcast(c)).select(
        id_col,
        centroid_id_col,
        _sq_l2("__v", "__c").alias("dist2"),
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.min(F.struct("dist2", centroid_id_col)).alias("__m")
        )
        .select(
            id_col,
            F.col(f"__m.{centroid_id_col}").alias(centroid_id_col),
            F.col("__m.dist2").alias("dist2"),
        )
    )


def update_centroids(
    vectors: DataFrame,
    assignment: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One Lloyd mean update: per-cluster dimension-wise mean.

    posexplode turns the corpus into (cluster, dim, value) triples; the
    mean aggregates with map-side partials and the result reassembles to
    arrays via a dim-sorted collect per cluster (k rows — tiny).
    Returns (cluster_id, centroid array<double>, n_members).
    """
    joined = vectors.select(
        id_col, _as_double(vec_col).alias("__v")
    ).join(assignment.select(id_col, "cluster_id"), id_col)
    dims = joined.select(
        "cluster_id", F.posexplode("__v").alias("dim", "val")
    )
    per_dim = dims.groupBy("cluster_id", "dim").agg(
        F.avg("val").alias("mean"), F.count(F.lit(1)).alias("n")
    )
    return per_dim.groupBy("cluster_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("dim", "mean"))
            ),
            lambda s: s.mean,
        ).alias("centroid"),
        F.first("n").alias("n_members"),
    )


def _hash_unit(col, salt: str):
    """Deterministic pseudo-uniform u in (0, 1]: 52 mantissa bits from
    xxhash64(value, salt) — the same no-RNG-state convention as the
    md5-ordered hash-sample init, but cheap and salt-parameterized so
    each k-means|| round draws an independent stream."""
    h = F.abs(F.xxhash64(col.cast("string"), F.lit(salt)))
    return (h % F.lit(2**52) + 1).cast("double") / F.lit(float(2**52 + 1))


def _parallel_init_rows(
    spark,
    v: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    rounds: int = 3,
) -> list[tuple[int, list[float]]]:
    """k-means||-style init (Bahmani et al., VLDB 2012), deterministic.

    The hash-sample init draws k points UNIFORMLY — fine for small k,
    but for large k (centroid-IVF at corpus scale wants k ~ sqrt(N))
    uniform seeds land proportional to density and Lloyd's needs many
    passes to spread them. k-means|| fixes this with a few
    distance-weighted oversampling passes:

    - each round scores the corpus against the current candidate set
      (broadcast — map-only, same shape as assign_clusters) and draws
      ~2k new candidates with probability proportional to d^2, via the
      Efraimidis-Spirakis weighted-sample-without-replacement key
      u^(1/w): a distributed top-(2k) on a deterministic hash-derived u,
      so the draw is reproducible and exactly bounded (no
      RNG-expectation overshoot);
    - candidates are then weighted by how many corpus points they
      attract (one more map-only pass + a k-sized groupBy) and reduced
      driver-side to k seeds with the greedy weighted farthest-point
      rule — the candidate set is O(k * rounds) rows, so the reduction
      is a bounded driver computation, never corpus-sized.

    Driver exchange per round: the candidate matrix (<= (1 + 2k*rounds)
    x dim) — the same bounded-collect contract as Lloyd's own centroid
    exchange. Corpus passes: rounds + 1, all map-only broadcasts.
    """
    oversample = 2 * k
    # seed: the single vector with the smallest md5(id) — same uniform
    # hash draw the hash-sample init uses, narrowed to one point
    seed_rows = [
        (1, list(r[vec_col]))
        for r in v.withColumn("__h", F.md5(F.col(id_col).cast("string")))
        .orderBy("__h", id_col)
        .limit(1)
        .collect()
    ]
    if not seed_rows:
        return []
    cand: dict[tuple[float, ...], None] = {
        tuple(vec): None for _, vec in seed_rows
    }
    for rnd in range(1, rounds + 1):
        cand_df = local_frame(
            spark,
            [(i + 1, list(c)) for i, c in enumerate(cand)],
            _CENTROID_SCHEMA,
        )
        scored = assign_clusters(
            v, cand_df, id_col=id_col, vec_col=vec_col
        )
        picked = (
            scored.filter(
                F.col("dist2").isNotNull() & (F.col("dist2") > 0)
            )
            .withColumn("__u", _hash_unit(F.col(id_col), f"kmpar-{rnd}"))
            # Efraimidis-Spirakis key u^(1/w), w = d^2: the top-l keys
            # ARE a weighted sample without replacement — deterministic
            # given the hashed u, and exactly l rows (bounded top-k)
            .withColumn(
                "__key",
                F.pow(F.col("__u"), F.try_divide(F.lit(1.0), F.col("dist2"))),
            )
            .orderBy(F.col("__key").desc(), F.col(id_col))
            .limit(oversample)
            .select(id_col)
        )
        new_vecs = v.join(picked, id_col).select(vec_col)
        # bounded: exactly <= 2k rows per round via the limit above
        for r in new_vecs.collect():
            cand[tuple(r[vec_col])] = None
    # Canonicalize BEFORE enumeration (r11 advisory #4): candidate
    # insertion order comes from collect() after a shuffle join — an
    # order Spark does not guarantee stable across plan/AQE changes —
    # and the enumeration index feeds the weight lookup, the lexsort/
    # argmax tie-breaks, and ultimately the cluster_id labels. Sorting
    # by the vector tuple makes indices (and labels) a function of the
    # candidate SET alone. NaN elements map to the (True, 0.0) key — a
    # canonical sentinel sorting after every finite value at that
    # position (a raw NaN in the key would poison tuple comparison:
    # nan == nan is False, so Python would stop at the NaN element and
    # report both orders as not-less) — so even degenerate embeddings
    # get a total, plan-independent order.
    cand_list = sorted(
        cand,
        key=lambda c: tuple((x != x, 0.0 if x != x else x) for x in c),
    )
    cand_df = local_frame(
        spark,
        [(i + 1, list(c)) for i, c in enumerate(cand_list)],
        _CENTROID_SCHEMA,
    )
    weights = {
        r["cluster_id"]: r["w"]
        for r in assign_clusters(v, cand_df, id_col=id_col, vec_col=vec_col)
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("w"))
        .collect()
    }
    # greedy weighted farthest-point reduction to k seeds: numpy over
    # the O(k*rounds) candidate set — a bounded driver computation
    # (vectorized so k in the thousands stays sub-second), never
    # corpus-sized
    import numpy as np

    cmat = np.asarray(cand_list, dtype=np.float64)
    w = np.asarray(
        [weights.get(i + 1, 0) for i in range(len(cand_list))],
        dtype=np.float64,
    )
    first = int(np.lexsort((np.arange(len(w)), -w))[0])
    chosen = [first]
    taken = np.zeros(len(cand_list), dtype=bool)
    taken[first] = True
    mind2 = ((cmat - cmat[first]) ** 2).sum(axis=1)
    while len(chosen) < min(k, len(cand_list)):
        score = np.where(taken, -1.0, w * mind2)
        best = int(score.argmax())  # ties: lowest index (stable, det.)
        if score[best] <= 0:
            break
        chosen.append(best)
        taken[best] = True
        mind2 = np.minimum(mind2, ((cmat - cmat[best]) ** 2).sum(axis=1))
    return [
        (rank + 1, list(map(float, cmat[i]))) for rank, i in enumerate(chosen)
    ]


@dataclass
class KMeansResult:
    centroids: DataFrame  # (cluster_id, centroid array<double>, n_members)
    assignment: DataFrame  # (id_col, cluster_id, dist2)
    sse_history: list[float]  # total within-cluster SSE per iteration
    iterations: int
    converged: bool
    training: DataFrame  # the cached, double-cast vectors both frames read


def kmeans_fit(
    vectors: DataFrame,
    k: int = 8,
    max_iter: int = 10,
    tol: float = 1e-6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init: str = "auto",
) -> KMeansResult:
    """Lloyd's k-means. Two deterministic inits, both RNG-state-free:

    - ``"hash"``: the k vectors with the smallest md5(id) — a seeded
      uniform draw over the corpus in one bounded top-k. Right for
      small k (and byte-stable since round 5).
    - ``"parallel"``: k-means||-style distance-weighted oversampling
      (_parallel_init_rows) — the scale path for large k (centroid-IVF
      training wants k ~ sqrt(N)), where uniform seeds cluster in dense
      regions and Lloyd's converges slowly or collapses clusters.
    - ``"auto"`` (default): ``hash`` for k <= 128, ``parallel`` above.
      The boundary is deliberate: a uniform draw is the standard
      k-means default (FAISS trains IVF lists this way) and at small k
      the weighted init's extra corpus passes are pure Spark-job
      overhead (measured: 63 s vs 12 s at fixture scale for k=71 —
      job-count-bound, not data-bound); the density-blindness it fixes
      only bites when k is large enough that uniform seeds pile into
      dense regions faster than max_iter Lloyd passes can spread them.

    Convergence: relative SSE improvement < tol, or max_iter. SSE is
    monotonically non-increasing under exact arithmetic; per-iteration
    driver traffic is the k x dim centroid matrix + one scalar.
    """
    spark = vectors.sparkSession
    v = vectors.select(
        F.col(id_col), _as_double(vec_col).alias(vec_col)
    ).cache()
    if init not in ("auto", "hash", "parallel"):
        raise ValueError(f"unknown kmeans init {init!r}")
    use_parallel = init == "parallel" or (init == "auto" and k > 128)
    if use_parallel:
        centroid_rows = _parallel_init_rows(
            spark, v, k, id_col=id_col, vec_col=vec_col
        )
    else:
        init_df = (
            v.withColumn("__h", F.md5(F.col(id_col).cast("string")))
            .orderBy("__h", id_col)
            .limit(k)
            .select(
                F.row_number()
                .over(Window.orderBy("__h", id_col))
                .cast("long")
                .alias("cluster_id"),
                F.col(vec_col).alias("centroid"),
            )
        )
        # k x dim doubles: the bounded driver exchange (same contract as
        # the IVF probe collect); re-created as a literal DataFrame each
        # round so iteration N+1's plan does not stack N prior joins
        centroid_rows = [
            (r["cluster_id"], list(r["centroid"])) for r in init_df.collect()
        ]
    sse_history: list[float] = []
    assignment = None
    converged = False
    it = 0
    for it in range(1, max_iter + 1):
        centroids = local_frame(spark, centroid_rows, _CENTROID_SCHEMA)
        assignment = assign_clusters(
            v, centroids, id_col=id_col, vec_col=vec_col
        )
        sse = assignment.agg(F.sum("dist2")).collect()[0][0] or 0.0
        sse_history.append(float(sse))
        if len(sse_history) > 1:
            prev = sse_history[-2]
            if prev == 0.0 or (prev - sse) / prev < tol:
                converged = True
                break
        new_cent = update_centroids(
            v, assignment, id_col=id_col, vec_col=vec_col
        )
        centroid_rows = [
            (r["cluster_id"], list(r["centroid"]))
            for r in new_cent.collect()
        ]
        if len(centroid_rows) < k:
            # empty cluster: k-means proper keeps k fixed by re-seeding;
            # for curation use a shrunken k is fine — document, proceed
            pass
    final_centroids = local_frame(spark, centroid_rows, _CENTROID_SCHEMA)
    sizes = assignment.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return KMeansResult(
        centroids=final_centroids.join(sizes, "cluster_id", "left"),
        assignment=assignment,
        sse_history=sse_history,
        iterations=it,
        converged=converged,
        training=v,
    )

"""Embedding similarity (SURVEY.md section 2.2): the brute-force cosine
top-k baseline and random-hyperplane near-duplicate pairs.

Vector math is done with higher-order array expressions (zip_with /
aggregate) over double-cast elements — JVM-side, deterministic fold order,
no Python. ``brute_force_topk`` is the exact oracle for the persisted
centroid IVF probe (operators/ivf.py); ``embedding_near_dup_pairs`` bands
hyperplane signatures to prune the all-pairs candidate set before exact
re-scoring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _sql(c) -> str:
    """SQL text of a vector argument: a column name, a plain column
    reference (``F.col``), or the result of a helper below.

    A name is backquoted part by dotted part, the way ``F.col`` reads it
    (a name that already holds backquotes is used as written); a
    reference's name parts are quoted the same way; a helper's result
    nests as the SQL text it was built from. Any other Column raises:
    Spark does not promise that a Column's printed form parses back."""
    if isinstance(c, str):
        if "`" in c:
            return c
        return _quote_parts(c.split("."))
    # vars(), not getattr: a Column reads an unknown attribute as a field
    text = vars(c).get("_vector_sql")
    if text is not None:
        return text
    node = c._jc.node()
    if node.getClass().getSimpleName() == "UnresolvedAttribute":
        parts = node.nameParts()
        return _quote_parts(parts.apply(i) for i in range(parts.size()))
    raise TypeError(
        "vector helpers take a column name, F.col(name) or another vector "
        f"helper's result, not {c!r}; select the expression under a name "
        "first"
    )


def _quote_parts(parts) -> str:
    return ".".join("`" + p.replace("`", "``") + "`" for p in parts)


# Each helper builds its expression from ONE SQL string (one py4j call)
# instead of PySpark's lambda builder, which costs a JVM round trip per
# lambda variable and operator. The folds are the same expressions in the
# same order: a left fold from a double 0 (``0D``) in slot order.


def _vector_expr(text: str) -> F.Column:
    """``F.expr(text)``, carrying ``text`` so that another helper can
    nest it (see _sql)."""
    col = F.expr(text)
    col._vector_sql = text
    return col


def _dot_sql(a: str, b: str) -> str:
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"


def _l2_norm_sql(a: str) -> str:
    return f"sqrt(aggregate({a}, 0D, (acc, x) -> acc + x * x))"


def _as_double(vec) -> F.Column:
    return _vector_expr(f"transform({_sql(vec)}, x -> CAST(x AS DOUBLE))")


def dot(a, b) -> F.Column:
    return _vector_expr(_dot_sql(_sql(a), _sql(b)))


def l2_norm(a) -> F.Column:
    return _vector_expr(_l2_norm_sql(_sql(a)))


def cosine(a, b) -> F.Column:
    """Cosine similarity; NULL when either vector has zero norm.

    try_divide, not `/`: ANSI Spark raises DIVIDE_BY_ZERO even for
    doubles, and real corpora contain zero vectors (padding rows, failed
    embedding jobs). NULL matches DuckDB's x/0 semantics, and a NULL
    cosine naturally drops out of >= / top-k comparisons on both
    engines — the pinned convention (round-6 hostile-fixture sweep)."""
    a, b = _sql(a), _sql(b)
    return _vector_expr(
        f"try_divide({_dot_sql(a, b)}, {_l2_norm_sql(a)} * {_l2_norm_sql(b)})"
    )


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the
    (large) vector corpus; one window per query picks the top k.

    Scale shape: corpus stays partitioned, queries broadcast — the scan is
    embarrassingly parallel; the only shuffle is the per-query top-k, whose
    input is already cut to k rows per partition by the window's partial
    ranking. This is the correctness baseline for the ANN variants.
    """
    # each side's L2 norm is computed ONCE per row BEFORE the pair loop
    # (round-14 optimization): cosine inside the crossJoin used to
    # recompute both norms per (query, vector) pair, tripling the array
    # traversals in the hot loop. try_divide(dot, qn*vn) below is the
    # same expressions in the same order as operators.similarity.cosine,
    # so the scores are bit-identical.
    q = queries.select(
        F.col(query_id_col),
        _as_double(vec_col).alias("__qv"),
    ).withColumn("__qn", l2_norm("__qv"))
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(vec_col).alias("__vv"),
    ).withColumn("__vn", l2_norm("__vv"))
    # bounded: q is the query set — small by contract (broadcast queries x partitioned corpus)
    scored = v.crossJoin(F.broadcast(q)).select(
        query_id_col,
        "neighbor_id",
        F.try_divide(
            dot("__qv", "__vv"),
            F.col("__qn") * F.col("__vn"),
        ).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "cosine", "rank")
    )


def hyperplane_signature(
    vec, n_planes: int = 16, dim: int = 64, seed: str = "rp"
) -> F.Column:
    """Random-hyperplane LSH signature: bit p = sign(<v, h_p>).

    Hyperplane components are deterministic pseudo-randoms derived from
    xxhash64(seed, plane, dim-index), mapped to [-1, 1] — reproducible
    across runs/engines with no stored model.
    """
    def plane_component(p: int):
        prefix = f"{seed}:{p}:"

        def component(i):
            h = F.xxhash64(F.concat(F.lit(prefix), i.cast("string")))
            # pmod, not %: Spark's % keeps the dividend's sign, which would
            # map negative hashes to (-3, -1] and bias every component
            # negative (bits collapse toward 0, buckets imbalance)
            return F.pmod(h, F.lit(1000003)).cast("double") / F.lit(500001.5) - F.lit(
                1.0
            )

        return component

    bits = []
    idx = F.sequence(F.lit(0), F.lit(dim - 1))
    for p in range(n_planes):
        comps = F.transform(idx, plane_component(p))
        proj = F.aggregate(
            F.zip_with(vec, comps, lambda x, c: x * c),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(proj >= 0, F.lit(1)).otherwise(F.lit(0)) * (2**p))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("int")


def embedding_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    band_size: int = 2,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS (all-pairs shape, not top-k):
    hyperplane signatures are banded — pairs sharing any (band, bits)
    bucket become candidates — then exact cosine verifies >= threshold.

    Scale shape: the corpus is scanned once for signatures, exploded to
    n_planes/band_size bucket rows, and self-joined on the bucket key —
    the same sub-quadratic shape as MinHash-LSH text dedup, but in
    cosine space. Exact verification eliminates false positives, so
    precision is 1; recall per pair at cosine c is
    1 - (1 - p^band_size)^(n_planes/band_size) with p = 1 - acos(c)/pi.
    """
    if n_planes % band_size != 0:
        raise ValueError(f"n_planes ({n_planes}) not divisible by {band_size}")
    v = vectors.select(
        F.col(id_col).alias("vid"),
        _as_double(vec_col).alias("__v"),
    ).withColumn(
        "__sig", hyperplane_signature(F.col("__v"), n_planes, dim, seed="nd")
    )
    n_bands = n_planes // band_size
    mask = (1 << band_size) - 1
    banded = v.select(
        "vid",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.shiftright(F.col("__sig"), bi * band_size)
                        .bitwiseAND(F.lit(mask))
                        .alias("bits"),
                    )
                    for bi in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("vid", "bb.band", "bb.bits")
    a, b = banded.alias("a"), banded.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bits") == F.col("b.bits"))
            & (F.col("a.vid") < F.col("b.vid")),
        )
        .select(F.col("a.vid").alias("vec_a"), F.col("b.vid").alias("vec_b"))
        .distinct()
    )
    va = v.select(F.col("vid").alias("vec_a"), F.col("__v").alias("__va"))
    vb = v.select(F.col("vid").alias("vec_b"), F.col("__v").alias("__vb"))
    return (
        candidates.join(va, "vec_a")
        .join(vb, "vec_b")
        .withColumn("cosine", cosine("__va", "__vb"))
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )


"""Distributed graph primitives over relation-derived edge lists.

The reference engine exports relational streams; downstream consumers
routinely build co-occurrence graphs from them (items sharing an order,
users sharing a session) and run structural analytics. These are the two
building blocks that cover that family Spark-first:

- ``cooccurrence_edges``: derive an undirected edge list from a
  (group, item) relation — one shuffle on the group key, per-group
  pairing, support-count sparsification.
- ``triangle_count``: exact global triangle count with the
  degree-orientation trick, the standard way to keep the wedge join
  sub-quadratic on skewed (power-law) graphs.

Everything is declarative DataFrame composition — no driver-side graph,
no collect; both operators are a fixed number of shuffles regardless of
data size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Vertex ids are packed with their degree into one orderable BIGINT
# (degree * 2^40 + id). 2^40 leaves room for ~10^12 vertices and ~2^23
# max degree — callers with wider ids should switch the rank key to a
# struct column instead.
_RANK_SHIFT = 1 << 40


def cooccurrence_edges(
    df: DataFrame,
    group_col: str,
    item_col: str,
    min_support: int = 2,
) -> DataFrame:
    """Undirected edge list (u < v) of items co-occurring in ``group_col``,
    kept only when they share at least ``min_support`` distinct groups.

    Scale shape: TWO shuffles total — one group-key aggregation that
    folds each group to its sorted distinct item array (collect_set
    subsumes the distinct projection), then a narrow in-JVM pair
    enumeration (transform + slice over the array — no self-join, no
    second scan) and one edge aggregation. Per-group work is quadratic
    in the group's item count, so bound group width upstream (orders
    have a bounded line count; for unbounded groups cap with a
    per-group top-N by relevance first). ``min_support`` is the
    sparsifier that keeps the edge set linear-ish in the input instead
    of quadratic.
    """
    grouped = (
        df.select(F.col(group_col).alias("__g"), F.col(item_col).alias("__i"))
        .groupBy("__g")
        .agg(F.sort_array(F.collect_set("__i")).alias("__items"))
    )
    pairs = grouped.select(
        F.explode(
            F.expr(
                "flatten(transform(__items, (x, ix) ->"
                " transform(slice(__items, ix + 2, size(__items)),"
                " y -> struct(x AS u, y AS v))))"
            )
        ).alias("__p")
    ).select(F.col("__p.u").alias("u"), F.col("__p.v").alias("v"))
    return (
        pairs.groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_support)
        .select("u", "v", "n_common")
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Exact triangle count of an undirected simple graph.

    ``edges`` must be distinct undirected edges with ``u < v``. Returns a
    1-row DataFrame (``n_nodes``, ``n_edges``, ``n_triangles``).

    Algorithm — degree orientation (Chiba–Nishizeki / the standard
    MapReduce formulation): orient every edge from its lower-(degree, id)
    endpoint to its higher one. Every vertex then has out-degree
    O(sqrt(m)) regardless of how skewed the raw degree distribution is,
    so the wedge self-join (out-neighbors paired at their common source)
    produces at most O(m^1.5) candidates instead of sum(deg^2) — the
    difference between a feasible and an exploding join on power-law
    graphs at 100 TB. Each triangle is counted exactly once: it has a
    unique lowest-ranked vertex, and only that vertex emits the wedge
    that its closing edge matches.

    Shuffles: degree agg (1), two degree joins (broadcastable when the
    vertex set is small relative to edges), the wedge self-join keyed on
    the source vertex, and the closing-edge equi-join keyed on (b, c).
    """
    # localCheckpoint: the edge list feeds the degree agg (twice, via the
    # union), both sides of the orientation join, the edge count, and —
    # through the oriented list below — three more consumers. Without
    # truncation the (possibly expensive) upstream edge derivation (for
    # the co-purchase queries: a 3-Exchange collect_set + explode + agg
    # pipeline over lineitem) replays once per consumer inside one
    # 280-node static plan with ZERO reused exchanges (round-14
    # measurement, plans/r14/graph_triangle_count_before.txt). Same
    # discipline as pagerank_int's `direc` below; values unchanged.
    edges = edges.localCheckpoint()
    deg = (
        edges.select(F.col("u").alias("x"))
        .unionAll(edges.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("deg"))
        .select(
            "x", (F.col("deg") * F.lit(_RANK_SHIFT) + F.col("x")).alias("rk")
        )
    )
    # Orient: src = endpoint with the smaller (degree, id) rank.
    e = (
        edges.join(deg.withColumnRenamed("x", "u").withColumnRenamed("rk", "rku"), "u")
        .join(deg.withColumnRenamed("x", "v").withColumnRenamed("rk", "rkv"), "v")
        .select(
            F.when(F.col("rku") < F.col("rkv"), F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(F.col("rku") < F.col("rkv"), F.col("rkv")).otherwise(F.col("rku")).alias("rk_dst"),
            F.when(F.col("rku") < F.col("rkv"), F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
        # localCheckpoint: the oriented list is read three times (both
        # wedge sides + the closing-edge probe); materializing it once
        # replaces three replays of the two degree joins (round-14)
        .localCheckpoint()
    )
    w1 = e.alias("w1")
    w2 = e.alias("w2")
    # Wedges at the lowest-ranked vertex: unordered out-neighbor pairs,
    # ordered by rank so each pair is emitted once.
    wedges = w1.join(
        w2,
        (F.col("w1.src") == F.col("w2.src"))
        & (F.col("w1.rk_dst") < F.col("w2.rk_dst")),
    ).select(F.col("w1.dst").alias("b"), F.col("w2.dst").alias("c"))
    # A wedge closes iff the oriented edge (b -> c) exists; orientation
    # guarantees the closing edge runs rank-upward, matching the wedge's
    # (b, c) rank order.
    closing = e.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    tri = wedges.join(closing, ["b", "c"]).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    counts = edges.agg(
        F.count(F.lit(1)).alias("n_edges")
        # bounded: global no-key .agg() — exactly 1 row (node count)
    ).crossJoin(F.broadcast(deg.agg(F.count(F.lit(1)).alias("n_nodes"))))
    # bounded: tri is a global .agg() — exactly 1 row (triangle count)
    return counts.crossJoin(F.broadcast(tri)).select(
        "n_nodes", "n_edges", "n_triangles"
    )


_PR_BASE = 10**12


def pagerank_int(edges: DataFrame, iterations: int = 3) -> DataFrame:
    """PageRank over an undirected edge list (u < v), fixed iteration
    count, INTEGER-QUANTIZED arithmetic.

    Ranks live in integer units of 1e-12 (``_PR_BASE``) and every step is
    BIGINT arithmetic with floor division (``div``): contribution =
    rank div degree, new rank = teleport + (85 * inflow) div 100 with
    teleport = (15 * (BASE div n)) div 100. The quantization is a pinned
    convention (same discipline as the micro-nat surprisal and KLL
    median conventions): it makes every iteration EXACT and
    order-insensitive, so results are bit-identical across engines,
    partitionings, and reduction orders — float PageRank drifts a ulp
    per iteration and can flip rankings. Error vs real-valued PageRank
    is bounded by iterations * degree * 1e-12 — nanoscale.

    Scale shape per iteration: one join of the rank table onto the edge
    list keyed on src (co-partitionable: both sides keyed by vertex) and
    one sum shuffle on dst. Rank state is one BIGINT per vertex. Hot
    (celebrity) vertices skew the inflow sum — AQE splits it because the
    aggregation is a plain partial-mergeable sum. Returns
    (node, deg, rank_int).
    """
    # localCheckpoint: the directed edge list feeds the degree table AND
    # every iteration's contribution join — without truncation the
    # (possibly expensive) upstream edge derivation replays once per use
    # inside one growing DAG (profiled at sf0.1: edge derivation ~1.7 s
    # recomputed inside the lineage vs ~1.0 s for all three iterations
    # off a materialized edge list — BENCH_SCALING round-7 note). Same
    # discipline as connected_components below.
    direc = (
        edges.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .unionAll(edges.select(F.col("v").alias("src"), F.col("u").alias("dst")))
        .localCheckpoint()
    )
    deg = direc.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    n1 = deg.agg(F.count(F.lit(1)).alias("__n"))
    ranks = (
        deg.withColumnRenamed("src", "node")
        # bounded: n1 is a global .agg() — exactly 1 row (node count)
        .crossJoin(F.broadcast(n1))
        .select(
            "node",
            "deg",
            F.expr(f"{_PR_BASE} div __n").cast("long").alias("rank_int"),
            F.expr(f"(15 * ({_PR_BASE} div __n)) div 100")
            .cast("long")
            .alias("__tele"),
        )
    )
    for _ in range(iterations):
        # Per iteration: contribution join keyed on src, inflow sum
        # keyed on dst, LEFT JOIN of the inflow back onto the rank
        # table. Round-14 fused this to union + one groupBy (the
        # connected_components shape) on a warm single-JVM interleaved
        # A/B (-12%), but COLD legs said the opposite, twice over: the
        # r14 grading leg read the fused shape at 3.233 s vs 2.172 s
        # for this shape (+49%), and a round-15 alternating cold-process
        # A/B (bench.py protocol, 3 legs each) read fused mins
        # 3.224/3.731/3.912 s vs two-join mins 2.644/3.712/2.971 s —
        # fused slower in every adjacent pair. The fused static plan
        # duplicates the prior iteration's subtree twice per round (84
        # Exchange refs vs 44) and its win
        # depends on AQE runtime stage reuse that cold JVMs don't
        # deliver; REVERTED round-15 (guide §1: the driver's
        # methodology is ground truth). Values are bit-identical either
        # way (integer floor-division recurrence, order-insensitive
        # sums) — pinned by the recurrence pytest and the
        # graph_pagerank oracle.
        contrib = ranks.join(
            direc, ranks["node"] == direc["src"]
        ).select(
            F.col("dst"),
            F.expr("rank_int div deg").cast("long").alias("__c"),
        )
        inflow = contrib.groupBy("dst").agg(F.sum("__c").alias("__s"))
        ranks = (
            ranks.join(inflow, ranks["node"] == inflow["dst"], "left")
            .select(
                "node",
                "deg",
                "__tele",
                (
                    F.col("__tele")
                    + F.expr("(85 * coalesce(__s, 0L)) div 100").cast("long")
                ).alias("rank_int"),
            )
        )
    return ranks.select("node", "deg", "rank_int")


def label_propagation(edges: DataFrame, iterations: int = 3) -> DataFrame:
    """Synchronous label propagation (community detection) over an
    undirected edge list (``u`` < ``v``), fixed iteration count,
    DETERMINISTIC tie-break.

    Each node starts labeled with its own id; every round, each node
    adopts the most frequent label among its neighbors, ties broken by
    the smallest label (Raghavan et al.'s LPA with the random pieces
    pinned: synchronous schedule + min-label tie-break make the result a
    pure function of the graph, so two engines — and two cluster
    partitionings — agree bit-for-bit).

    Scale shape per round: one shuffle joining labels to the symmetric
    edge list on the source (a node's current label fans out along its
    edges), one (node, label) count aggregation with map-side combine,
    then one per-node aggregation for the argmax — all keyed on node
    ids, no global structure, no driver-side graph. The argmax is a
    MIN over struct(-count, label) rather than a row_number window
    (round-14, guide §2.3): the window needed a full Sort of the
    (node, label) count table plus shuffled every counted row into the
    per-node partitions; the struct aggregate is partial-mergeable, so
    each map task pre-folds its local candidates and the second
    Exchange carries at most one struct per (task, node) instead of
    every (node, label) row. Struct ordering compares fields left to
    right, so min(struct(-c, label)) IS "most frequent, ties to the
    smallest label" — the identical deterministic pick (counts are
    >= 1, so negating a BIGINT count cannot overflow, ANSI or not).
    The edge list is cached once and reused every round; iteration
    count is fixed and small, so lineage stays bounded without
    checkpointing (the open-ended variant would localCheckpoint each
    round like llm_dedup_components does).

    Returns one row per node: ``node``, ``label``.
    """
    sym = edges.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).unionAll(edges.select(F.col("v").alias("src"), F.col("u").alias("dst")))
    sym = sym.persist()
    labels = sym.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(iterations):
        counts = (
            sym.join(labels, sym.src == labels.node)
            .select(F.col("dst").alias("node"), "label")
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            counts.groupBy("node")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("c")).alias("nc"), F.col("label").alias("label")
                    )
                ).alias("__pick")
            )
            .select("node", F.col("__pick.label").alias("label"))
        )
    return labels


def bounded_harmonic(edges: DataFrame, radius: int = 3) -> DataFrame:
    """Harmonic centrality truncated at ``radius`` hops (Boldi–Vigna's
    axiomatically-preferred centrality, radius-bounded): for every node,
    H_r(v) = sum over u within distance r of 1/d(v, u).

    The bounded form is the production variant — exact all-pairs
    distances are infeasible past small graphs, while the r-hop
    truncation captures the local-influence signal (and on small-world
    graphs r=3 already covers most reachable mass). Per hop: one join of
    the current frontier against the symmetric edge list keyed on the
    frontier's endpoint (the multi-source BFS expansion — every node is
    a source simultaneously), one distinct, one anti-join against the
    already-seen set. The symmetric edge list is persist()-ed — it is
    read by every hop's expansion join, the anti-join seed, and the
    counting pass. Rings are NOT localCheckpoint-ed: the round-14
    attempt to checkpoint each ring made the checkpointed LogicalRDD
    appear with identical attribute IDs in multiple branches of the
    seen union/anti-join, and Spark's InferFiltersFromConstraints
    throws (NoSuchElementException in UnionBase.rewriteConstraints)
    while optimizing the NEXT checkpoint's own plan — a plan-time
    crash, reproduced at sf0.001 (round-15 inherited-state fix; the
    hop count is fixed and small, so the non-checkpointed lineage is
    bounded anyway). The per-ring counts come from ONE tagged union +
    ONE per-source
    aggregation (round-14, guide §2.4): the previous shape ran one
    groupBy per ring plus ``radius`` left joins onto the node list,
    shuffling the vertex table once per ring; every node has at least
    one edge by construction (the node list IS sym's source set), so
    the ring-1 group covers all nodes and the joins were pure overhead
    (conditional sums with coalesce(0) preserve the missing-ring
    zeros). All (source, reached) state lives in shuffled DataFrames
    keyed on the source — no driver-side structure; hop count is fixed
    and small. The per-node result is a pure integer-count expression
    (n1 + n2/2 + n3/3 evaluated per-row), so cross-engine agreement is
    exact.

    Returns one row per node: ``node``, ``n_d1``..``n_d{radius}``,
    ``harmonic_r{radius}``.
    """
    sym = (
        edges.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .unionAll(edges.select(F.col("v").alias("src"), F.col("u").alias("dst")))
        .distinct()
        .persist()
    )
    rings: list[DataFrame] = [sym]
    seen = sym
    for _ in range(radius - 1):
        nxt = (
            rings[-1]
            .alias("f")
            .join(sym.alias("e"), F.col("f.dst") == F.col("e.src"))
            .select(F.col("f.src").alias("src"), F.col("e.dst").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .join(seen, ["src", "dst"], "left_anti")
        )
        rings.append(nxt)
        seen = seen.unionAll(nxt)
    tagged = rings[0].select("src", F.lit(1).alias("__r"))
    for i, ring in enumerate(rings[1:], start=2):
        tagged = tagged.unionAll(ring.select("src", F.lit(i).alias("__r")))
    out = tagged.groupBy(F.col("src").alias("node")).agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("__r") == i, F.lit(1))), F.lit(0)
            ).alias(f"n_d{i}")
            for i in range(1, radius + 1)
        ]
    )
    harmonic = F.col("n_d1").cast("double")
    for i in range(2, radius + 1):
        harmonic = harmonic + F.col(f"n_d{i}") / F.lit(float(i))
    return out.select(
        "node",
        *[F.col(f"n_d{i}").cast("bigint").alias(f"n_d{i}") for i in range(1, radius + 1)],
        harmonic.alias(f"harmonic_r{radius}"),
    )

"""Structural / multi-objective analytics: co-occurrence graph metrics,
Pareto skyline, and windowed distinct-count — operator families the
reference's exported relational streams feed downstream.

Every query is oracle-backed. Where Spark and the oracle use *different
formulations on purpose* (degree-oriented wedge join vs naive triple
join; two-phase pruned skyline vs NOT EXISTS), the disagreement surface
is the algorithm itself — a stronger check than mirroring one SQL text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from hive_export_spark.operators.graph import cooccurrence_edges, triangle_count
from hive_export_spark.operators.skyline import skyline_2d
from hive_export_spark.registry import register
from hive_export_spark.session import local_frame
from hive_export_spark.sources import load_table


@register(
    "graph_triangle_count",
    oracle="""
WITH po AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
edges AS (
  SELECT a.p AS u, b.p AS v
  FROM po a JOIN po b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
nodes AS (
  SELECT u AS x FROM edges UNION SELECT v FROM edges
)
SELECT (SELECT COUNT(*) FROM nodes) AS n_nodes,
       (SELECT COUNT(*) FROM edges) AS n_edges,
       (SELECT COUNT(*)
        FROM edges e1
        JOIN edges e2 ON e1.v = e2.u
        JOIN edges e3 ON e1.u = e3.u AND e2.v = e3.v) AS n_triangles
""",
    doc="exact triangle count of the part co-purchase graph (parts "
    "sharing >= 2 orders). Spark side uses DEGREE ORIENTATION "
    "(operators/graph.py): every edge oriented low->high (degree, id) "
    "rank caps out-degree at O(sqrt(m)), so the wedge self-join stays "
    "O(m^1.5) on power-law graphs where the naive join is sum(deg^2) — "
    "the difference between feasible and exploding at 100 TB. The "
    "oracle deliberately uses the naive ordered triple join: triangle "
    "count is orientation-invariant, so an algorithm-level disagreement "
    "would show as a hash mismatch.",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    edges = cooccurrence_edges(li, "l_orderkey", "l_partkey", min_support=2)
    return triangle_count(edges.select("u", "v"))


@register(
    "pareto_skyline",
    oracle="""
-- NULL measurements drop at the scan on BOTH sides (round-9 all-NULL
-- sweep): a row with an undefined dimension cannot participate in
-- dominance — without the filter every NULL comparison reads unknown,
-- NOT EXISTS reads true, and the whole corpus masquerades as a skyline
SELECT p.p_partkey, p.p_retailprice, p.p_size
FROM part p
WHERE p.p_retailprice IS NOT NULL AND p.p_size IS NOT NULL
  AND NOT EXISTS (
  SELECT 1 FROM part q
  WHERE q.p_retailprice IS NOT NULL AND q.p_size IS NOT NULL
    AND q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
)
""",
    doc="Pareto skyline of parts (minimize retail price, maximize size): "
    "rows no other row strictly dominates — the ICDE'01 skyline "
    "operator. Spark side (operators/skyline.py) is the two-phase "
    "distributed algorithm: shuffle-free partition-local dominance "
    "prune (survivors bounded by each partition's own skyline) then an "
    "exact sweep over the skyline-sized survivor value set. The oracle "
    "is the definitional NOT EXISTS — quadratic, fine for DuckDB at "
    "oracle scale, and formulation-independent of the Spark algorithm.",
)
def pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, "part", sf_dir).filter(
        F.col("p_retailprice").isNotNull() & F.col("p_size").isNotNull()
    ).select("p_partkey", "p_retailprice", "p_size")
    return skyline_2d(p, "p_retailprice", "p_size")


@register(
    "window_running_distinct",
    oracle="""
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN ROW_NUMBER() OVER (
             PARTITION BY user_id, event_type
             ORDER BY ts, event_id) = 1 THEN 1 ELSE 0 END AS is_first
  FROM events
)
SELECT user_id, event_id,
       CAST(SUM(is_first) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS n_distinct_types
FROM flagged
""",
    doc="running COUNT(DISTINCT event_type) per user in event-time "
    "order — a window shape neither Spark nor ANSI allows directly "
    "(no DISTINCT aggregates over windows). Canonical reformulation: "
    "flag each (user, type)'s first occurrence, then a running SUM of "
    "flags. Both windows are partitioned by user_id alone (the flag "
    "window detects first occurrence via lag over a (type, ts) sort "
    "within the user) so Catalyst reuses ONE Exchange with two sorts — "
    "not the two shuffles the naive (user, type)-partitioned flag "
    "would cost. Deterministic via the (ts, event_id) tiebreak. The "
    "oracle uses the independent ROW_NUMBER-per-(user, type) "
    "formulation.",
)
def window_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    w_first = Window.partitionBy("user_id").orderBy(
        "event_type", "ts", "event_id"
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        # null-safe transition flag (round-9 all-NULL sweep): a NULL
        # event_type is ONE pseudo-type (the oracle's ROW_NUMBER
        # partition keeps it), but lag() IS NULL can't distinguish "no
        # previous row" from "previous type is NULL" — every NULL-type
        # row re-flagged as a new type. row_number()==1 marks the true
        # partition head; eqNullSafe makes NULL-to-NULL a non-transition.
        F.when(
            (F.row_number().over(w_first) == 1)
            | ~F.lag("event_type")
            .over(w_first)
            .eqNullSafe(F.col("event_type")),
            1,
        )
        .otherwise(0)
        .alias("is_first"),
    )
    return flagged.select(
        "user_id",
        "event_id",
        F.sum("is_first").over(w_run).cast("bigint").alias("n_distinct_types"),
    )


_PR_ITER_SQL = """
s{i} AS (
  SELECT d.dst, SUM(r.rank_int // r.deg) AS s
  FROM dir d JOIN r{prev} r ON r.node = d.src GROUP BY d.dst
),
r{i} AS (
  SELECT p.node, p.deg, p.tele,
         p.tele + (85 * COALESCE(s{i}.s, 0)) // 100 AS rank_int
  FROM r{prev} p LEFT JOIN s{i} ON s{i}.dst = p.node
)"""

_PR_ORACLE = (
    """
WITH po AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
edges AS (
  SELECT a.p AS u, b.p AS v
  FROM po a JOIN po b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
dir AS (SELECT u AS src, v AS dst FROM edges
        UNION ALL SELECT v, u FROM edges),
deg AS (SELECT src, COUNT(*) AS deg FROM dir GROUP BY src),
n AS (SELECT COUNT(*) AS n FROM deg),
r0 AS (
  SELECT deg.src AS node, deg.deg,
         1000000000000 // n.n AS rank_int,
         (15 * (1000000000000 // n.n)) // 100 AS tele
  FROM deg CROSS JOIN n
),"""
    + ",".join(
        _PR_ITER_SQL.format(i=i, prev=i - 1) for i in (1, 2, 3)
    )
    + """
SELECT node, CAST(deg AS BIGINT) AS deg, CAST(rank_int AS BIGINT) AS rank_int,
       CAST(rk AS INTEGER) AS rk
FROM (
  SELECT node, deg, rank_int,
         ROW_NUMBER() OVER (ORDER BY rank_int DESC, node) AS rk
  FROM r3
) WHERE rk <= 20
"""
)


@register(
    "graph_pagerank",
    oracle=_PR_ORACLE,
    doc="PageRank (3 iterations, damping 0.85) over the part co-purchase "
    "graph, top-20 vertices. INTEGER-QUANTIZED arithmetic "
    "(operators/graph.pagerank_int): ranks in 1e-12 units, contribution "
    "= rank div degree, update = teleport + (85 * inflow) div 100 — "
    "every step exact BIGINT, order-insensitive, bit-identical across "
    "engines (float PageRank drifts a ulp per iteration and flips "
    "rankings; quantization error is nanoscale). Per iteration: one "
    "vertex-keyed join + one inflow sum shuffle — both partial-"
    "mergeable and AQE-splittable on celebrity-vertex skew. The oracle "
    "unrolls the same pinned integer recurrence in SQL.",
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_export_spark.operators.graph import pagerank_int

    li = load_table(spark, "lineitem", sf_dir)
    edges = cooccurrence_edges(li, "l_orderkey", "l_partkey", min_support=2)
    ranks = pagerank_int(edges.select("u", "v"), iterations=3)
    top = ranks.orderBy(F.col("rank_int").desc(), "node").limit(20)
    w = Window.orderBy(F.col("rank_int").desc(), "node")
    return top.withColumn("rk", F.row_number().over(w)).select(
        "node",
        F.col("deg").cast("bigint").alias("deg"),
        F.col("rank_int").cast("bigint").alias("rank_int"),
        F.col("rk").cast("int").alias("rk"),
    )


@register(
    "join_interval_overlap",
    oracle="""
WITH iv AS (
  SELECT user_id, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS s,
         CAST(floor(epoch(ts)) AS BIGINT) + CAST(floor(value) AS BIGINT) AS e
  FROM events
)
SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
       least(a.e, b.e) - greatest(a.s, b.s) AS overlap
FROM iv a JOIN iv b
  ON a.user_id = b.user_id AND a.event_id < b.event_id
 AND a.s <= b.e AND b.s <= a.e
""",
    doc="interval self-overlap join: event activity windows [ts, "
    "ts+value] that overlap within a user, with inclusive overlap "
    "length. Spark side is the GRID-PARTITIONED interval join "
    "(operators/relational.interval_overlap_join): intervals explode to "
    "15-minute grid cells, candidates meet in an EQUI-join on (user, "
    "cell), and each pair is emitted exactly once in the FIRST shared "
    "cell — no theta join, no dedup shuffle; candidate volume scales "
    "with cell occupancy, not per-key count squared. The oracle is the "
    "definitional per-user theta join — an independent formulation.",
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_export_spark.operators.relational import interval_overlap_join

    ev = load_table(spark, "events", sf_dir).select(
        "user_id",
        "event_id",
        F.unix_timestamp("ts").cast("long").alias("s"),
        (F.unix_timestamp("ts").cast("long") + F.floor("value").cast("long")).alias("e"),
    )
    return interval_overlap_join(
        ev, "user_id", "event_id", "s", "e", cell_size=900
    )


@register(
    "graph_jaccard_linkpred",
    oracle="""
WITH po AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
edges AS (
  SELECT a.p AS u, b.p AS v
  FROM po a JOIN po b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
nbr AS (SELECT u AS x, v AS y FROM edges UNION ALL SELECT v, u FROM edges),
deg AS (SELECT x, COUNT(*) AS d FROM nbr GROUP BY x),
common AS (
  SELECT least(a.y, b.y) AS u, greatest(a.y, b.y) AS v, COUNT(*) AS cn
  FROM nbr a JOIN nbr b ON a.x = b.x AND a.y < b.y
  GROUP BY 1, 2
),
cand AS (
  SELECT c.u, c.v, c.cn,
         (c.cn * 1000000) // (du.d + dv.d - c.cn) AS j_micro
  FROM common c
  JOIN deg du ON du.x = c.u
  JOIN deg dv ON dv.x = c.v
  LEFT JOIN edges e ON e.u = c.u AND e.v = c.v
  WHERE e.u IS NULL
)
SELECT u, v, CAST(cn AS BIGINT) AS cn,
       CAST(j_micro AS BIGINT) AS j_micro, CAST(rk AS INTEGER) AS rk
FROM (
  SELECT u, v, cn, j_micro,
         ROW_NUMBER() OVER (ORDER BY j_micro DESC, u, v) AS rk
  FROM cand
) WHERE rk <= 20
""",
    doc="Jaccard link prediction on the part co-purchase graph: for "
    "every NON-edge vertex pair at distance 2, J = |N(u) & N(v)| / "
    "|N(u) | N(v)| — the classic common-neighbors recommender. "
    "Candidate pairs come from the wedge join (pairs sharing a "
    "neighbor; at scale the degree-orientation bound from "
    "triangle_count applies to the same join), existing edges are "
    "anti-joined out, and the score is an EXACT integer ((cn * 1e6) "
    "div (du + dv - cn)) so the ranking can never drift a ulp across "
    "engines. Top-20 under a (score, u, v) total order.",
)
def graph_jaccard_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    edges = cooccurrence_edges(
        li, "l_orderkey", "l_partkey", min_support=2
    ).select("u", "v")
    nbr = edges.select(F.col("u").alias("x"), F.col("v").alias("y")).unionAll(
        edges.select(F.col("v").alias("x"), F.col("u").alias("y"))
    )
    deg = nbr.groupBy("x").agg(F.count(F.lit(1)).alias("d"))
    a = nbr.alias("a")
    b = nbr.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.x") == F.col("b.x")) & (F.col("a.y") < F.col("b.y")),
        )
        .groupBy(
            F.least("a.y", "b.y").alias("u"),
            F.greatest("a.y", "b.y").alias("v"),
        )
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    cand = (
        common.join(
            deg.select(F.col("x").alias("u"), F.col("d").alias("du")), "u"
        )
        .join(deg.select(F.col("x").alias("v"), F.col("d").alias("dv")), "v")
        .join(edges.withColumn("__is_edge", F.lit(1)), ["u", "v"], "left")
        .filter(F.col("__is_edge").isNull())
        .select(
            "u",
            "v",
            "cn",
            F.expr("(cn * 1000000L) div (du + dv - cn)").alias("j_micro"),
        )
    )
    top = cand.orderBy(F.col("j_micro").desc(), "u", "v").limit(20)
    w = Window.orderBy(F.col("j_micro").desc(), "u", "v")
    return top.withColumn("rk", F.row_number().over(w)).select(
        "u",
        "v",
        F.col("cn").cast("bigint").alias("cn"),
        F.col("j_micro").cast("bigint").alias("j_micro"),
        F.col("rk").cast("int").alias("rk"),
    )


@register(
    "join_nearest_value",
    oracle="""
WITH probes AS (
  -- NULL measurements drop at the scan on BOTH sides (round-9 all-NULL
  -- sweep): a probe with no value has no defined nearest neighbor —
  -- without this filter the ROW_NUMBER happily ranks all-NULL
  -- distances by the id tiebreak and invents one
  SELECT s_suppkey,
         CAST(CAST(s_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS pv
  FROM supplier WHERE s_acctbal IS NOT NULL
), refs AS (
  SELECT p_partkey,
         CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS rv
  FROM part WHERE p_retailprice IS NOT NULL
), scored AS (
  SELECT p.s_suppkey, p.pv, r.p_partkey, r.rv,
         abs(p.pv - r.rv) AS dist,
         ROW_NUMBER() OVER (PARTITION BY p.s_suppkey
                            ORDER BY abs(p.pv - r.rv), r.rv, r.p_partkey)
           AS rn
  FROM probes p CROSS JOIN refs r
)
SELECT s_suppkey, pv AS s_acctbal_cents,
       p_partkey AS nn_id, rv AS nn_val, dist AS nn_dist
FROM scored WHERE rn = 1
""",
    doc="nearest-value (1-NN number-line) join: each supplier balance "
    "matched to the part with the closest retail price, in exact "
    "integer cents. Spark side is the GRID-ANCHOR algorithm "
    "(operators/relational.nearest_value_join): refs bucket once, a "
    "bucket-level anchor index supplies the provably-sufficient "
    "below/above candidates, and a per-probe min picks the winner — "
    "no global sort, no cross join, everything key-partitioned "
    "(brute-force-pinned in tests). The oracle is the definitional "
    "quadratic scan. Ties pinned by (distance, value, id).",
)
def join_nearest_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_export_spark.operators.relational import nearest_value_join

    # explicit drop-NULL-measurements policy, mirrored in the oracle
    # (the grid operator's bucket arithmetic also drops them, but the
    # policy belongs at the query surface, not as an operator accident)
    sup = load_table(spark, "supplier", sf_dir).filter(
        F.col("s_acctbal").isNotNull()
    ).select(
        "s_suppkey",
        (F.col("s_acctbal").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("pv"),
    )
    part = load_table(spark, "part", sf_dir).filter(
        F.col("p_retailprice").isNotNull()
    ).select(
        "p_partkey",
        (F.col("p_retailprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("rv"),
    )
    out = nearest_value_join(
        sup, part, "s_suppkey", "pv", "p_partkey", "rv", cell_size=10000
    )
    return out.select(
        "s_suppkey",
        F.col("pv").alias("s_acctbal_cents"),
        "nn_id",
        "nn_val",
        "nn_dist",
    )


_BFS_SOURCE = 1  # l_partkey 1 — present in every fixture scale


@register(
    "graph_bfs_hops",
    oracle=f"""
WITH po AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
edges AS (
  SELECT a.p AS u, b.p AS v
  FROM po a JOIN po b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
dir AS (SELECT u AS src, v AS dst FROM edges
        UNION ALL SELECT v, u FROM edges),
h0 AS (SELECT CAST({_BFS_SOURCE} AS BIGINT) AS node, 0 AS dist),
h1 AS (
  SELECT d.dst AS node, 1 AS dist FROM dir d
  WHERE d.src = {_BFS_SOURCE}
    AND d.dst NOT IN (SELECT node FROM h0)
),
h2 AS (
  SELECT DISTINCT d.dst AS node, 2 AS dist
  FROM dir d JOIN h1 ON d.src = h1.node
  WHERE d.dst NOT IN (SELECT node FROM h0 UNION ALL SELECT node FROM h1)
),
h3 AS (
  SELECT DISTINCT d.dst AS node, 3 AS dist
  FROM dir d JOIN h2 ON d.src = h2.node
  WHERE d.dst NOT IN (SELECT node FROM h0 UNION ALL SELECT node FROM h1
                      UNION ALL SELECT node FROM h2)
)
SELECT CAST(dist AS INTEGER) AS dist, COUNT(*) AS n_nodes,
       CAST(MIN(node) AS BIGINT) AS min_node,
       CAST(MAX(node) AS BIGINT) AS max_node
FROM (SELECT * FROM h0 UNION ALL SELECT * FROM h1
      UNION ALL SELECT * FROM h2 UNION ALL SELECT * FROM h3)
GROUP BY dist
""",
    doc="breadth-first search to 3 hops from a fixed source on the part "
    "co-purchase graph: per-hop frontier sizes and node-id bounds — "
    "the reachability/blast-radius query graph consumers run. "
    "Frontier-at-a-time BFS: each hop is ONE equi-join of the current "
    "frontier against the directed edge list plus an anti-join against "
    "the visited set — the textbook distributed BFS whose work per hop "
    "is |frontier-adjacent edges|, never |V|^2; visited stays a "
    "vertex-keyed set. Exact integers throughout; the oracle unrolls "
    "the same 3 hops with NOT IN visited sets.",
)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    edges = cooccurrence_edges(
        li, "l_orderkey", "l_partkey", min_support=2
    ).select("u", "v")
    direc = edges.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).unionAll(edges.select(F.col("v").alias("src"), F.col("u").alias("dst")))
    frontier = li.sparkSession.range(1).select(
        F.lit(_BFS_SOURCE).cast("bigint").alias("node"),
        F.lit(0).alias("dist"),
    )
    visited = frontier
    for hop in (1, 2, 3):
        nxt = (
            direc.join(
                frontier.select(F.col("node").alias("src")), "src"
            )
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .select("node", F.lit(hop).alias("dist"))
        )
        visited = visited.unionByName(nxt)
        frontier = nxt
    return visited.groupBy("dist").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min("node").cast("bigint").alias("min_node"),
        F.max("node").cast("bigint").alias("max_node"),
    ).select(F.col("dist").cast("int").alias("dist"), "n_nodes", "min_node", "max_node")


@register(
    "graph_degree_assortativity",
    oracle="""
WITH po AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
edges AS (
  SELECT a.p AS u, b.p AS v
  FROM po a JOIN po b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
dir AS (SELECT u AS src, v AS dst FROM edges
        UNION ALL SELECT v, u FROM edges),
deg AS (SELECT src AS x, COUNT(*) AS d FROM dir GROUP BY src),
de AS (
  SELECT du.d AS du, dv.d AS dv
  FROM dir JOIN deg du ON dir.src = du.x JOIN deg dv ON dir.dst = dv.x
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m,
         CAST(SUM(du) AS BIGINT) AS sa,
         CAST(SUM(dv) AS BIGINT) AS sb,
         CAST(SUM(du * dv) AS BIGINT) AS sab,
         CAST(SUM(du * du) AS BIGINT) AS saa,
         CAST(SUM(dv * dv) AS BIGINT) AS sbb
  FROM de
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
       CAST(round(
         (m * CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
           / sqrt((m * CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                  * (m * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))), 6) + 0
         AS DOUBLE) AS assortativity_r
FROM s
""",
    doc="degree assortativity of the part co-purchase graph: Pearson "
    "correlation of endpoint degrees over the directed edge list (both "
    "orientations, the standard Newman formulation) — do hub parts "
    "co-sell with hubs or with the periphery? All five moments are "
    "EXACT integer sums; only the final correlation is double, same "
    "operand order both sides. Scale shape: one degree aggregation, "
    "two hash joins keyed on node id to decorate edges with endpoint "
    "degrees, one scalar aggregate — no all-pairs anything; the edge "
    "list (already min-support-sparsified by cooccurrence_edges) is "
    "the largest thing shuffled.",
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    edges = cooccurrence_edges(li, "l_orderkey", "l_partkey", min_support=2)
    direc = edges.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        edges.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    deg = direc.groupBy("src").agg(F.count("*").alias("d")).withColumnRenamed(
        "src", "x"
    )
    de = (
        direc.join(deg.select(F.col("x"), F.col("d").alias("du")), direc.src == F.col("x"))
        .drop("x")
        .join(deg.select(F.col("x"), F.col("d").alias("dv")), direc.dst == F.col("x"))
        .select("du", "dv")
    )
    s = de.agg(
        F.count("*").alias("m"),
        F.sum("du").alias("sa"),
        F.sum("dv").alias("sb"),
        F.sum(F.col("du") * F.col("dv")).alias("sab"),
        F.sum(F.col("du") * F.col("du")).alias("saa"),
        F.sum(F.col("dv") * F.col("dv")).alias("sbb"),
    )
    m = F.col("m")
    sa, sb = F.col("sa").cast("double"), F.col("sb").cast("double")
    saa, sbb = F.col("saa").cast("double"), F.col("sbb").cast("double")
    sab = F.col("sab").cast("double")
    r = (m * sab - sa * sb) / F.sqrt((m * saa - sa * sa) * (m * sbb - sb * sb))
    n_nodes = deg.agg(F.count("*").alias("n_nodes"))
    n_edges = edges.agg(F.count("*").alias("n_edges"))
    # bounded: n_nodes / n_edges / s are all 1-row global aggregates
    counts = n_nodes.crossJoin(F.broadcast(n_edges))
    # bounded: s is a 1-row global aggregate (sufficient statistics)
    return counts.crossJoin(F.broadcast(s)).select(
        "n_nodes",
        "n_edges",
        F.round(r, 6).cast("double").alias("assortativity_r"),
    )


_KCORE_K = 3
_KCORE_ROUNDS = 4


@register(
    "graph_kcore_peel",
    oracle="""
WITH po AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
e0 AS (
  SELECT a.p AS u, b.p AS v
  FROM po a JOIN po b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
d0 AS (SELECT x, COUNT(*) AS d FROM (SELECT u AS x FROM e0 UNION ALL SELECT v FROM e0) GROUP BY x),
k1 AS (SELECT x FROM d0 WHERE d >= 3),
e1 AS (SELECT u, v FROM e0 WHERE u IN (SELECT x FROM k1) AND v IN (SELECT x FROM k1)),
d1 AS (SELECT x, COUNT(*) AS d FROM (SELECT u AS x FROM e1 UNION ALL SELECT v FROM e1) GROUP BY x),
k2 AS (SELECT x FROM d1 WHERE d >= 3),
e2 AS (SELECT u, v FROM e1 WHERE u IN (SELECT x FROM k2) AND v IN (SELECT x FROM k2)),
d2 AS (SELECT x, COUNT(*) AS d FROM (SELECT u AS x FROM e2 UNION ALL SELECT v FROM e2) GROUP BY x),
k3 AS (SELECT x FROM d2 WHERE d >= 3),
e3 AS (SELECT u, v FROM e2 WHERE u IN (SELECT x FROM k3) AND v IN (SELECT x FROM k3)),
d3 AS (SELECT x, COUNT(*) AS d FROM (SELECT u AS x FROM e3 UNION ALL SELECT v FROM e3) GROUP BY x),
k4 AS (SELECT x FROM d3 WHERE d >= 3),
e4 AS (SELECT u, v FROM e3 WHERE u IN (SELECT x FROM k4) AND v IN (SELECT x FROM k4))
SELECT 1 AS round, (SELECT CAST(COUNT(*) AS BIGINT) FROM k1) AS n_nodes, (SELECT CAST(COUNT(*) AS BIGINT) FROM e1) AS n_edges
UNION ALL
SELECT 2, (SELECT CAST(COUNT(*) AS BIGINT) FROM k2), (SELECT CAST(COUNT(*) AS BIGINT) FROM e2)
UNION ALL
SELECT 3, (SELECT CAST(COUNT(*) AS BIGINT) FROM k3), (SELECT CAST(COUNT(*) AS BIGINT) FROM e3)
UNION ALL
SELECT 4, (SELECT CAST(COUNT(*) AS BIGINT) FROM k4), (SELECT CAST(COUNT(*) AS BIGINT) FROM e4)
""",
    doc="k-core peeling (k=3, 4 synchronized rounds) on the part "
    "co-purchase graph: each round recomputes degrees and drops nodes "
    "below k, restricting the edge set to survivors — the classic "
    "community-density screen and the standard preprocessing cut "
    "before expensive graph algorithms. The FULL per-round trajectory "
    "(node and edge counts after every round) is pinned, so an "
    "off-by-one in the peel order or a round of drift hash-mismatches. "
    "Spark runs the rounds as a driver loop over DataFrames "
    "(degree agg + semi-joins per round, localCheckpoint between "
    "rounds to cut lineage); the oracle unrolls the same rounds as "
    "CTEs. Scale shape per round: one degree aggregation and two "
    "semi-joins against a shrinking survivor set — frontier-sized "
    "work, never |V|^2; fixed round count bounds the plan depth.",
)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    edges = cooccurrence_edges(li, "l_orderkey", "l_partkey", min_support=2)
    e = edges.select("u", "v").localCheckpoint()
    stats = []
    for rnd in range(1, _KCORE_ROUNDS + 1):
        nodes = e.select(F.col("u").alias("x")).unionAll(
            e.select(F.col("v").alias("x"))
        )
        keep = (
            nodes.groupBy("x")
            .agg(F.count("*").alias("d"))
            .where(F.col("d") >= _KCORE_K)
            .select("x")
        )
        e = (
            e.join(keep.withColumnRenamed("x", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("x", "v"), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint()
        )
        n_nodes = keep.count()
        n_edges = e.count()
        stats.append((rnd, n_nodes, n_edges))
    return local_frame(
        spark, stats, StructType.fromDDL("round int, n_nodes long, n_edges long")
    )


@register(
    "graph_label_propagation",
    oracle="""
WITH po AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
e0 AS (
  SELECT a.p AS u, b.p AS v
  FROM po a JOIN po b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
edges AS (SELECT u AS src, v AS dst FROM e0 UNION ALL SELECT v AS src, u AS dst FROM e0),
l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
c1 AS (SELECT e.dst AS node, l.label, COUNT(*) AS c
       FROM edges e JOIN l0 l ON e.src = l.node GROUP BY 1, 2),
l1 AS (SELECT node, label FROM (
         SELECT node, label,
                ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
         FROM c1) WHERE rn = 1),
c2 AS (SELECT e.dst AS node, l.label, COUNT(*) AS c
       FROM edges e JOIN l1 l ON e.src = l.node GROUP BY 1, 2),
l2 AS (SELECT node, label FROM (
         SELECT node, label,
                ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
         FROM c2) WHERE rn = 1),
c3 AS (SELECT e.dst AS node, l.label, COUNT(*) AS c
       FROM edges e JOIN l2 l ON e.src = l.node GROUP BY 1, 2),
l3 AS (SELECT node, label FROM (
         SELECT node, label,
                ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
         FROM c3) WHERE rn = 1)
SELECT CAST(label AS BIGINT) AS community, COUNT(*) AS n_members
FROM l3 GROUP BY 1
""",
    doc="synchronous label-propagation community detection (3 rounds, "
    "deterministic min-label tie-break) on the part co-purchase graph — "
    "Raghavan et al.'s LPA with the random pieces pinned so the result "
    "is a pure function of the graph. Spark side loops 3 bounded "
    "DataFrame rounds (operators/graph.py::label_propagation: "
    "label-fanout join on the cached symmetric edge list, "
    "map-side-combined (node,label) counts, per-node argmax as a "
    "partial-mergeable min(struct(-count, label)) aggregate); "
    "the oracle unrolls the identical recurrence as 3 CTE stages, so "
    "any schedule or tie-break divergence hash-mismatches. Output is "
    "the community-size histogram.",
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_export_spark.operators.graph import label_propagation

    li = load_table(spark, "lineitem", sf_dir)
    edges = cooccurrence_edges(li, "l_orderkey", "l_partkey", min_support=2)
    labels = label_propagation(edges.select("u", "v"), iterations=3)
    return labels.groupBy(F.col("label").cast("bigint").alias("community")).agg(
        F.count(F.lit(1)).alias("n_members")
    )


@register(
    "graph_harmonic_centrality",
    oracle="""
WITH po AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
e0 AS (
  SELECT a.p AS u, b.p AS v
  FROM po a JOIN po b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
edges AS (SELECT DISTINCT u AS src, v AS dst FROM e0
          UNION SELECT v AS src, u AS dst FROM e0),
r2 AS (
  SELECT DISTINCT a.src, b.dst
  FROM edges a JOIN edges b ON a.dst = b.src
  WHERE a.src <> b.dst
    AND NOT EXISTS (SELECT 1 FROM edges x
                    WHERE x.src = a.src AND x.dst = b.dst)
),
r3 AS (
  SELECT DISTINCT a.src, b.dst
  FROM r2 a JOIN edges b ON a.dst = b.src
  WHERE a.src <> b.dst
    AND NOT EXISTS (SELECT 1 FROM edges x
                    WHERE x.src = a.src AND x.dst = b.dst)
    AND NOT EXISTS (SELECT 1 FROM r2 x
                    WHERE x.src = a.src AND x.dst = b.dst)
),
nodes AS (SELECT DISTINCT src AS node FROM edges)
SELECT n.node,
       COALESCE(c1.n_d1, 0) AS n_d1,
       COALESCE(c2.n_d2, 0) AS n_d2,
       COALESCE(c3.n_d3, 0) AS n_d3,
       CAST(COALESCE(c1.n_d1, 0) AS DOUBLE)
         + COALESCE(c2.n_d2, 0) / 2.0e0
         + COALESCE(c3.n_d3, 0) / 3.0e0 AS harmonic_r3
FROM nodes n
LEFT JOIN (SELECT src, CAST(COUNT(*) AS BIGINT) AS n_d1 FROM edges GROUP BY 1) c1
  ON n.node = c1.src
LEFT JOIN (SELECT src, CAST(COUNT(*) AS BIGINT) AS n_d2 FROM r2 GROUP BY 1) c2
  ON n.node = c2.src
LEFT JOIN (SELECT src, CAST(COUNT(*) AS BIGINT) AS n_d3 FROM r3 GROUP BY 1) c3
  ON n.node = c3.src
""",
    doc="radius-3 harmonic centrality (Boldi-Vigna) of every node in the "
    "part co-purchase graph: H_3(v) = n_d1 + n_d2/2 + n_d3/3 from "
    "exact ring sizes — the production-bounded form of the centrality "
    "that exact all-pairs distances cannot deliver past small graphs. "
    "Spark side (operators/graph.py::bounded_harmonic) runs the "
    "multi-source BFS as per-hop frontier joins keyed on the source "
    "node with distinct + anti-join ring extraction — every node a "
    "source simultaneously, all state in shuffled DataFrames, no "
    "driver-side graph. The oracle derives the same rings via "
    "NOT-EXISTS set algebra — a different formulation of the same "
    "recurrence, so an expansion bug on either side hash-mismatches. "
    "Counts are integers; the harmonic sum is one per-row expression.",
)
def graph_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_export_spark.operators.graph import bounded_harmonic

    li = load_table(spark, "lineitem", sf_dir)
    edges = cooccurrence_edges(li, "l_orderkey", "l_partkey", min_support=2)
    return bounded_harmonic(edges.select("u", "v"), radius=3)

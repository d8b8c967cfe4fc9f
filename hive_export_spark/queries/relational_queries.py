"""Relational-surface queries (SURVEY.md section 2.2): joins of every type,
aggregations (incl. distinct/rollup/cube/grouping sets), sort/limit/top-k,
set operations, and TPC-H-style analytical pipelines.

Hash-stability conventions (the driver compares value hashes vs DuckDB):
- monetary aggregates are computed in DECIMAL (exact, associative) and cast
  to DOUBLE at the end — identical IEEE value in both engines; raw
  double SUMs would differ in the last ulp depending on reduction order.
- every ORDER BY ... LIMIT has a unique tiebreaker column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from hive_export_spark.operators.relational import band_join, top_k_per_group
from hive_export_spark.registry import register
from hive_export_spark.session import local_frame
from hive_export_spark.sources import load_table

# decimal-exact money expressions (see module docstring); widths kept tight
# so products never exceed 38 digits (engine-specific precision-loss
# rounding would break hash parity)
_DEC = "decimal(12,2)"
_DEC_RATE = "decimal(4,2)"


@register(
    "q1_pricing_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS DOUBLE) AS avg_qty,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS DOUBLE) AS avg_price,
       CAST(CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(*) AS DOUBLE) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    doc="TPC-H Q1 pricing summary: scan-side filter pushdown + partial "
    "(map-side) aggregation; one shuffle on a tiny grouping key",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    qty = F.col("l_quantity").cast(_DEC)
    price = F.col("l_extendedprice").cast(_DEC)
    disc = F.col("l_discount").cast(_DEC_RATE)
    tax = F.col("l_tax").cast(_DEC_RATE)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (1 - disc)).cast("double").alias("sum_disc_price"),
            F.sum(price * (1 - disc) * (1 + tax)).cast("double").alias("sum_charge"),
            (F.sum(qty).cast("double") / F.count("*")).alias("avg_qty"),
            (F.sum(price).cast("double") / F.count("*")).alias("avg_price"),
            (F.sum(disc).cast("double") / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q3_shipping_priority",
    oracle="""
SELECT o.o_orderkey,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
       o.o_orderdate
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY o.o_orderkey, o.o_orderdate
ORDER BY revenue DESC, o_orderkey
LIMIT 10
""",
    doc="TPC-H Q3: selective dimension filter -> fact join -> agg -> "
    "deterministic top-10 (revenue DESC, orderkey tiebreak)",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir).filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, "lineitem", sf_dir).filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    rev = F.col("l_extendedprice").cast(_DEC) * (1 - F.col("l_discount").cast(_DEC_RATE))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select("o_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    oracle="""
SELECT n.n_name,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n.n_name
""",
    doc="TPC-H Q5: 6-table join; nation/region/supplier broadcast, fact "
    "tables shuffle on join keys only",
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir).filter(F.col("r_name") == "ASIA")
    rev = F.col("l_extendedprice").cast(_DEC) * (1 - F.col("l_discount").cast(_DEC_RATE))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, (o.o_custkey == c.c_custkey))
        .join(
            # supplier scales with SF: no broadcast hint, AQE decides
            s,
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        # bounded: nation dim — 25 rows at any TPC-H scale factor
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        # bounded: region dim — 5 rows at any TPC-H scale factor
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


# ---------------------------------------------------------------- joins


_JOIN_ORACLE = """
SELECT o.o_orderkey, o.o_totalprice, c.c_custkey, c.c_name, c.c_mktsegment
FROM orders o {how} JOIN customer c ON o.o_custkey = c.c_custkey
"""


def _join_frames(spark, sf_dir):
    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    return o, c


def _join_select(j, o, c):
    return j.select("o_orderkey", "o_totalprice", "c_custkey", "c_name", "c_mktsegment")


@register(
    "join_inner",
    oracle=_JOIN_ORACLE.format(how="INNER"),
    doc="inner equi-join orders x customer",
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    o, c = _join_frames(spark, sf_dir)
    return _join_select(o.join(c, o.o_custkey == c.c_custkey, "inner"), o, c)


@register(
    "join_left",
    oracle=_JOIN_ORACLE.format(how="LEFT"),
    doc="left outer equi-join",
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    o, c = _join_frames(spark, sf_dir)
    return _join_select(o.join(c, o.o_custkey == c.c_custkey, "left"), o, c)


@register(
    "join_right",
    oracle=_JOIN_ORACLE.format(how="RIGHT"),
    doc="right outer equi-join",
)
def join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    o, c = _join_frames(spark, sf_dir)
    return _join_select(o.join(c, o.o_custkey == c.c_custkey, "right"), o, c)


@register(
    "join_full",
    oracle=_JOIN_ORACLE.format(how="FULL"),
    doc="full outer equi-join",
)
def join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    o, c = _join_frames(spark, sf_dir)
    return _join_select(o.join(c, o.o_custkey == c.c_custkey, "full"), o, c)


@register(
    "join_semi",
    oracle="""
SELECT c.c_custkey, c.c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
""",
    doc="left-semi join (EXISTS): customers with at least one big order",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir).filter(F.col("o_totalprice") > 100000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_anti",
    oracle="""
SELECT c.c_custkey, c.c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
    doc="left-anti join (NOT EXISTS): customers with no orders",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "join_broadcast_dim",
    oracle="""
SELECT c.c_custkey, c.c_name, n.n_name, r.r_name
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
""",
    doc="explicit broadcast of small dims: map-side join, zero shuffle of "
    "the big side (the 100 TB-scale default for star joins)",
)
def join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir)
    return (
        # bounded: nation dim — 25 rows at any TPC-H scale factor
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        # bounded: region dim — 5 rows at any TPC-H scale factor
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "c_name", "n_name", "r_name")
    )


@register(
    "join_range_band",
    oracle="""
WITH bands(band, low, high) AS (
  VALUES ('small', 0, 17), ('medium', 17, 34), ('large', 34, 51)
)
SELECT p.p_partkey, p.p_size, b.band
FROM part p LEFT JOIN bands b ON p.p_size >= b.low AND p.p_size < b.high
""",
    doc="range (band) join: broadcast-nested-loop with interval predicate, "
    "shuffle-free (operators.relational.band_join)",
)
def join_range_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, "part", sf_dir)
    bands = local_frame(
        spark,
        [("small", 0, 17), ("medium", 17, 34), ("large", 34, 51)],
        StructType.fromDDL("band string, low long, high long"),
    )
    return band_join(p, bands, "p_size").select("p_partkey", "p_size", "band")


@register(
    "join_asof",
    oracle="""
SELECT c.event_id, c.user_id, c.ts, p.ts AS last_purchase_ts, p.value AS last_purchase_value
FROM (SELECT DISTINCT event_id, user_id, ts FROM events
      WHERE event_type = 'click') c
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id AND c.ts >= p.ts
""",
    doc="as-of join (most recent purchase at or before each click) — "
    "equi-join + time predicate + greatest-per-group "
    "(operators.relational.asof_join); DuckDB oracle uses native ASOF. "
    "The left side is consumed EXACTLY-ONCE: at-least-once redelivery "
    "duplicates (same event_id, byte-identical payload — round-7 wave "
    "8) are collapsed by an explicit DISTINCT on both engines; the "
    "operator keys per-left-row output on event_id, so physical "
    "duplicate rows would otherwise survive in DuckDB's row-oriented "
    "ASOF but not the key-oriented greatest-per-group.",
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_export_spark.operators.relational import asof_join

    ev = load_table(spark, "events", sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select("event_id", "user_id", "ts")
        .distinct()
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts"), "value"
    )
    out = asof_join(
        clicks,
        purchases.withColumnRenamed("pts", "ts2").withColumnRenamed("value", "pvalue"),
        on=["user_id"],
        left_key="event_id",
        left_time="ts",
        right_time="ts2",
        right_values=["ts2", "pvalue"],
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("ts2").alias("last_purchase_ts"),
        F.col("pvalue").alias("last_purchase_value"),
    )


# ------------------------------------------------------------ aggregations


@register(
    "agg_groupby",
    oracle="""
SELECT c_mktsegment, COUNT(*) AS n_cust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal,
       CAST(MIN(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS min_bal,
       CAST(MAX(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS max_bal
FROM customer GROUP BY c_mktsegment
""",
    doc="hash aggregation with partial (map-side) combine",
)
def agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    bal = F.col("c_acctbal").cast(_DEC)
    return c.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_cust"),
        F.sum(bal).cast("double").alias("total_bal"),
        F.min(bal).cast("double").alias("min_bal"),
        F.max(bal).cast("double").alias("max_bal"),
    )


@register(
    "agg_distinct",
    oracle="""
SELECT o_orderstatus,
       COUNT(DISTINCT o_custkey) AS n_distinct_cust,
       COUNT(*) AS n_orders
FROM orders GROUP BY o_orderstatus
""",
    doc="distinct aggregation (expand + two-phase agg in Spark)",
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_distinct_cust"),
        F.count("*").alias("n_orders"),
    )


@register(
    "agg_rollup",
    oracle="""
-- day-zero pin (round-8 empty-fixture sweep): Spark's grouping
-- lattice emits ZERO rows on an empty relation (Expand feeds the
-- aggregate no input groups, including the () set) where DuckDB
-- emits the grand-total row; the EXISTS guard mirrors Spark.
SELECT * FROM (
  SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
  FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
) t WHERE EXISTS (SELECT 1 FROM orders)
""",
    doc="hierarchical rollup aggregation",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast(_DEC)).cast("double").alias("total"),
    )


@register(
    "agg_cube",
    oracle="""
-- day-zero pin (round-8 empty-fixture sweep): Spark's grouping
-- lattice emits ZERO rows on an empty relation (Expand feeds the
-- aggregate no input groups, including the () set) where DuckDB
-- emits the grand-total row; the EXISTS guard mirrors Spark.
SELECT * FROM (
  SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
  FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
) t WHERE EXISTS (SELECT 1 FROM orders)
""",
    doc="cube aggregation (all grouping combinations)",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    return o.cube("o_orderstatus", "o_orderpriority").agg(F.count("*").alias("n"))


@register(
    "agg_grouping_sets",
    oracle="""
-- day-zero pin (round-8 empty-fixture sweep): Spark's grouping
-- lattice emits ZERO rows on an empty relation (Expand feeds the
-- aggregate no input groups, including the () set) where DuckDB
-- emits the grand-total row; the EXISTS guard mirrors Spark.
SELECT * FROM (
  SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
  FROM orders
  GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
) t WHERE EXISTS (SELECT 1 FROM orders)
""",
    doc="explicit grouping sets via the SQL frontend",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    o.createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


# ------------------------------------------------------- sort/limit/topk


@register(
    "sort_limit",
    oracle="""
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
""",
    doc="global top-N: Spark's TakeOrderedAndProject avoids a full sort",
)
def sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
    )


@register(
    "topk_per_group",
    oracle="""
SELECT * FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3
""",
    doc="per-group top-k via window (operators.relational.top_k_per_group)",
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir).select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    return top_k_per_group(
        o, ["o_custkey"], [F.col("o_totalprice").desc(), F.col("o_orderkey")], 3
    )


# -------------------------------------------------------------- set ops


@register(
    "setop_union_all",
    oracle="""
SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
UNION ALL
SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 200000
""",
    doc="union all (bag semantics, no shuffle)",
)
def setop_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    b = o.filter(F.col("o_totalprice") > 200000).select(
        F.col("o_custkey").alias("custkey")
    )
    return a.unionByName(b)


@register(
    "setop_intersect",
    oracle="""
SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT
SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 150000
""",
    doc="intersect (distinct set semantics)",
)
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    b = o.filter(F.col("o_totalprice") > 150000).select(
        F.col("o_custkey").alias("custkey")
    )
    return a.intersect(b)


@register(
    "setop_except",
    oracle="""
SELECT c_custkey AS custkey FROM customer
EXCEPT
SELECT o_custkey AS custkey FROM orders
""",
    doc="except/minus (distinct set semantics)",
)
def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    # subtract = SQL EXCEPT (set semantics). exceptAll().distinct() would
    # KEEP a value whose left multiplicity exceeds its right multiplicity,
    # which EXCEPT does not.
    return c.select(F.col("c_custkey").alias("custkey")).subtract(
        o.select(F.col("o_custkey").alias("custkey"))
    )


@register(
    "join_theta_inequality",
    oracle="""
SELECT s.s_suppkey, c.c_custkey
FROM supplier s JOIN customer c
  ON s.s_nationkey = c.c_nationkey AND s.s_acctbal > c.c_acctbal
WHERE c.c_custkey <= 300
""",
    doc="theta join: equi-key + inequality predicate — the equi conjunct "
    "keeps it a hash join (inequality evaluated post-match), never a "
    "cartesian product",
)
def join_theta_inequality(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, "supplier", sf_dir)
    c = load_table(spark, "customer", sf_dir).filter(F.col("c_custkey") <= 300)
    return s.join(
        c,
        (s.s_nationkey == c.c_nationkey) & (s.s_acctbal > c.c_acctbal),
    ).select("s_suppkey", "c_custkey")


@register(
    "setop_intersect_all",
    oracle="""
SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 100000
INTERSECT ALL
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
""",
    doc="intersect all (bag semantics: multiplicity = min of both sides)",
)
def setop_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    a = o.filter(F.col("o_totalprice") > 100000).select(
        F.col("o_custkey").alias("custkey")
    )
    b = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    return a.intersectAll(b)


@register(
    "setop_except_all",
    oracle="""
SELECT o_custkey AS custkey FROM orders
EXCEPT ALL
SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 100000
""",
    doc="except all (bag semantics: multiplicity = left minus right)",
)
def setop_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    a = o.select(F.col("o_custkey").alias("custkey"))
    b = o.filter(F.col("o_totalprice") > 100000).select(
        F.col("o_custkey").alias("custkey")
    )
    return a.exceptAll(b)


@register(
    "union_by_name_missing",
    oracle="""
SELECT c_custkey AS k, c_name AS name, c_acctbal AS bal FROM customer
UNION ALL
SELECT s_suppkey AS k, s_name AS name, NULL AS bal FROM supplier
""",
    doc="unionByName with allowMissingColumns: schema-aligned union, "
    "absent columns null-filled",
)
def union_by_name_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir).select(
        F.col("c_custkey").alias("k"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("bal"),
    )
    s = load_table(spark, "supplier", sf_dir).select(
        F.col("s_suppkey").alias("k"), F.col("s_name").alias("name")
    )
    return c.unionByName(s, allowMissingColumns=True)


@register(
    "q6_forecast_revenue",
    oracle="""
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
""",
    doc="TPC-H Q6: pure scan-filter-aggregate — every predicate pushes to "
    "the parquet reader, zero joins, one partial-agg shuffle of one row",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast(_DEC)
                * F.col("l_discount").cast(_DEC_RATE)
            )
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "q12_shipmode_priority",
    oracle="""
SELECT l.l_linestatus,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l.l_linestatus
""",
    doc="TPC-H Q12 shape: join + conditional (CASE) aggregation",
)
def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q18_large_volume_customer",
    oracle="""
SELECT c.c_custkey, c.c_name, o.o_orderkey,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING SUM(l_quantity) > 150
)
GROUP BY c.c_custkey, c.c_name, o.o_orderkey
""",
    doc="TPC-H Q18 shape: IN-subquery with HAVING (compiled to a semi "
    "join on the pre-aggregated subquery) + multi-key aggregation",
)
def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    big_orders = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 150)
        .select("l_orderkey")
    )
    return (
        o.join(big_orders, o.o_orderkey == big_orders.l_orderkey, "left_semi")
        .join(c, F.col("o_custkey") == c.c_custkey)
        .join(li.select("l_orderkey", "l_quantity"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("c_custkey", "c_name", "o_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(_DEC)).cast("double").alias("total_qty"))
    )


@register(
    "subquery_scalar_avg",
    oracle="""
SELECT p_partkey, p_retailprice
FROM part
WHERE p_retailprice > (SELECT AVG(p_retailprice) * 1.05 FROM part)
""",
    doc="scalar subquery: rows above 1.05x the global average (the subquery "
    "evaluates once and broadcasts as a literal)",
)
def subquery_scalar_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, "part", sf_dir)
    p.createOrReplaceTempView("part_sq")
    return spark.sql(
        """
        SELECT p_partkey, p_retailprice
        FROM part_sq
        WHERE p_retailprice > (SELECT AVG(p_retailprice) * 1.05 FROM part_sq)
        """
    )


@register(
    "unpivot_stack",
    oracle="""
SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS val FROM part
UNION ALL
SELECT p_partkey, 'price' AS metric, p_retailprice AS val FROM part
""",
    doc="unpivot (wide -> long) via stack(): the inverse of pivot, "
    "generator-style — no shuffle",
)
def unpivot_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, "part", sf_dir)
    return p.select(
        "p_partkey",
        F.expr(
            "stack(2, 'size', CAST(p_size AS DOUBLE), 'price', p_retailprice) "
            "AS (metric, val)"
        ),
    )


@register(
    "cdc_upsert",
    oracle="""
SELECT k, seg FROM (
  SELECT c_custkey AS k, c_mktsegment AS seg FROM customer
  WHERE c_custkey <= 1000
    AND c_custkey NOT IN (SELECT c_custkey FROM customer
                          WHERE c_custkey BETWEEN 500 AND 1500)
  UNION ALL
  SELECT c_custkey AS k, 'NEW_' || c_mktsegment AS seg FROM customer
  WHERE c_custkey BETWEEN 500 AND 1500
)
""",
    doc="MERGE INTO emulation (operators.cdc.upsert): updates replace "
    "matching target rows, unmatched target rows pass through — "
    "anti-join + union, one shuffle on the merge key",
)
def cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_export_spark.operators.cdc import upsert

    c = load_table(spark, "customer", sf_dir)
    target = c.filter(F.col("c_custkey") <= 1000).select(
        F.col("c_custkey").alias("k"), F.col("c_mktsegment").alias("seg")
    )
    updates = c.filter(F.col("c_custkey").between(500, 1500)).select(
        F.col("c_custkey").alias("k"),
        F.concat(F.lit("NEW_"), F.col("c_mktsegment")).alias("seg"),
    )
    return upsert(target, updates, "k")


@register(
    "q4_order_priority",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority
""",
    doc="TPC-H Q4 shape: correlated EXISTS (compiled to a left-semi join "
    "keyed on the order key) + priority counts",
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


@register(
    "q10_returned_items",
    oracle="""
SELECT c.c_custkey, c.c_name,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
       n.n_name
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
    doc="TPC-H Q10: lost-revenue ranking over returned items — selective "
    "fact filter, broadcast nation, deterministic top-20",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = load_table(spark, "lineitem", sf_dir).filter(F.col("l_returnflag") == "R")
    n = load_table(spark, "nation", sf_dir)
    rev = F.col("l_extendedprice").cast(_DEC) * (1 - F.col("l_discount").cast(_DEC_RATE))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        # bounded: nation dim — 25 rows at any TPC-H scale factor
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@register(
    "q13_customer_distribution",
    oracle="""
SELECT c_count, COUNT(*) AS custdist FROM (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
) GROUP BY c_count
""",
    doc="TPC-H Q13: double aggregation — orders-per-customer histogram "
    "(left join keeps zero-order customers)",
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register(
    "q14_promo_effect",
    oracle="""
SELECT CAST(100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
             THEN CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))
             ELSE CAST(0 AS DECIMAL(17,4)) END) AS DOUBLE)
       / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS DOUBLE) AS promo_revenue_pct
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1996-02-01 00:00:00'
""",
    doc="TPC-H Q14: promo revenue share — conditional decimal sums, "
    "double ratio at the end",
)
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-02-01").cast("timestamp"))
    )
    p = load_table(spark, "part", sf_dir)
    rev = F.col("l_extendedprice").cast(_DEC) * (1 - F.col("l_discount").cast(_DEC_RATE))
    promo_rev = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("decimal(17,4)")
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * F.sum(promo_rev).cast("double")
                / F.sum(rev).cast("double")
            ).alias("promo_revenue_pct")
        )
    )


@register(
    "q19_discounted_revenue",
    oracle="""
SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity >= 1 AND l.l_quantity <= 20)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30 AND l.l_quantity >= 10 AND l.l_quantity <= 30)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50 AND l.l_quantity >= 20 AND l.l_quantity <= 40)
""",
    doc="TPC-H Q19 shape: disjunctive multi-attribute predicates across "
    "both join sides (tests predicate normalization through the join)",
)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir)
    j = li.join(p, p.p_partkey == li.l_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30)
           & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(20, 50)
           & F.col("l_quantity").between(20, 40))
    )
    rev = F.col("l_extendedprice").cast(_DEC) * (1 - F.col("l_discount").cast(_DEC_RATE))
    return j.filter(cond).agg(F.sum(rev).cast("double").alias("revenue"))


@register(
    "q22_global_sales_opportunity",
    oracle="""
SELECT seg, COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
FROM (
  SELECT substr(c_name, 10, 1) AS seg, c_acctbal, c_custkey FROM customer
  WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
    AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c_custkey
                    AND o.o_totalprice > 300000)
)
GROUP BY seg
""",
    doc="TPC-H Q22 shape: scalar subquery threshold + NOT EXISTS "
    "(anti-join against big orders — every fixture customer has SOME "
    "order) + substring grouping",
)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    # Lazy scalar subquery: broadcast the 1-row average and filter against
    # it, so Catalyst plans a single job (no eager driver-side collect).
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(F.avg("c_acctbal").alias("_avg_bal"))
    )
    rich = (
        # bounded: avg_bal is a 1-row aggregate (lazy scalar subquery)
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg_bal"))
        .drop("_avg_bal")
    )
    big_orders = o.filter(F.col("o_totalprice") > 300000)
    no_orders = rich.join(big_orders, rich.c_custkey == big_orders.o_custkey, "left_anti")
    return (
        no_orders.select(
            F.substring("c_name", 10, 1).alias("seg"), F.col("c_acctbal")
        )
        .groupBy("seg")
        .agg(
            F.count("*").alias("numcust"),
            F.sum(F.col("c_acctbal").cast(_DEC)).cast("double").alias("totacctbal"),
        )
    )


@register(
    "q7_volume_shipping",
    oracle="""
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(volume) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         year(l.l_shipdate) AS l_year,
         CAST(l.l_extendedprice AS DECIMAL(12,2))
           * (1 - CAST(l.l_discount AS DECIMAL(4,2))) AS volume
  FROM supplier s
  JOIN lineitem l ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
) shipping
GROUP BY supp_nation, cust_nation, l_year
""",
    doc="TPC-H Q7 shape (volume shipping): bidirectional nation pair over "
    "a 5-join star, revenue per (supplier nation, customer nation, ship "
    "year); both nation dims broadcast",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, "supplier", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    n1 = load_table(spark, "nation", sf_dir).select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, "nation", sf_dir).select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    volume = F.col("l_extendedprice").cast(_DEC) * (
        1 - F.col("l_discount").cast("decimal(4,2)")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        s.join(li, s.s_suppkey == li.l_suppkey)
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        # bounded: nation dim — 25 rows at any TPC-H scale factor
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        # bounded: nation dim — 25 rows at any TPC-H scale factor
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        )
        .select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            volume.alias("__vol"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum("__vol").cast("double").alias("revenue"))
    )


@register(
    "q8_market_share",
    oracle="""
SELECT o_year,
       CAST(SUM(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END) AS DOUBLE)
         / CAST(SUM(volume) AS DOUBLE) AS mkt_share
FROM (
  SELECT year(o.o_orderdate) AS o_year,
         CAST(l.l_extendedprice AS DECIMAL(12,2))
           * (1 - CAST(l.l_discount AS DECIMAL(4,2))) AS volume,
         n2.n_name AS nation
  FROM part p
  JOIN lineitem l ON p.p_partkey = l.l_partkey
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
  JOIN region r ON n1.n_regionkey = r.r_regionkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
  WHERE r.r_name = 'EUROPE'
    AND p.p_type = 'STANDARD'
    AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
) all_nations
GROUP BY o_year
""",
    doc="TPC-H Q8 shape (national market share): 7-join snowflake, share "
    "of one supplier nation's volume per order year; CASE-sum over "
    "decimal volumes, final ratio in double on both engines",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, "part", sf_dir).filter(F.col("p_type") == "STANDARD")
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    n1 = load_table(spark, "nation", sf_dir).select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = load_table(spark, "nation", sf_dir).select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    r = load_table(spark, "region", sf_dir).filter(F.col("r_name") == "EUROPE")
    volume = F.col("l_extendedprice").cast(_DEC) * (
        1 - F.col("l_discount").cast("decimal(4,2)")
    )
    base = (
        p
        .join(li, F.col("p_partkey") == F.col("l_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        # bounded: nation dim — 25 rows at any TPC-H scale factor
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        # bounded: region dim — 5 rows at any TPC-H scale factor
        .join(F.broadcast(r), F.col("n1_region") == F.col("r_regionkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        # bounded: nation dim — 25 rows at any TPC-H scale factor
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        )
        .select(
            F.year("o_orderdate").alias("o_year"),
            volume.alias("__vol"),
            "nation",
        )
    )
    zero = F.lit(0).cast("decimal(13,4)")
    return base.groupBy("o_year").agg(
        (
            F.sum(F.when(F.col("nation") == "NATION_3", F.col("__vol")).otherwise(zero))
            .cast("double")
            / F.sum("__vol").cast("double")
        ).alias("mkt_share")
    )


@register(
    "q15_top_supplier",
    oracle="""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name,
       CAST(r.total_revenue AS DOUBLE) AS total_revenue
FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
""",
    doc="TPC-H Q15 shape (top supplier): quarterly revenue per supplier, "
    "keep the maximum; the scalar max is broadcast and compared on exact "
    "DECIMAL (a double max-equality would be engine-dependent)",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    revenue = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(
                F.col("l_extendedprice").cast(_DEC)
                * (1 - F.col("l_discount").cast("decimal(4,2)"))
            ).alias("__rev")
        )
    )
    top = revenue.agg(F.max("__rev").alias("__max_rev"))
    return (
        # bounded: top is a 1-row max-revenue aggregate
        revenue.crossJoin(F.broadcast(top))
        .filter(F.col("__rev") == F.col("__max_rev"))
        .join(s, F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey", "s_name", F.col("__rev").cast("double").alias("total_revenue")
        )
    )


@register(
    "q17_small_quantity_revenue",
    oracle="""
WITH thresholds AS (
  SELECT l_partkey,
         0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                / COUNT(l_quantity)) AS qty_threshold
  FROM lineitem GROUP BY l_partkey
)
SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0
         AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN thresholds t ON t.l_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#23'
  AND l.l_quantity < t.qty_threshold
""",
    doc="TPC-H Q17 shape (small-quantity orders): correlated per-part "
    "average rewritten as a grouped threshold join — the scalable form of "
    "the correlated subquery; the threshold is derived from decimal power "
    "sums so both engines compare against bit-identical doubles",
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir).filter(F.col("p_brand") == "Brand#23")
    thresholds = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (
            F.lit(0.2)
            * (
                F.sum(F.col("l_quantity").cast(_DEC)).cast("double")
                / F.count("l_quantity")
            )
        ).alias("qty_threshold")
    )
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(thresholds, F.col("t_partkey") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast(_DEC)).cast("double") / F.lit(7.0)
            ).alias("avg_yearly")
        )
    )


# ---------------------------------------------------------------------------
# TPC-H shapes Q2/Q9/Q11/Q16/Q20/Q21 (completing the 22-query suite).
#
# The fixtures carry no partsupp table, no supply cost, and no
# commit/receipt dates, so these keep each query's PLAN SHAPE (the thing
# Spark must execute well at 100 TB) over fixture-derivable stand-ins:
#   - a `supply` relation derived as the distinct (part, supplier) pairs in
#     lineitem with MIN(extendedprice) as the supply-cost surrogate
#     (Q2/Q16/Q20),
#   - p_retailprice as the unit-cost surrogate (Q9),
#   - "late" defined as l_shipdate > o_orderdate + 60 days (Q21).
# ---------------------------------------------------------------------------


@register(
    "q2_min_cost_supplier",
    oracle="""
WITH supply AS (
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS ps_supplycost
  FROM lineitem GROUP BY 1, 2
), euro_supply AS (
  SELECT ps.ps_partkey, ps.ps_supplycost, s.s_acctbal, s.s_name, n.n_name
  FROM supply ps
  JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'EUROPE'
), min_cost AS (
  SELECT ps_partkey, MIN(ps_supplycost) AS min_supplycost
  FROM euro_supply GROUP BY 1
)
SELECT es.s_acctbal, es.s_name, es.n_name, p.p_partkey, p.p_name,
       CAST(es.ps_supplycost AS DOUBLE) AS supplycost
FROM euro_supply es
JOIN min_cost mc
  ON mc.ps_partkey = es.ps_partkey AND es.ps_supplycost = mc.min_supplycost
JOIN part p ON p.p_partkey = es.ps_partkey
WHERE p.p_size = 15
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
""",
    doc="TPC-H Q2 shape (min-cost supplier): the correlated MIN subquery "
    "rewritten as a per-part window MIN + exact-DECIMAL equality filter — "
    "one pass over the supply relation (an aggregate-and-rejoin would "
    "recompute the whole lineitem aggregation for the min branch) and it "
    "keeps min-cost ties like the classic query; region/nation broadcast; "
    "supply relation derived from lineitem (no partsupp in the fixtures)",
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir).filter(F.col("r_name") == "EUROPE")
    p = load_table(spark, "part", sf_dir).filter(F.col("p_size") == 15)
    supply = li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(F.min(F.col("l_extendedprice").cast(_DEC)).alias("ps_supplycost"))
    euro = (
        supply.join(
            # supplier-sized side: no broadcast hint, AQE picks by size
            s.join(n, s.s_nationkey == n.n_nationkey)
            .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
            .select("s_suppkey", "s_acctbal", "s_name", "n_name"),
            F.col("ps_suppkey") == F.col("s_suppkey"),
        )
        .select("ps_partkey", "ps_supplycost", "s_acctbal", "s_name", "n_name")
    )
    w_part = Window.partitionBy("ps_partkey")
    return (
        euro.withColumn("min_supplycost", F.min("ps_supplycost").over(w_part))
        .filter(F.col("ps_supplycost") == F.col("min_supplycost"))
        .join(p, F.col("p_partkey") == F.col("ps_partkey"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            F.col("ps_supplycost").cast("double").alias("supplycost"),
        )
        .orderBy(
            F.col("s_acctbal").desc(),
            F.col("n_name"),
            F.col("s_name"),
            F.col("p_partkey"),
        )
        .limit(100)
    )


@register(
    "q9_product_type_profit",
    oracle="""
SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
FROM (
  SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
         CAST(l.l_extendedprice AS DECIMAL(12,2))
           * (1 - CAST(l.l_discount AS DECIMAL(4,2)))
         - CAST(p.p_retailprice AS DECIMAL(12,2))
           * CAST(l.l_quantity AS DECIMAL(12,2)) AS amount
  FROM part p
  JOIN lineitem l ON p.p_partkey = l.l_partkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  WHERE p.p_name LIKE '%widget%'
) profit
GROUP BY nation, o_year
""",
    doc="TPC-H Q9 shape (product-type profit): substring part filter over "
    "a 5-join star, profit per (supplier nation, order year); decimal "
    "subtraction keeps both engines exact; p_retailprice stands in for "
    "ps_supplycost (no partsupp in the fixtures)",
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, "part", sf_dir).filter(F.col("p_name").like("%widget%"))
    li = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    amount = F.col("l_extendedprice").cast(_DEC) * (
        1 - F.col("l_discount").cast(_DEC_RATE)
    ) - F.col("p_retailprice").cast(_DEC) * F.col("l_quantity").cast(_DEC)
    return (
        p
        .join(li, F.col("p_partkey") == F.col("l_partkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        # bounded: nation dim — 25 rows at any TPC-H scale factor
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            amount.alias("__amount"),
        )
        .groupBy("nation", "o_year")
        .agg(F.sum("__amount").cast("double").alias("sum_profit"))
    )


@register(
    "q11_important_stock",
    oracle="""
WITH partvalue AS (
  SELECT l.l_partkey AS ps_partkey,
         SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
             * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS value
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  WHERE n.n_name = 'NATION_18'
  GROUP BY 1
)
SELECT ps_partkey, CAST(value AS DOUBLE) AS part_value
FROM partvalue
WHERE CAST(value AS DOUBLE) >
      (SELECT CAST(SUM(value) AS DOUBLE) / COUNT(*) * 1.2 FROM partvalue)
""",
    doc="TPC-H Q11 shape (important stock): per-part value within one "
    "nation, kept when above a fraction of the national total — the "
    "HAVING scalar subquery becomes a broadcast of a 1-row aggregate; "
    "the 1.2x-average threshold is scale-free (the classic fraction "
    "constant must shrink as 1/SF); exact decimal sums, double compare "
    "on identical IEEE values",
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir).filter(F.col("n_name") == "NATION_18")
    value = F.col("l_extendedprice").cast(_DEC) * (
        1 - F.col("l_discount").cast(_DEC_RATE)
    )
    partvalue = (
        li.join(
            # one nation's suppliers still scale with SF: no broadcast
            # hint, AQE picks by size
            s.join(n, s.s_nationkey == n.n_nationkey).select("s_suppkey"),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_semi",
        )
        .groupBy(F.col("l_partkey").alias("ps_partkey"))
        .agg(F.sum(value).alias("__value"))
    )
    threshold = partvalue.agg(
        (F.sum("__value").cast("double") / F.count("*") * F.lit(1.2)).alias(
            "__threshold"
        )
    )
    return (
        # bounded: threshold is a 1-row aggregate (Q11 scalar subquery)
        partvalue.crossJoin(F.broadcast(threshold))
        .filter(F.col("__value").cast("double") > F.col("__threshold"))
        .select("ps_partkey", F.col("__value").cast("double").alias("part_value"))
    )


@register(
    "q16_parts_supplier_relationship",
    oracle="""
SELECT p_brand, p_type, p_size, COUNT(DISTINCT ps_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
      FROM lineitem) ps
JOIN part p ON p.p_partkey = ps.ps_partkey
WHERE p.p_brand <> 'Brand#23'
  AND p.p_type <> 'PROMO'
  AND p.p_size IN (1, 5, 9, 14, 23, 36, 45, 49)
  AND ps.ps_suppkey NOT IN
      (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
""",
    doc="TPC-H Q16 shape (parts/supplier relationship): distinct supplier "
    "counts per (brand, type, size) with a NOT IN exclusion compiled to a "
    "broadcast anti join (s_acctbal < 0 stands in for the complaint "
    "comment filter); part-supplier bridge derived from lineitem",
)
def q16_parts_supplier_relationship(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir).filter(
        (F.col("p_brand") != "Brand#23")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 5, 9, 14, 23, 36, 45, 49))
    )
    bad_supp = load_table(spark, "supplier", sf_dir).filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    ps = li.select(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).distinct()
    return (
        ps.join(
            # negative-balance suppliers scale with SF: no hint
            bad_supp,
            F.col("ps_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .join(p, F.col("p_partkey") == F.col("ps_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
    )


@register(
    "q20_potential_promotion",
    oracle="""
WITH shipped AS (
  SELECT l_partkey, l_suppkey,
         SUM(CAST(l_quantity AS DECIMAL(12,2))) AS total_qty,
         SUM(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                   AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
                  THEN CAST(l_quantity AS DECIMAL(12,2))
                  ELSE CAST(0 AS DECIMAL(12,2)) END) AS qty_1996
  FROM lineitem GROUP BY 1, 2
)
SELECT s.s_suppkey, s.s_name, n.n_name
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE n.n_name = 'NATION_5'
  AND s.s_suppkey IN (
    SELECT sh.l_suppkey FROM shipped sh
    JOIN part p ON p.p_partkey = sh.l_partkey
    WHERE p.p_name LIKE 'small%'
      AND CAST(sh.qty_1996 AS DOUBLE) > 0.5 * CAST(sh.total_qty AS DOUBLE))
""",
    doc="TPC-H Q20 shape (potential part promotion): nested IN subqueries "
    "compiled to left-semi joins — suppliers whose 1996 shipments of "
    "selected parts exceed half their all-time volume (availqty stood in "
    "by the all-time shipped total; no partsupp in the fixtures)",
)
def q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir).filter(F.col("n_name") == "NATION_5")
    p = load_table(spark, "part", sf_dir).filter(F.col("p_name").like("small%"))
    qty_1996 = F.when(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp")),
        F.col("l_quantity").cast(_DEC),
    ).otherwise(F.lit(0).cast(_DEC))
    shipped = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast(_DEC)).alias("total_qty"),
        F.sum(qty_1996).alias("qty_1996"),
    )
    promo_supp = (
        shipped.join(p, F.col("p_partkey") == F.col("l_partkey"), "left_semi")
        .filter(
            F.col("qty_1996").cast("double") > F.lit(0.5) * F.col("total_qty").cast("double")
        )
        .select("l_suppkey")
    )
    return (
        # bounded: nation dim — 25 rows at any TPC-H scale factor
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(promo_supp, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name", "n_name")
    )


@register(
    "q21_suppliers_kept_waiting",
    oracle="""
WITH late AS (
  SELECT l.l_orderkey, l.l_suppkey,
         CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
              THEN 1 ELSE 0 END AS is_late
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderstatus = 'F'
), per_order AS (
  SELECT l_orderkey, COUNT(DISTINCT l_suppkey) AS n_supp,
         COUNT(DISTINCT CASE WHEN is_late = 1 THEN l_suppkey END) AS n_late_supp
  FROM late GROUP BY 1
)
SELECT s.s_name, COUNT(*) AS numwait
FROM late l1
JOIN per_order po ON po.l_orderkey = l1.l_orderkey
JOIN supplier s ON s.s_suppkey = l1.l_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE l1.is_late = 1 AND po.n_supp >= 2 AND po.n_late_supp = 1
  AND n.n_name = 'NATION_3'
GROUP BY s.s_name
ORDER BY numwait DESC, s_name
LIMIT 100
""",
    doc="TPC-H Q21 shape (suppliers who kept orders waiting): the "
    "EXISTS/NOT EXISTS pair rewritten as per-order distinct-supplier "
    "counts (all suppliers >= 2, LATE suppliers == 1) computed with "
    "collect_set over an order-partitioned window — ONE shuffle of the "
    "fact by order key instead of an aggregate-and-rejoin (which would "
    "scan and shuffle it twice); 'late' is shipdate more than 60 days "
    "after order date (no receipt/commit dates in the fixtures)",
)
def q21_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir).filter(F.col("o_orderstatus") == "F")
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir).filter(F.col("n_name") == "NATION_3")
    late = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            "l_orderkey",
            "l_suppkey",
            F.when(
                F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
                1,
            )
            .otherwise(0)
            .alias("is_late"),
        )
    )
    w_order = Window.partitionBy("l_orderkey")
    return (
        late.withColumn(
            "n_supp", F.size(F.collect_set("l_suppkey").over(w_order))
        )
        .withColumn(
            "n_late_supp",
            F.size(
                F.collect_set(
                    F.when(F.col("is_late") == 1, F.col("l_suppkey"))
                ).over(w_order)
            ),
        )
        .filter(
            (F.col("is_late") == 1)
            & (F.col("n_supp") >= 2)
            & (F.col("n_late_supp") == 1)
        )
        .join(
            # supplier-sized side: no broadcast hint, AQE picks by size
            s.join(n, s.s_nationkey == n.n_nationkey).select("s_suppkey", "s_name"),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(100)
    )


@register(
    "subquery_correlated_exists",
    oracle="""
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_totalprice > 300000)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderstatus = 'F')
""",
    doc="correlated EXISTS / NOT EXISTS subqueries through the SQL "
    "frontend: Catalyst decorrelates both into a left-semi and a "
    "left-anti join on the correlation key — the declarative form of "
    "join_semi/join_anti, proving the engine's subquery rewrite matches "
    "ANSI semantics (same plan family, no per-row re-execution).",
)
def subquery_correlated_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    for t in ("customer", "orders"):
        load_table(spark, t, sf_dir).createOrReplaceTempView(f"__sq_{t}")
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM __sq_customer c
        WHERE EXISTS (SELECT 1 FROM __sq_orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 300000)
          AND NOT EXISTS (SELECT 1 FROM __sq_orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderstatus = 'F')
        """
    )


@register(
    "subquery_not_in_nulls",
    oracle="""
SELECT 'no_nulls' AS variant, COUNT(*) AS n FROM part
WHERE p_partkey NOT IN (
  SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A')
UNION ALL
SELECT 'with_nulls' AS variant, COUNT(*) AS n FROM part
WHERE p_partkey NOT IN (
  SELECT CASE WHEN l_quantity > 45 THEN NULL ELSE l_partkey END
  FROM lineitem WHERE l_returnflag = 'A')
""",
    doc="NOT IN with NULLs — the ANSI three-valued-logic trap, pinned "
    "from both sides in one probe: the null-free variant returns the "
    "real anti-join count (> 0), the null-poisoned variant must return "
    "0 because one NULL in the IN-list makes every NOT IN predicate "
    "UNKNOWN. Matching DuckDB on both counts proves Spark's null-aware "
    "anti-join implements the standard exactly — the detail naive "
    "anti-join rewrites get wrong.",
)
def subquery_not_in_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    for t in ("part", "lineitem"):
        load_table(spark, t, sf_dir).createOrReplaceTempView(f"__sqn_{t}")
    return spark.sql(
        """
        SELECT 'no_nulls' AS variant, COUNT(*) AS n FROM __sqn_part
        WHERE p_partkey NOT IN (
          SELECT l_partkey FROM __sqn_lineitem WHERE l_returnflag = 'A')
        UNION ALL
        SELECT 'with_nulls' AS variant, COUNT(*) AS n FROM __sqn_part
        WHERE p_partkey NOT IN (
          SELECT CASE WHEN l_quantity > 45 THEN NULL ELSE l_partkey END
          FROM __sqn_lineitem WHERE l_returnflag = 'A')
        """
    )


@register(
    "join_lateral_topk",
    oracle="""
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
FROM customer c, LATERAL (
  SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
  FROM orders o WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
) t
""",
    doc="LATERAL correlated table subquery (SQL 2016 / Spark 4): top-2 "
    "orders per customer expressed as a per-row dependent subquery — "
    "Catalyst decorrelates it into the same windowed rank shape as "
    "topk_per_group instead of executing per customer, which is the "
    "whole point: declarative LATERAL, distributed execution.",
)
def join_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    for t in ("customer", "orders"):
        load_table(spark, t, sf_dir).createOrReplaceTempView(f"__lat_{t}")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM __lat_customer c, LATERAL (
          SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
          FROM __lat_orders o WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        ) t
        """
    )


@register(
    "sql_recursive_cte",
    oracle="""
WITH RECURSIVE months(m) AS (
  SELECT DATE '1995-01-01'
  UNION ALL
  SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM months
  WHERE m < DATE '1997-12-01'
)
SELECT CAST(m AS TIMESTAMP) AS month_start,
       COUNT(o_orderkey) AS n_orders,
       CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 0) AS DOUBLE)
         AS total_price
FROM months
LEFT JOIN orders ON CAST(date_trunc('month', o_orderdate) AS DATE) = m
GROUP BY m
""",
    doc="recursive CTE (SQL:1999 / Spark 4): a 36-row month spine generated "
    "by WITH RECURSIVE, left-joined to orders so empty months surface as "
    "zero rows — the date-scaffold shape reporting pipelines need and "
    "plain GROUP BY cannot produce. The recursion is driver-cheap (36 "
    "iterations over a 1-row frontier); the fact-side join stays a "
    "broadcast of the spine against a pushed-down orders scan.",
)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, "orders", sf_dir).createOrReplaceTempView("__rec_orders")
    return spark.sql(
        """
        WITH RECURSIVE months(m) AS (
          SELECT DATE '1995-01-01'
          UNION ALL
          SELECT CAST(m + INTERVAL '1' MONTH AS DATE) FROM months
          WHERE m < DATE '1997-12-01'
        )
        SELECT CAST(m AS TIMESTAMP) AS month_start,
               COUNT(o_orderkey) AS n_orders,
               CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 0)
                    AS DOUBLE) AS total_price
        FROM months
        LEFT JOIN __rec_orders
          ON CAST(date_trunc('month', o_orderdate) AS DATE) = m
        GROUP BY m
        """
    )


@register(
    "join_fuzzy_levenshtein",
    oracle="""
WITH probes AS (
  SELECT s_suppkey AS probe_id,
         CASE WHEN s_suppkey % 2 = 0
              THEN substr(s_name, 1, 9) || 'O' || substr(s_name, 11)
              ELSE substr(s_name, 1, 10) || 'X' || substr(s_name, 12)
         END AS probe_name
  FROM supplier
)
SELECT p.probe_id, s.s_suppkey, p.probe_name, s.s_name,
       CAST(levenshtein(p.probe_name, s.s_name) AS INT) AS edit_dist
FROM probes p JOIN supplier s
  ON substr(p.probe_name, length(p.probe_name) - 3) =
     substr(s.s_name, length(s.s_name) - 3)
 AND levenshtein(p.probe_name, s.s_name) <= 1
""",
    doc="fuzzy string join (entity resolution): a deterministically "
    "corrupted probe set (one middle character overwritten) matched back "
    "to suppliers by levenshtein <= 1 — WITH BLOCKING on the last-4-char "
    "suffix, which the corruption provably never touches. The blocking "
    "key turns the quadratic all-pairs edit-distance scan into an "
    "equi-join (one shuffle on the suffix) with the O(m*n) DP run only "
    "inside suffix blocks — the standard dedup/record-linkage shape at "
    "corpus scale; block-size skew is the thing to watch, same remedies "
    "as any skewed join. levenshtein is the classic DP in both engines, "
    "integer-exact.",
)
def join_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, "supplier", sf_dir)
    probes = s.select(
        F.col("s_suppkey").alias("probe_id"),
        F.when(
            F.col("s_suppkey") % 2 == 0,
            F.concat(
                F.substring("s_name", 1, 9),
                F.lit("O"),
                F.expr("substr(s_name, 11)"),
            ),
        )
        .otherwise(
            F.concat(
                F.substring("s_name", 1, 10),
                F.lit("X"),
                F.expr("substr(s_name, 12)"),
            )
        )
        .alias("probe_name"),
    )
    block = lambda c: F.expr(f"substr({c}, length({c}) - 3)")  # noqa: E731
    return (
        probes.join(
            s,
            (block("probe_name") == block("s_name"))
            & (F.levenshtein("probe_name", "s_name") <= 1),
        )
        .select(
            "probe_id",
            "s_suppkey",
            "probe_name",
            "s_name",
            F.levenshtein("probe_name", "s_name").cast("int").alias("edit_dist"),
        )
    )


@register(
    "cdc_changelog_compact",
    oracle="""
WITH changelog AS (
  SELECT l_orderkey AS k,
         ROW_NUMBER() OVER (PARTITION BY l_orderkey
             ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity,
                      l_extendedprice) AS seq,
         CASE WHEN l_returnflag = 'R' THEN 'D' END AS op0,
         l_quantity AS qty
  FROM lineitem
), ops AS (
  SELECT k, seq,
         COALESCE(op0, CASE WHEN seq = 1 THEN 'I' ELSE 'U' END) AS op, qty
  FROM changelog
), ranked AS (
  SELECT k, seq, op, qty,
         ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC, op DESC) AS rn
  FROM ops
)
SELECT k, seq, op, qty FROM ranked WHERE rn = 1 AND op <> 'D'
""",
    doc="Debezium-style changelog compaction with DELETE tombstones: "
    "latest-by-sequence op per key wins, a winning delete removes the "
    "key — the stream-compaction half of MERGE a CDC consumer runs "
    "before loading a warehouse table (the reference exports exactly "
    "such change streams; HiveExportClient.java:129-135 block "
    "sequencing is the seq column's analog). operators/cdc."
    "apply_changelog: ONE shuffle on the key (row_number window) + a "
    "filter — no join, per-key state is the single winning row, hot "
    "keys AQE-splittable. Changelog derived deterministically from "
    "lineitem (seq = linenumber, returns are tombstones).",
)
def cdc_changelog_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_export_spark.operators.cdc import apply_changelog

    li = load_table(spark, "lineitem", sf_dir)
    # the fixture's l_linenumber is NOT unique within an order, so derive
    # a real LSN: row_number over a pinned total order (any residual tie
    # is output-invariant because qty participates in the ordering)
    w_seq = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice",
    )
    changelog = li.select(
        F.col("l_orderkey").alias("k"),
        F.row_number().over(w_seq).alias("seq"),
        F.col("l_returnflag").alias("__rf"),
        F.col("l_quantity").alias("qty"),
    ).select(
        "k",
        "seq",
        F.when(F.col("__rf") == "R", "D")
        .when(F.col("seq") == 1, "I")
        .otherwise("U")
        .alias("op"),
        "qty",
    )
    return apply_changelog(changelog, "k", "seq")


@register(
    "agg_grouping_id",
    oracle="""
-- day-zero pin (round-8 empty-fixture sweep): Spark's grouping
-- lattice emits ZERO rows on an empty relation (Expand feeds the
-- aggregate no input groups, including the () set) where DuckDB
-- emits the grand-total row; the EXISTS guard mirrors Spark.
SELECT * FROM (
  SELECT o_orderstatus, o_orderpriority,
         CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
         CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
         COUNT(*) AS n
  FROM orders
  GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                          (o_orderstatus, o_orderpriority), ())
) t WHERE EXISTS (SELECT 1 FROM orders)
""",
    doc="GROUPING() marker functions over a 4-set grouping-sets "
    "expansion: the markers are what lets a consumer distinguish a "
    "real NULL group key from a rolled-up one — without them rollup "
    "outputs are ambiguous on nullable keys. One expand + one shuffle, "
    "same as any grouping-sets plan; markers are computed from the "
    "grouping bit vector, zero extra cost.",
)
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    o.createOrReplaceTempView("orders_gid")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping(o_orderpriority) AS INT) AS g_priority,
               COUNT(*) AS n
        FROM orders_gid
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                (o_orderstatus, o_orderpriority), ())
        """
    )


@register(
    "join_null_safe_eq",
    oracle="""
WITH keyed AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 10 = 0 THEN NULL ELSE c_mktsegment END AS seg
  FROM customer
), dims AS (
  SELECT DISTINCT c_mktsegment AS seg FROM customer
  UNION ALL SELECT NULL
)
SELECT d.seg, COUNT(k.c_custkey) AS n
FROM keyed k JOIN dims d ON k.seg IS NOT DISTINCT FROM d.seg
GROUP BY d.seg
""",
    doc="null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys "
    "MATCH each other instead of silently dropping — the semantics a "
    "dimension join needs when 'unknown' is itself a bucket. Spark "
    "plans eqNullSafe as a hashable equi-join key (NOT a theta join), "
    "so it shuffles/broadcasts exactly like = — asserted by the "
    "BroadcastHashJoin in the plan. Every tenth customer gets a NULL "
    "segment; the NULL dim row must collect all of them.",
)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    keyed = c.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 10 == 0, F.lit(None)).otherwise(
            F.col("c_mktsegment")
        ).alias("seg"),
    )
    dims = (
        c.select(F.col("c_mktsegment").alias("seg"))
        .distinct()
        .unionAll(c.sparkSession.range(1).select(F.lit(None).cast("string").alias("seg")))
    )
    return (
        keyed.alias("k")
        # bounded: distinct market segments + NULL sentinel — 6 rows
        .join(F.broadcast(dims.alias("d")), F.expr("k.seg <=> d.seg"))
        .groupBy(F.col("d.seg").alias("seg"))
        .agg(F.count("c_custkey").alias("n"))
    )


@register(
    "agg_argmax_family",
    oracle="""
SELECT o_orderstatus,
       arg_max(o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)
                 * 10000000000 + o_orderkey) AS key_of_max,
       arg_min(o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)
                 * 10000000000 + o_orderkey) AS key_of_min,
       CAST(MAX(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS max_price,
       CAST(MIN(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS min_price
FROM orders GROUP BY o_orderstatus
""",
    doc="arg-max/arg-min aggregate family (Spark max_by/min_by == DuckDB "
    "arg_max/arg_min): the key of the extremal row per group — the "
    "'which order was the biggest' shape that otherwise costs a window "
    "+ filter. Bare max_by on a tied maximum is NONDETERMINISTIC "
    "(engine- and partition-order-dependent), so the ordering argument "
    "is a packed integer (price_cents * 1e10 + key — exact BIGINT, no "
    "overlap) that totally orders rows: ties on price resolve by key "
    "on both extremes. Exact decimal ordering; one "
    "partial-mergeable aggregation, no window.",
)
def agg_argmax_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    price = F.col("o_totalprice").cast("decimal(14,2)")
    return o.groupBy("o_orderstatus").agg(
        F.expr(
            "max_by(o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(14,2))"
            " * 100 AS BIGINT) * 10000000000L + o_orderkey)"
        ).alias("key_of_max"),
        F.expr(
            "min_by(o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(14,2))"
            " * 100 AS BIGINT) * 10000000000L + o_orderkey)"
        ).alias("key_of_min"),
        F.max(price).cast("double").alias("max_price"),
        F.min(price).cast("double").alias("min_price"),
    )


@register(
    "agg_filter_clause",
    oracle="""
SELECT o_orderstatus,
       COUNT(*) AS n_all,
       COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2)))
            FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH'))
            AS DOUBLE) AS hot_total,
       CAST(round(
            CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2)))
                 FILTER (WHERE o_orderpriority = '5-LOW') AS DOUBLE)
            / COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW'), 6)
            AS DOUBLE) AS low_avg
FROM orders GROUP BY o_orderstatus
""",
    doc="ANSI FILTER (WHERE ...) aggregate clause: per-group conditional "
    "aggregates in ONE pass — the idiom that replaces N self-joins or "
    "N CASE-wrapped aggregates when a report needs several "
    "differently-filtered measures over the same grouping. Decimal "
    "sums; the filtered average is an explicit "
    "sum/count double division (engines disagree on AVG(decimal) "
    "result scale), round(6)-guarded.",
)
def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    o.createOrReplaceTempView("orders_fc")
    return spark.sql(
        """
        SELECT o_orderstatus,
               COUNT(*) AS n_all,
               COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT')
                 AS n_urgent,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2)))
                    FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH'))
                    AS DOUBLE) AS hot_total,
               CAST(round(
                    CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2)))
                         FILTER (WHERE o_orderpriority = '5-LOW') AS DOUBLE)
                    / COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW'), 6)
                    AS DOUBLE) AS low_avg
        FROM orders_fc GROUP BY o_orderstatus
        """
    )


@register(
    "cdc_snapshot_diff",
    oracle="""
WITH a AS (
  SELECT o_orderkey AS k, o_orderstatus AS status, CAST(o_totalprice AS DECIMAL(12,2)) AS price
  FROM orders
), b AS (
  -- snapshot B: drop keys %13==0, flip status of keys %7==0, add shifted keys %11==0
  SELECT k, CASE WHEN k % 7 = 0 THEN 'X' ELSE status END AS status, price
  FROM a WHERE k % 13 <> 0
  UNION ALL
  SELECT -(k + 1), status, price FROM a WHERE k % 11 = 0
)
SELECT coalesce(a.k, b.k) AS k,
       CASE WHEN a.k IS NULL THEN 'added'
            WHEN b.k IS NULL THEN 'removed'
            ELSE 'changed' END AS change_type,
       a.status AS status_a, b.status AS status_b
FROM a FULL OUTER JOIN b USING (k)
WHERE a.k IS NULL OR b.k IS NULL
   OR a.status <> b.status OR a.price <> b.price
""",
    doc="snapshot diff — the table-compare primitive behind data "
    "reconciliation, backfill audits and CDC validation: two keyed "
    "snapshots full-outer-joined on the key, classifying every key as "
    "added / removed / changed (any non-key column differing); "
    "unchanged keys are filtered out so the output is "
    "delta-sized, not table-sized. Snapshot B is derived "
    "deterministically from orders (deletes %13, status flips %7, "
    "inserts as -(key+1) for %11 — orderkeys are non-negative at "
    "every TPC-H scale factor, so synthetic keys are strictly negative "
    "and can never collide with "
    "real ones, unlike a fixed +1e9 offset) so both engines diff "
    "identical inputs. Scale shape: ONE co-partitioned shuffle join on the key "
    "(bucketed tables would make it shuffle-free); the change "
    "predicate evaluates row-local, no window, no collect.",
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    a = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").cast("decimal(12,2)").alias("price"),
    )
    b = a.where(F.col("k") % 13 != 0).select(
        "k",
        F.when(F.col("k") % 7 == 0, F.lit("X")).otherwise(F.col("status")).alias(
            "status"
        ),
        "price",
    ).unionByName(
        a.where(F.col("k") % 11 == 0).select(
            (-(F.col("k") + 1)).alias("k"), "status", "price"
        )
    )
    aa = a.select(
        F.col("k").alias("ak"), F.col("status").alias("status_a"),
        F.col("price").alias("price_a"),
    )
    bb = b.select(
        F.col("k").alias("bk"), F.col("status").alias("status_b"),
        F.col("price").alias("price_b"),
    )
    j = aa.join(bb, aa.ak == bb.bk, "full_outer")
    added = F.col("ak").isNull()
    removed = F.col("bk").isNull()
    changed = (~added & ~removed) & (
        (F.col("status_a") != F.col("status_b"))
        | (F.col("price_a") != F.col("price_b"))
    )
    return (
        j.where(added | removed | changed)
        .select(
            F.coalesce(F.col("ak"), F.col("bk")).alias("k"),
            F.when(added, "added")
            .when(removed, "removed")
            .otherwise("changed")
            .alias("change_type"),
            "status_a",
            "status_b",
        )
    )

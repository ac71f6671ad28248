"""Market-basket co-occurrence analysis over order line items.

The classic association-rule support/lift computation (Agrawal &
Srikant's apriori reduced to its pair tier — the part every production
"frequently bought together" pipeline actually ships). Reference scope
note: the Kafka Streams scaffold has no basket tier; this extends the
analytics family per the north-star brief.

Scale shape: pair generation is a SELF-JOIN ON THE ORDER KEY, so its
fan-out per order is C(basket_size, 2) — bounded by the schema's max
items per order (7 in TPC-H-shaped data), NEVER corpus-quadratic; the
join is co-partitioned on l_orderkey on both sides (one shuffle each,
same key). Item supports and the order count are partial-aggregatable
counts that join back by broadcast (item-support table is
|parts|-sized). Lift is a rational on exact BIGINT counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import tables
from ..registry import query

MIN_PAIR_SUPPORT = 3  # co-occurrence threshold for emitted pairs


@query()
def basket_pairs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(part_a, part_b, n_both, n_a, n_b, n_orders, lift): part pairs
    co-occurring in at least MIN_PAIR_SUPPORT orders, with their
    supports and lift = n_both * n_orders / (n_a * n_b). lift > 1
    means the parts attract (bought together more than independence
    predicts); the support floor keeps noise pairs out and bounds the
    output."""
    li = tables.table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a")
    )
    b = items.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b")
    )
    both = (
        a.join(b, "ok")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
        .filter(F.col("n_both") >= MIN_PAIR_SUPPORT)
    )
    support = items.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    n_orders = li.agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("n_orders")
    )
    sa = support.select(F.col("l_partkey").alias("part_a"), F.col("n").alias("n_a"))
    sb = support.select(F.col("l_partkey").alias("part_b"), F.col("n").alias("n_b"))
    return (
        both.join(F.broadcast(sa), "part_a")
        .join(F.broadcast(sb), "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_both",
            "n_a",
            "n_b",
            "n_orders",
            (
                F.col("n_both").cast("double")
                * F.col("n_orders").cast("double")
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
            ).alias("lift"),
        )
    )


BASKET_PAIRS_ORACLE = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(count(*) AS BIGINT) AS n_both
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= {MIN_PAIR_SUPPORT}
),
support AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS n FROM items GROUP BY 1
),
total AS (
  SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
  FROM lineitem
)
SELECT p.part_a, p.part_b, p.n_both, sa.n AS n_a, sb.n AS n_b, t.n_orders,
       CAST(p.n_both AS DOUBLE) * CAST(t.n_orders AS DOUBLE)
       / (CAST(sa.n AS DOUBLE) * CAST(sb.n AS DOUBLE)) AS lift
FROM pairs p
JOIN support sa ON sa.l_partkey = p.part_a
JOIN support sb ON sb.l_partkey = p.part_b
CROSS JOIN total t
"""


# --------------------------------------------------------------------------
# Apriori level 3: frequent triples via anti-monotone pruning
# --------------------------------------------------------------------------

MIN_TRIPLE_SUPPORT = 2


@query()
def basket_triples_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(part_a, part_b, part_c, n_all, n_a, n_b, n_c, n_orders,
    lift3): part triples co-occurring in >= MIN_TRIPLE_SUPPORT orders,
    with lift3 = P(abc) / (P(a)P(b)P(c)) on exact counts. The point
    is the APRIORI PRUNE, the anti-monotone step that makes level-k
    mining feasible at scale: a triple can only be frequent if all
    three of its sub-pairs are, so candidate (a,b) stubs are
    semi-joined against the frequent-pair set L2 BEFORE fanning out
    to a third item, and (a,c)/(b,c) are L2-checked before the
    counting shuffle. At sf0.01 that cuts the counted candidate mass
    from ~157k raw triples to the handful with frequent sub-pairs —
    the same ratio argument that holds at 100 TB, where L2 (pairs
    above an absolute support floor) is small enough to broadcast by
    construction.

    Scale: all order-key joins are co-partitioned on l_orderkey
    (basket-bounded fan-out, C(7,3) max per order before pruning);
    L2 and the item-support table broadcast; every counting rollup is
    partial-aggregatable. Nothing is corpus-quadratic."""
    li = tables.table(spark, sf_dir, "lineitem")
    items = tables.spread(li.select("l_orderkey", "l_partkey").distinct(),
                          "l_orderkey")
    a = items.select(F.col("l_orderkey").alias("ok"),
                     F.col("l_partkey").alias("pa"))
    b = items.select(F.col("l_orderkey").alias("ok"),
                     F.col("l_partkey").alias("pb"))
    c = items.select(F.col("l_orderkey").alias("ok"),
                     F.col("l_partkey").alias("pc"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pair"))
    )
    l2 = pairs.filter(F.col("n_pair") >= MIN_TRIPLE_SUPPORT).select(
        "pa", "pb"
    )
    # prune the (a, b) stubs before the third-item fan-out…
    ab = (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .join(F.broadcast(l2), ["pa", "pb"], "left_semi")
    )
    # …and both remaining sub-pairs before the counting shuffle
    tri = (
        ab.join(c, "ok")
        .filter(F.col("pb") < F.col("pc"))
        .join(
            F.broadcast(l2.select(F.col("pa").alias("pa"),
                                  F.col("pb").alias("pc"))),
            ["pa", "pc"],
            "left_semi",
        )
        .join(
            F.broadcast(l2.select(F.col("pa").alias("pb"),
                                  F.col("pb").alias("pc"))),
            ["pb", "pc"],
            "left_semi",
        )
        .groupBy("pa", "pb", "pc")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_all"))
        .filter(F.col("n_all") >= MIN_TRIPLE_SUPPORT)
    )
    support = items.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    n_orders = li.agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("n_orders")
    )
    sa = support.select(F.col("l_partkey").alias("pa"), F.col("n").alias("n_a"))
    sb = support.select(F.col("l_partkey").alias("pb"), F.col("n").alias("n_b"))
    sc = support.select(F.col("l_partkey").alias("pc"), F.col("n").alias("n_c"))
    return (
        tri.join(F.broadcast(sa), "pa")
        .join(F.broadcast(sb), "pb")
        .join(F.broadcast(sc), "pc")
        .crossJoin(F.broadcast(n_orders))
        .select(
            F.col("pa").alias("part_a"),
            F.col("pb").alias("part_b"),
            F.col("pc").alias("part_c"),
            "n_all",
            "n_a",
            "n_b",
            "n_c",
            "n_orders",
            (
                F.col("n_all").cast("double")
                * F.col("n_orders").cast("double")
                * F.col("n_orders").cast("double")
                / (
                    F.col("n_a").cast("double")
                    * F.col("n_b").cast("double")
                    * F.col("n_c").cast("double")
                )
            ).alias("lift3"),
        )
    )


BASKET_TRIPLES_ORACLE = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
l2 AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= {MIN_TRIPLE_SUPPORT}
),
tri AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, c.l_partkey AS pc,
         CAST(count(*) AS BIGINT) AS n_all
  FROM items a
  JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  JOIN items c ON a.l_orderkey = c.l_orderkey AND b.l_partkey < c.l_partkey
  WHERE EXISTS (SELECT 1 FROM l2
                WHERE l2.pa = a.l_partkey AND l2.pb = b.l_partkey)
    AND EXISTS (SELECT 1 FROM l2
                WHERE l2.pa = a.l_partkey AND l2.pb = c.l_partkey)
    AND EXISTS (SELECT 1 FROM l2
                WHERE l2.pa = b.l_partkey AND l2.pb = c.l_partkey)
  GROUP BY 1, 2, 3
  HAVING count(*) >= {MIN_TRIPLE_SUPPORT}
),
support AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS n FROM items GROUP BY 1
),
total AS (
  SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
  FROM lineitem
)
SELECT t.pa AS part_a, t.pb AS part_b, t.pc AS part_c, t.n_all,
       sa.n AS n_a, sb.n AS n_b, sc.n AS n_c, tt.n_orders,
       CAST(t.n_all AS DOUBLE) * CAST(tt.n_orders AS DOUBLE)
         * CAST(tt.n_orders AS DOUBLE)
       / (CAST(sa.n AS DOUBLE) * CAST(sb.n AS DOUBLE)
          * CAST(sc.n AS DOUBLE)) AS lift3
FROM tri t
JOIN support sa ON sa.l_partkey = t.pa
JOIN support sb ON sb.l_partkey = t.pb
JOIN support sc ON sc.l_partkey = t.pc
CROSS JOIN total tt
"""

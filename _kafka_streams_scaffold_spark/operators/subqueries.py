"""Subquery-shaped relational queries (SURVEY.md §2.8 gap inventory).

The reference has no query language at all (SURVEY.md §2.8 — no joins,
no subqueries anywhere in `streams/*Topology.java`), so this module is
pure capability extension: the classic TPC-H subquery shapes that a
user of a full analytics engine expects, each expressed as a single
declarative DataFrame plan.

Shapes covered (and the plan property each must keep at 100 TB):

- **Left outer join + double aggregation** (Q13 shape): the fact side
  is pre-aggregated to one row per key *before* the join, so the join
  input is |customer| + |distinct custkey| rows, never |orders|.
- **Scalar subquery vs a global total** (Q11 shape): the one-row total
  is crossJoin(broadcast(...)) — a broadcast of exactly one row, never
  a shuffle of the big side.
- **Correlated per-group average** (Q17 shape): decorrelated into an
  aggregate + equi-join on the group key, the standard rewrite every
  optimizer applies; the dimension filter is broadcast.
- **Conditional CASE aggregation** (Q14 shape): a ratio of two
  conditional sums computed in one pass — one scan, one partial agg.
- **Disjunction of conjunctions** (Q19 shape): OR-of-ANDs predicates
  stay inside one join so Catalyst can derive the common conjuncts and
  push per-table residuals to the scans.
- **Anti join + scalar subquery** (Q22 shape): NOT EXISTS via left_anti
  (null-safe, unlike NOT IN) plus a broadcast one-row average.

Cross-engine determinism (DuckDB oracle hash-matches exactly): money
in DECIMAL, cast to DOUBLE only at the end; averages computed as
CAST(SUM(decimal) AS DOUBLE) / COUNT so both engines divide the same
two exact numbers; scalar thresholds derived from decimal sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import tables
from ..registry import query
from .money import dec as _dec
from .money import one_minus as _one_minus

# --------------------------------------------------------------------------
# Q13 shape: customer order-count distribution (left outer join)
# --------------------------------------------------------------------------


@query()
def cust_order_counts_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many customers placed 0, 1, 2, ... non-urgent orders.

    Orders are aggregated to one row per customer *first*; the left
    join then attaches the count to every customer (0 for customers
    with no orders) — at scale this joins |customer| x |custkeys|,
    not |customer| x |orders|.
    """
    cust = tables.table(spark, sf_dir, "customer")
    orders = tables.table(spark, sf_dir, "orders")
    per_cust = (
        orders.filter(F.col("o_orderpriority") != "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        cust.join(per_cust, cust.c_custkey == per_cust.o_custkey, "left")
        .select(F.coalesce(F.col("n"), F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


CUST_ORDER_COUNTS_ORACLE = """
SELECT c_count, COUNT(*) AS custdist
FROM (
    SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
    FROM customer c
    LEFT JOIN orders o
      ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
    GROUP BY c.c_custkey
)
GROUP BY c_count
"""


# --------------------------------------------------------------------------
# Q14 shape: promo revenue ratio (conditional CASE aggregation)
# --------------------------------------------------------------------------


@query()
def promo_revenue_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of one month's revenue that came from PROMO parts.

    One scan of the filtered month, one broadcast join to part, two
    conditional sums in a single aggregate — the ratio is computed
    from the two exact decimal totals in double at the very end.
    """
    li = tables.table(spark, sf_dir, "lineitem")
    part = tables.table(spark, sf_dir, "part")
    disc_price = _dec("l_extendedprice") * _one_minus("l_discount")
    month = li.filter(
        (F.col("l_shipdate") >= F.lit("1997-06-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    joined = month.join(
        F.broadcast(part.select("p_partkey", "p_type")),
        month.l_partkey == F.col("p_partkey"),
    )
    promo = F.sum(
        F.when(F.col("p_type") == "PROMO", disc_price).otherwise(
            F.lit(0).cast("decimal(12,2)")
        )
    )
    total = F.sum(disc_price)
    return joined.agg(
        (F.lit(100.0) * promo.cast("double") / total.cast("double")).alias(
            "promo_revenue_pct"
        )
    )


PROMO_REVENUE_ORACLE = """
SELECT 100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
           THEN CAST(l.l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))
           ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
       / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
           * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))) AS DOUBLE)
       AS promo_revenue_pct
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-06-01'
  AND l.l_shipdate <  TIMESTAMP '1997-07-01'
"""


# --------------------------------------------------------------------------
# Q11 shape: parts worth more than a fraction of total (scalar subquery)
# --------------------------------------------------------------------------


@query()
def top_value_parts_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts whose lifetime discounted revenue exceeds 1.5x the mean.

    The per-part aggregate is computed once and reused for both sides
    of the comparison; the grand total (one row) is broadcast, so the
    second pass is a map-only filter over the aggregated (already
    small) per-part table — no re-scan of lineitem, no shuffle. The
    1.5x-mean threshold is scale-invariant: selectivity stays roughly
    constant as the part count grows with SF.

    Both the per-part value and the total stay DECIMAL until the final
    compare: decimal addition is exact and order-independent, so the
    threshold is bit-identical across engines and partitionings.
    """
    li = tables.table(spark, sf_dir, "lineitem")
    disc_price = _dec("l_extendedprice") * _one_minus("l_discount")
    per_part = li.groupBy("l_partkey").agg(F.sum(disc_price).alias("v"))
    total = per_part.agg(F.sum("v").alias("t"), F.count(F.lit(1)).alias("n"))
    threshold = F.col("t").cast("double") / F.col("n") * F.lit(1.5)
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("v").cast("double") > threshold)
        .select("l_partkey", F.col("v").cast("double").alias("part_value"))
    )


TOP_VALUE_PARTS_ORACLE = """
WITH pv AS (
    SELECT l_partkey,
           SUM(CAST(l_extendedprice AS DECIMAL(12,2))
               * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS v
    FROM lineitem GROUP BY l_partkey
)
SELECT l_partkey, CAST(v AS DOUBLE) AS part_value
FROM pv
WHERE CAST(v AS DOUBLE) >
      CAST((SELECT SUM(v) FROM pv) AS DOUBLE) / (SELECT COUNT(*) FROM pv) * 1.5
"""


# --------------------------------------------------------------------------
# Q17 shape: small-quantity revenue — MOVED. The correlated-average
# (decorrelated) shape lives in operators/trade.py
# ``small_qty_revenue_query`` (registered as ``small_qty_revenue``):
# exact cross-multiplied threshold, 3-column output. The earlier
# single-column Brand#23 variant that lived here was silently shadowed
# by the trade.py registration in round 8 and is deleted (round-9
# ADVICE: one owner per registered name).
# --------------------------------------------------------------------------


# --------------------------------------------------------------------------
# Q19 shape: disjunctive brand/size/quantity revenue
# --------------------------------------------------------------------------


@query()
def brand_disjunction_revenue_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue matching an OR of three brand/size/quantity conjunctions.

    All three disjuncts live in one join predicate: Catalyst extracts
    the common `p_size >= 1` conjunct and pushes per-table residuals
    (brand/size to the part scan, quantity bounds to lineitem) so each
    scan prunes before the join; the part side is broadcast.
    """
    li = tables.table(spark, sf_dir, "lineitem")
    part = tables.table(spark, sf_dir, "part")
    j = li.join(
        F.broadcast(part.select("p_partkey", "p_brand", "p_size")),
        li.l_partkey == F.col("p_partkey"),
    )

    def disjunct(brand: str, max_size: int, qlo: float, qhi: float) -> F.Column:
        return (
            (F.col("p_brand") == brand)
            & (F.col("p_size") >= 1)
            & (F.col("p_size") <= max_size)
            & (F.col("l_quantity") >= qlo)
            & (F.col("l_quantity") <= qhi)
        )

    disc_price = _dec("l_extendedprice") * _one_minus("l_discount")
    return (
        j.filter(
            disjunct("Brand#12", 10, 1, 11)
            | disjunct("Brand#23", 20, 10, 20)
            | disjunct("Brand#34", 35, 20, 30)
        )
        .agg(F.sum(disc_price).cast("double").alias("revenue"))
    )


BRAND_DISJUNCTION_REVENUE_ORACLE = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
       * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE)
       AS revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 20
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
       AND l.l_quantity BETWEEN 20 AND 30)
"""


# --------------------------------------------------------------------------
# Q22 shape: rich customers with no orders (anti join + scalar subquery)
# --------------------------------------------------------------------------


@query()
def idle_rich_customers_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment count/balance of above-average customers gone quiet
    (no orders since 1998 — every customer in this data has *some*
    order, so the plain NOT-EXISTS variant would be vacuously empty).

    The positive-balance average is one broadcast row; NOT EXISTS is a
    left_anti join on the order keys (filtered and projected to the
    single join column before shuffling). Output is a per-segment
    aggregate, so the result stays tiny at any scale.
    """
    cust = tables.table(spark, sf_dir, "customer")
    orders = tables.table(spark, sf_dir, "orders")
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp")
    ).select("o_custkey")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        (F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("a")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(_dec("c_acctbal")).cast("double").alias("totacctbal"),
        )
    )


IDLE_RICH_CUSTOMERS_ORACLE = """
SELECT c_mktsegment, COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
FROM customer c
WHERE c_acctbal > (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
        FROM customer WHERE c_acctbal > 0
      )
  AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '1998-01-01'
      )
GROUP BY c_mktsegment
"""


# --------------------------------------------------------------------------
# Q21 shape: EXISTS + NOT EXISTS over the same fact (latest strict shipper)
# --------------------------------------------------------------------------


@query()
def latest_shipper_counts_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per supplier: in how many multi-supplier orders was it the
    STRICT latest shipper (its last ship date later than every other
    supplier's in that order)?

    Q21's double correlation — EXISTS (another supplier in the order)
    AND NOT EXISTS (another supplier shipping later) — decorrelates to
    one per-(order, supplier) aggregate plus two window functions over
    the order: supplier count, and the max of OTHER suppliers' last
    ship dates via the max-vs-second-max trick (no self-join, no
    correlated re-scan). One shuffle on the order key; ties on the
    order-wide max produce no winner, keeping strictness exact on both
    engines."""
    li = tables.table(spark, sf_dir, "lineitem")
    supp = tables.table(spark, sf_dir, "supplier")
    from pyspark.sql import Window

    per_os = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("last_ship")
    )
    w = Window.partitionBy("l_orderkey")
    ranked = per_os.select(
        "l_orderkey",
        "l_suppkey",
        "last_ship",
        F.count(F.lit(1)).over(w).alias("n_supp"),
        F.max("last_ship").over(w).alias("mx"),
        # Second-highest last_ship in the order: drops exactly one copy
        # of the max, so a supplier AT the max compares against the
        # best of the others.
        # try_: single-supplier orders have a 1-element array (ANSI
        # element_at would throw); they're dropped by n_supp > 1.
        F.try_element_at(
            F.array_sort(F.collect_list("last_ship").over(w)), F.lit(-2)
        ).alias("mx2"),
    )
    winners = ranked.filter(
        (F.col("n_supp") > 1)
        & (F.col("last_ship") == F.col("mx"))
        & (F.col("last_ship") > F.col("mx2"))
    )
    return (
        winners.join(
            F.broadcast(supp.select("s_suppkey", "s_name")),
            winners.l_suppkey == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


LATEST_SHIPPER_COUNTS_ORACLE = """
WITH per_os AS (
  SELECT l_orderkey, l_suppkey, MAX(l_shipdate) AS last_ship
  FROM lineitem GROUP BY 1, 2
)
SELECT s.s_name, COUNT(*) AS numwait
FROM per_os a
JOIN supplier s ON s.s_suppkey = a.l_suppkey
WHERE EXISTS (
        SELECT 1 FROM per_os b
        WHERE b.l_orderkey = a.l_orderkey AND b.l_suppkey <> a.l_suppkey
      )
  AND NOT EXISTS (
        SELECT 1 FROM per_os c
        WHERE c.l_orderkey = a.l_orderkey AND c.l_suppkey <> a.l_suppkey
          AND c.last_ship >= a.last_ship
      )
GROUP BY s.s_name
"""


# --------------------------------------------------------------------------
# Q15 shape: aggregate view + scalar max (top revenue supplier)
# --------------------------------------------------------------------------


@query()
def top_revenue_supplier_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers whose 1997-H1 revenue equals the global maximum.

    The Q15 view is the per-supplier revenue aggregate; the scalar
    subquery is a one-row broadcast joined back over it. The view is
    pinned so lineitem is scanned ONCE (the max consumer and the
    filter consumer otherwise each re-run the whole aggregate).
    Revenue stays DECIMAL through the equality comparison (exact on
    both engines — no float-equality hazard) and becomes DOUBLE only
    in the output."""
    from ..pinning import pin as _pin

    li = tables.table(spark, sf_dir, "lineitem")
    supp = tables.table(spark, sf_dir, "supplier")
    rev = _pin(
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(_dec("l_extendedprice") * _one_minus("l_discount")).alias(
                "rev"
            )
        )
    )
    mx = rev.agg(F.max("rev").alias("mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("rev") == F.col("mx"))
        .join(
            F.broadcast(supp.select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select(
            "s_name",
            F.col("rev").cast("double").alias("total_revenue"),
        )
    )


TOP_REVENUE_SUPPLIER_ORACLE = """
WITH revenue AS (
  SELECT l_suppkey,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             * (1.00 - CAST(l_discount AS DECIMAL(12,2)))) AS rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1997-07-01'
  GROUP BY l_suppkey
)
SELECT s.s_name, CAST(r.rev AS DOUBLE) AS total_revenue
FROM revenue r
JOIN supplier s ON s.s_suppkey = r.l_suppkey
WHERE r.rev = (SELECT MAX(rev) FROM revenue)
"""


# --------------------------------------------------------------------------
# Q20 shape: correlated quantity threshold (bulk part suppliers)
# --------------------------------------------------------------------------


@query()
def bulk_part_suppliers_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct suppliers who shipped MORE THAN A FIFTH of some part's
    total shipped quantity.

    Q20's correlated scalar (per-part total) decorrelates into a
    per-(part, supplier) aggregate equi-joined to the per-part
    aggregate, and the comparison stays in exact integer/decimal
    arithmetic (5*qty(s,p) > qty(p)) so no division enters the plan.
    The per-part total RE-AGGREGATES the pair aggregate rather than
    scanning lineitem a second time (decimal sums are associative, so
    the result is bit-identical): lineitem is read and pair-shuffled
    once. The pair aggregate is PINNED rather than trusting exchange
    reuse — it feeds both the per-part rollup and the join-back, and
    ReusedExchange does not reliably fire (the consumers shuffle on
    different keys), so without the pin lineitem is scanned twice — at
    100 TB the second fact scan is the cost that matters."""
    from ..pinning import pin as _pin

    li = tables.table(spark, sf_dir, "lineitem")
    supp = tables.table(spark, sf_dir, "supplier")
    per_ps = _pin(
        li.groupBy("l_partkey", "l_suppkey").agg(
            F.sum(_dec("l_quantity")).alias("sq")
        )
    )
    per_p = per_ps.groupBy("l_partkey").agg(F.sum("sq").alias("pq"))
    bulk = (
        per_ps.join(per_p, "l_partkey")
        .filter(F.col("sq") * 5 > F.col("pq"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        bulk.join(
            F.broadcast(supp.select("s_suppkey", "s_name", "s_nationkey")),
            bulk.l_suppkey == F.col("s_suppkey"),
        )
        .select("s_name", "s_nationkey")
    )


BULK_PART_SUPPLIERS_ORACLE = """
WITH per_ps AS (
  SELECT l_partkey, l_suppkey,
         SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sq
  FROM lineitem GROUP BY 1, 2
),
per_p AS (
  SELECT l_partkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS pq
  FROM lineitem GROUP BY 1
)
SELECT DISTINCT s.s_name, s.s_nationkey
FROM per_ps a
JOIN per_p p ON p.l_partkey = a.l_partkey
JOIN supplier s ON s.s_suppkey = a.l_suppkey
WHERE a.sq * 5 > p.pq
"""

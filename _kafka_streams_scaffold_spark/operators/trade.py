"""Cross-nation trade analytics: the remaining classic multi-way-join
query shapes (TPC-H Q4/Q7/Q8/Q9/Q10/Q16/Q18 analogs, adapted to the
driver's star schema — no partsupp/commitdate/shipmode columns exist,
so those inputs are substituted with documented proxies).

The reference scaffold has no joins at all (SURVEY.md §2.8), so this
module is pure capability extension. What each shape adds over the
shapes already in ``analytics.py``/``subqueries.py``:

- **volume_shipping (Q7)**: the same dimension (nation) joined twice
  under different roles (supplier side and customer side) with a
  disjunctive cross-nation predicate — dimension pruning happens
  BEFORE the big fact-fact join.
- **market_share (Q8)**: a 6-table join tree where the numerator is a
  conditional slice of the denominator, computed in one pass with a
  CASE aggregate instead of two scans.
- **product_profit (Q9)**: LIKE-filtered dimension pruning a 5-way
  join; profit arithmetic stays in DECIMAL end-to-end.
- **late_order_priority (Q4)**: EXISTS with a non-equi residual
  (shipped >90 days after order date) as a semi join — the equi
  conjunct carries the shuffle, the residual filters in place.
- **returned_items_top_customers (Q10)**: big-fact → dimension
  enrichment → global top-k by an exact DECIMAL measure
  (TakeOrderedAndProject, never a full sort).
- **supplier_part_variety (Q16)**: multi-column DISTINCT aggregate
  with an anti-join exclusion list.
- **large_volume_customers (Q18)**: IN over a grouped-HAVING
  subquery, decorrelated to aggregate → filter → join back.

100 TB posture: only provably tiny sides are broadcast (nation,
region, the filtered part/supplier dims, the 6-row exclusion list);
customer and orders are never broadcast and join shuffle-side where
AQE picks the strategy. Every aggregate is partial-aggregatable;
money math follows the DECIMAL-until-the-end rule (money.py).

Cross-engine notes: Spark ``year()`` yields INT32 while DuckDB
``EXTRACT(year ...)`` yields BIGINT — the oracle casts to INTEGER.
Top-k ordering ties are broken on the unique customer key so both
engines select the identical row set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import tables
from ..pinning import pin as _pin
from ..registry import query
from .money import dec as _dec
from .money import one_minus as _one_minus

# The two trading partners for volume_shipping and the market-share
# target nation / region / part segment. NATION_* names are the
# driver data's nation spellings.
_NATION_A = "NATION_1"
_NATION_B = "NATION_2"
_SHARE_NATION = "NATION_8"
_SHARE_REGION = "EUROPE"
_SHARE_TYPE = "ECONOMY"
_PROFIT_NAME_PAT = "%widget%"


def _disc_price() -> F.Column:
    return _dec("l_extendedprice") * _one_minus("l_discount")


# --------------------------------------------------------------------------
# Q7 shape: volume shipping between two nations
# --------------------------------------------------------------------------


@query()
def volume_shipping_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yearly trade volume between NATION_1 and NATION_2, both ways.

    Both nation roles are resolved BEFORE the lineitem-orders join:
    supplier and customer are each inner-joined to the 2-row filtered
    nation dim (broadcast), so the fact-fact join only moves rows
    whose supplier already belongs to one of the two nations — at
    scale that is a ~2/25 cut of lineitem before the big shuffle.
    The (A,B)|(B,A) disjunction runs after both roles are attached.
    """
    li = tables.table(spark, sf_dir, "lineitem")
    orders = tables.table(spark, sf_dir, "orders")
    cust = tables.table(spark, sf_dir, "customer")
    supp = tables.table(spark, sf_dir, "supplier")
    nation = tables.table(spark, sf_dir, "nation")

    two = nation.filter(F.col("n_name").isin(_NATION_A, _NATION_B)).select(
        "n_nationkey", "n_name"
    )
    supp2 = supp.join(
        F.broadcast(two), supp.s_nationkey == two.n_nationkey
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    cust2 = cust.join(
        F.broadcast(two), cust.c_nationkey == two.n_nationkey
    ).select("c_custkey", F.col("n_name").alias("cust_nation"))

    li2 = li.join(F.broadcast(supp2), li.l_suppkey == supp2.s_suppkey)
    enriched = (
        li2.join(orders.select("o_orderkey", "o_custkey"),
                 li2.l_orderkey == F.col("o_orderkey"))
        .join(cust2, F.col("o_custkey") == cust2.c_custkey)
        .filter(
            ((F.col("supp_nation") == _NATION_A) & (F.col("cust_nation") == _NATION_B))
            | ((F.col("supp_nation") == _NATION_B) & (F.col("cust_nation") == _NATION_A))
        )
    )
    return (
        enriched.groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(F.sum(_disc_price()).cast("double").alias("revenue"))
    )


VOLUME_SHIPPING_ORACLE = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(EXTRACT(year FROM l.l_shipdate) AS INTEGER) AS l_year,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
            * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2))))
            AS DOUBLE) AS revenue
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
WHERE (n1.n_name = '{_NATION_A}' AND n2.n_name = '{_NATION_B}')
   OR (n1.n_name = '{_NATION_B}' AND n2.n_name = '{_NATION_A}')
GROUP BY 1, 2, 3
"""


# --------------------------------------------------------------------------
# Q8 shape: national market share within a region/segment
# --------------------------------------------------------------------------


@query()
def market_share_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATION_8's share of EUROPE's ECONOMY-part revenue by year.

    Numerator and denominator come from ONE pass: the CASE aggregate
    slices the target nation's revenue out of the same filtered join
    tree. Part (type filter) and the EUROPE customer-nation set prune
    the facts before the lineitem-orders shuffle; the supplier-side
    nation lookup (for the CASE) is a broadcast of the full 25-row
    nation dim. Share is a ratio of two exact decimal sums, divided
    in double at the end.
    """
    li = tables.table(spark, sf_dir, "lineitem")
    orders = tables.table(spark, sf_dir, "orders")
    cust = tables.table(spark, sf_dir, "customer")
    supp = tables.table(spark, sf_dir, "supplier")
    nation = tables.table(spark, sf_dir, "nation")
    region = tables.table(spark, sf_dir, "region")
    part = tables.table(spark, sf_dir, "part")

    epart = part.filter(F.col("p_type") == _SHARE_TYPE).select("p_partkey")
    eur_nations = (
        nation.join(
            F.broadcast(region.filter(F.col("r_name") == _SHARE_REGION)),
            nation.n_regionkey == F.col("r_regionkey"),
        ).select("n_nationkey")
    )
    eur_cust = cust.join(
        F.broadcast(eur_nations), cust.c_nationkey == F.col("n_nationkey")
    ).select("c_custkey")
    supp_nat = supp.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        supp.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))

    window = orders.filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")

    joined = (
        li.join(F.broadcast(epart), li.l_partkey == F.col("p_partkey"))
        .join(window, li.l_orderkey == F.col("o_orderkey"))
        .join(eur_cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp_nat), li.l_suppkey == F.col("s_suppkey"))
    )
    zero = F.lit(0).cast("decimal(12,2)")
    return (
        joined.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.sum(
                    F.when(F.col("supp_nation") == _SHARE_NATION, _disc_price())
                    .otherwise(zero)
                ).cast("double")
                / F.sum(_disc_price()).cast("double")
            ).alias("mkt_share")
        )
    )


MARKET_SHARE_ORACLE = f"""
SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS o_year,
       CAST(SUM(CASE WHEN n2.n_name = '{_SHARE_NATION}'
                THEN CAST(l.l_extendedprice AS DECIMAL(12,2))
                     * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))
                ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
       / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
              * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2))))
              AS DOUBLE) AS mkt_share
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
WHERE p.p_type = '{_SHARE_TYPE}'
  AND r.r_name = '{_SHARE_REGION}'
  AND o.o_orderdate >= TIMESTAMP '1995-01-01'
  AND o.o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY 1
"""


# --------------------------------------------------------------------------
# Q9 shape: product-line profit by nation and year
# --------------------------------------------------------------------------


@query()
def product_profit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per supplier-nation, per year profit on widget parts.

    The driver schema has no partsupp/ps_supplycost, so unit cost is
    proxied as 50% of p_retailprice (documented, applied identically
    in the oracle). Profit stays DECIMAL through the aggregate:
    disc_revenue - qty * cost. The LIKE filter prunes part first and
    the filtered dim is broadcast, so lineitem is cut before its only
    shuffle (the group-by).
    """
    li = tables.table(spark, sf_dir, "lineitem")
    supp = tables.table(spark, sf_dir, "supplier")
    nation = tables.table(spark, sf_dir, "nation")
    part = tables.table(spark, sf_dir, "part")

    widgets = part.filter(F.col("p_name").like(_PROFIT_NAME_PAT)).select(
        "p_partkey", "p_retailprice"
    )
    supp_nat = supp.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        supp.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", F.col("n_name").alias("nation"))

    cost = _dec("l_quantity") * (
        _dec("p_retailprice") * F.lit(0.5).cast("decimal(3,2)")
    )
    profit = (_disc_price() - cost).cast("decimal(18,6)")
    return (
        li.join(F.broadcast(widgets), li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(supp_nat), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("nation", F.year("l_shipdate").alias("o_year"))
        .agg(F.sum(profit).cast("double").alias("sum_profit"))
    )


PRODUCT_PROFIT_ORACLE = f"""
SELECT n.n_name AS nation,
       CAST(EXTRACT(year FROM l.l_shipdate) AS INTEGER) AS o_year,
       CAST(SUM(CAST(
            CAST(l.l_extendedprice AS DECIMAL(12,2))
            * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))
            - CAST(l.l_quantity AS DECIMAL(12,2))
              * (CAST(p.p_retailprice AS DECIMAL(12,2)) * CAST(0.5 AS DECIMAL(3,2)))
            AS DECIMAL(18,6))) AS DOUBLE) AS sum_profit
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE p.p_name LIKE '{_PROFIT_NAME_PAT}'
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Q4 shape: late-shipping orders per priority (EXISTS semi join)
# --------------------------------------------------------------------------


@query()
def late_order_priority_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many orders per priority had SOME item ship >90 days after
    the order date.

    EXISTS becomes a left-semi join: the equi conjunct (order key)
    carries the shuffle; the non-equi residual (shipdate vs order
    date + 90) evaluates inside the join without a second pass.
    Lineitem is projected to its two needed columns before shuffling.
    """
    li = tables.table(spark, sf_dir, "lineitem")
    orders = tables.table(spark, sf_dir, "orders")
    late = li.select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            late,
            (orders.o_orderkey == late.l_orderkey)
            & (late.l_shipdate > F.date_add(orders.o_orderdate, 90)),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


LATE_ORDER_PRIORITY_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
)
GROUP BY o_orderpriority
"""


# --------------------------------------------------------------------------
# Q10 shape: returned-item revenue, top customers
# --------------------------------------------------------------------------


@query()
def returned_items_top_customers_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top 20 customers by revenue lost to returns in 1996-H1.

    The heavy side (return-flagged lineitems x order window) shrinks
    to a per-customer aggregate BEFORE customer/nation enrichment, so
    the dimension join input is |active customers|, not |lineitem|.
    Ordering key is the exact DECIMAL revenue with the unique customer
    key as tie-break — both engines pick the identical 20 rows;
    TakeOrderedAndProject keeps it a streaming top-k, never a global
    sort.
    """
    li = tables.table(spark, sf_dir, "lineitem")
    orders = tables.table(spark, sf_dir, "orders")
    cust = tables.table(spark, sf_dir, "customer")
    nation = tables.table(spark, sf_dir, "nation")

    window = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    returned = li.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    per_cust = (
        returned.join(window, returned.l_orderkey == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(F.sum(_disc_price()).alias("rev"))
    )
    return (
        per_cust.join(cust, per_cust.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            cust.c_nationkey == F.col("n_nationkey"),
        )
        .orderBy(F.col("rev").desc(), F.col("c_custkey"))
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            F.col("n_name").alias("nation"),
            F.col("rev").cast("double").alias("revenue"),
        )
    )


RETURNED_ITEMS_TOP_CUSTOMERS_ORACLE = """
WITH per_cust AS (
  SELECT o.o_custkey,
         SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
             * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))) AS rev
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE l.l_returnflag = 'R'
    AND o.o_orderdate >= TIMESTAMP '1996-01-01'
    AND o.o_orderdate <  TIMESTAMP '1996-07-01'
  GROUP BY o.o_custkey
)
SELECT c.c_custkey, c.c_name, n.n_name AS nation,
       CAST(p.rev AS DOUBLE) AS revenue
FROM per_cust p
JOIN customer c ON c.c_custkey = p.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
ORDER BY p.rev DESC, c.c_custkey
LIMIT 20
"""


# --------------------------------------------------------------------------
# Q16 shape: supplier variety per part segment (distinct + anti join)
# --------------------------------------------------------------------------


@query()
def supplier_part_variety_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct supplier count per (brand, type, size), excluding one
    brand and suppliers under financial review (negative balance —
    the Q16 complaints-list proxy).

    The exclusion list is a tiny anti-join side (broadcast); the
    distinct runs on the already-pruned (brand,type,size,supplier)
    projection, so the only wide shuffle carries 4 small columns.
    """
    li = tables.table(spark, sf_dir, "lineitem")
    part = tables.table(spark, sf_dir, "part")
    supp = tables.table(spark, sf_dir, "supplier")

    keep_parts = part.filter(F.col("p_brand") != "Brand#21").select(
        "p_partkey", "p_brand", "p_type", "p_size"
    )
    flagged = supp.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    pairs = (
        li.join(F.broadcast(keep_parts), li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(flagged), li.l_suppkey == F.col("s_suppkey"), "left_anti")
        .select("p_brand", "p_type", "p_size", "l_suppkey")
        .distinct()
    )
    return pairs.groupBy("p_brand", "p_type", "p_size").agg(
        F.count(F.lit(1)).alias("supplier_cnt")
    )


SUPPLIER_PART_VARIETY_ORACLE = """
SELECT p.p_brand, p.p_type, p.p_size,
       COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#21'
  AND l.l_suppkey NOT IN (
      SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
  )
GROUP BY 1, 2, 3
"""


# --------------------------------------------------------------------------
# Q18 shape: large-volume customers (IN over grouped HAVING)
# --------------------------------------------------------------------------

_BULK_QTY = 300


@query()
def large_volume_customers_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders whose total quantity exceeds 300, with their customers.

    The IN-over-HAVING subquery decorrelates to: aggregate lineitem
    per order, filter, then join orders and customer to the (small)
    surviving key set. Quantity totals stay DECIMAL (exact) through
    filter and output. At scale the per-order aggregate is the only
    lineitem shuffle; the surviving set (top fraction of orders) is
    itself joinable without broadcast risk because Catalyst/AQE sees
    its true (post-filter) size.
    """
    li = tables.table(spark, sf_dir, "lineitem")
    orders = tables.table(spark, sf_dir, "orders")
    cust = tables.table(spark, sf_dir, "customer")

    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("total_qty"))
        .filter(F.col("total_qty") > _BULK_QTY)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.col("o_totalprice").alias("o_totalprice"),
            F.col("total_qty").cast("double").alias("total_qty"),
        )
    )


LARGE_VOLUME_CUSTOMERS_ORACLE = f"""
SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice,
       CAST(t.total_qty AS DOUBLE) AS total_qty
FROM (
  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > {_BULK_QTY}
) t
JOIN orders o ON o.o_orderkey = t.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
"""


# --------------------------------------------------------------------------
# Q2 shape: minimum-cost supplier (correlated MIN, decorrelated)
# --------------------------------------------------------------------------

_MINCOST_REGION = "EUROPE"
_MINCOST_TYPE = "STANDARD"
_MINCOST_MAX_SIZE = 15
_MINCOST_TOPK = 100


@query()
def min_cost_supplier_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For STANDARD parts under size 15, the EUROPE supplier(s) whose
    best observed sale price equals the part's regional minimum.

    The classic Q2 correlated ``MIN`` subquery, decorrelated into two
    aggregates over ONE eligible-offers table: per-(part, supplier)
    best price, then per-part regional minimum, joined back on
    (partkey, price). No partsupp table exists in the driver schema
    (SURVEY.md §2.8), so "cost" is the minimum observed
    ``l_extendedprice`` in DECIMAL — exact, so the join-back equality
    is bit-stable across engines.

    100 TB posture: region→nation→supplier and the filtered part dim
    prune lineitem BEFORE its only shuffle (the pair aggregate); the
    per-part min is a second partial-aggregatable pass over the much
    smaller offers table; final output is TakeOrderedAndProject with
    a total-order tie-break (acctbal DESC, partkey, suppkey) so both
    engines pick an identical top-100.
    """
    li = tables.table(spark, sf_dir, "lineitem")
    supp = tables.table(spark, sf_dir, "supplier")
    nation = tables.table(spark, sf_dir, "nation")
    region = tables.table(spark, sf_dir, "region")
    part = tables.table(spark, sf_dir, "part")

    eur_nations = nation.join(
        F.broadcast(region.filter(F.col("r_name") == _MINCOST_REGION)),
        nation.n_regionkey == F.col("r_regionkey"),
    ).select("n_nationkey", "n_name")
    eur_supp = supp.join(
        F.broadcast(eur_nations), supp.s_nationkey == F.col("n_nationkey")
    ).select("s_suppkey", "s_name", "s_acctbal", "n_name")
    epart = part.filter(
        (F.col("p_type") == _MINCOST_TYPE) & (F.col("p_size") < _MINCOST_MAX_SIZE)
    ).select("p_partkey")

    # Pinned: `offers` feeds both the per-part min aggregate and the
    # join-back; without the pin the whole offers subtree (lineitem
    # scan + dim broadcasts + pair aggregate) is duplicated — two full
    # fact scans with no ReusedExchange. Pinned, lineitem is scanned
    # once and the second aggregate reads |eligible pairs| cached rows.
    offers = _pin(
        li.join(F.broadcast(epart), li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(eur_supp.select("s_suppkey")), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(_dec("l_extendedprice")).alias("cost"))
    )
    best = offers.groupBy(F.col("l_partkey").alias("bp")).agg(
        F.min("cost").alias("min_cost")
    )
    winners = offers.join(
        best,
        (offers.l_partkey == best.bp) & (offers.cost == best.min_cost),
    )
    return (
        winners.join(F.broadcast(eur_supp), winners.l_suppkey == eur_supp.s_suppkey)
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            F.col("l_partkey").alias("p_partkey"),
            F.col("l_suppkey").alias("s_suppkey"),
            F.col("cost").cast("double").alias("cost"),
        )
        .orderBy(F.col("s_acctbal").desc(), "p_partkey", "s_suppkey")
        .limit(_MINCOST_TOPK)
    )


MIN_COST_SUPPLIER_ORACLE = f"""
WITH eligible AS (
  SELECT l.l_partkey, l.l_suppkey,
         MIN(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS cost
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey AND r.r_name = '{_MINCOST_REGION}'
  JOIN part p ON p.p_partkey = l.l_partkey
       AND p.p_type = '{_MINCOST_TYPE}' AND p.p_size < {_MINCOST_MAX_SIZE}
  GROUP BY 1, 2
), best AS (
  SELECT l_partkey, MIN(cost) AS min_cost FROM eligible GROUP BY 1
)
SELECT s.s_acctbal, s.s_name, n.n_name,
       e.l_partkey AS p_partkey, e.l_suppkey AS s_suppkey,
       CAST(e.cost AS DOUBLE) AS cost
FROM eligible e
JOIN best b ON b.l_partkey = e.l_partkey AND e.cost = b.min_cost
JOIN supplier s ON s.s_suppkey = e.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
ORDER BY s.s_acctbal DESC, e.l_partkey, e.l_suppkey
LIMIT {_MINCOST_TOPK}
"""


# --------------------------------------------------------------------------
# Q11 shape: important part values (scalar-subquery threshold)
# --------------------------------------------------------------------------

_IMPORTANT_NATION = "NATION_8"
# v > total/500 == v*500 > total: integer DECIMAL multiply keeps the
# threshold compare exact on both engines (no 0.002 float literal).
_IMPORTANT_DENOM = 500


@query()
def important_part_values_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts whose NATION_8-supplied sale value exceeds 1/500 of that
    nation's total — the Q11 group-HAVING-over-global-scalar shape.

    Decorrelated: one per-part DECIMAL aggregate, one 1-row global
    total (a second aggregate over the same tiny table, broadcast via
    crossJoin), filter by exact integer-multiplied compare. No
    partsupp in the driver schema; value is summed sale price.

    100 TB posture: the nation filter prunes lineitem ~1/25 before
    its only shuffle; the global total is a scalar broadcast, never a
    second lineitem scan (Spark reuses the per-part aggregate as the
    common subplan input).
    """
    li = tables.table(spark, sf_dir, "lineitem")
    supp = tables.table(spark, sf_dir, "supplier")
    nation = tables.table(spark, sf_dir, "nation")

    nsupp = supp.join(
        F.broadcast(nation.filter(F.col("n_name") == _IMPORTANT_NATION)),
        supp.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey")
    per_part = (
        li.join(F.broadcast(nsupp), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(_dec("l_extendedprice")).alias("part_value"))
    )
    total = per_part.agg(F.sum("part_value").alias("total_value"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("part_value") * _IMPORTANT_DENOM > F.col("total_value"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("part_value").cast("double").alias("part_value"),
        )
    )


IMPORTANT_PART_VALUES_ORACLE = f"""
WITH pv AS (
  SELECT l.l_partkey, SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS part_value
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
       AND n.n_name = '{_IMPORTANT_NATION}'
  GROUP BY 1
)
SELECT l_partkey AS p_partkey, CAST(part_value AS DOUBLE) AS part_value
FROM pv
WHERE part_value * {_IMPORTANT_DENOM} > (SELECT SUM(part_value) FROM pv)
"""


# --------------------------------------------------------------------------
# Q12 shape: shipping-speed priority counts (CASE-count pivot)
# --------------------------------------------------------------------------

_SPEED_SLOW_DAYS = 60
_SPEED_YEAR_LO = "1995-01-01"
_SPEED_YEAR_HI = "1996-01-01"
_HIGH_PRIORITIES = ("1-URGENT", "2-HIGH")


@query()
def shipping_speed_priority_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Urgent-vs-other order counts per shipping-speed bucket — the
    Q12 shape. No shipmode column exists (SURVEY.md §2.8), so the
    bucket is the ship delay: >= 60 days after order date is SLOW.

    The non-equi residual (the datediff bucket) is computed AFTER the
    equi join carries the shuffle; both engines bucket on whole-DATE
    day differences so the boundary is identical. The CASE aggregate
    pivots priority into two counts in a single pass.

    100 TB posture: the shipdate year filter is pushed to the
    lineitem scan; orders projects only (key, date, priority); the
    2-row result comes off a partial-aggregatable CASE count.
    """
    li = tables.table(spark, sf_dir, "lineitem")
    orders = tables.table(spark, sf_dir, "orders")

    li_w = li.filter(
        (F.col("l_shipdate") >= F.lit(_SPEED_YEAR_LO).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(_SPEED_YEAR_HI).cast("timestamp"))
    ).select("l_orderkey", "l_shipdate")
    joined = li_w.join(
        orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
        li_w.l_orderkey == F.col("o_orderkey"),
    )
    delay = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
    is_high = F.col("o_orderpriority").isin(*_HIGH_PRIORITIES)
    return (
        joined.withColumn(
            "ship_speed",
            F.when(delay >= _SPEED_SLOW_DAYS, F.lit("SLOW")).otherwise(F.lit("FAST")),
        )
        .groupBy("ship_speed")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1)).cast("bigint").alias("low_line_count"),
        )
    )


SHIPPING_SPEED_PRIORITY_ORACLE = f"""
SELECT CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                            CAST(l.l_shipdate AS DATE)) >= {_SPEED_SLOW_DAYS}
            THEN 'SLOW' ELSE 'FAST' END AS ship_speed,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= TIMESTAMP '{_SPEED_YEAR_LO}'
  AND l.l_shipdate < TIMESTAMP '{_SPEED_YEAR_HI}'
GROUP BY 1
"""


# --------------------------------------------------------------------------
# Discount elasticity: OLS of quantity on discount percentage
# --------------------------------------------------------------------------


@query()
def discount_elasticity_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(l_returnflag, n, mean_qty, slope, intercept, r2): per return
    flag, the least-squares fit of line-item QUANTITY on the discount
    PERCENTAGE (exact integer 0..10 from floor(l_discount * 100)) —
    the demand-response readout behind TPC-H's own "what did
    discounts cost us" question (pricing_summary/forecast report the
    revenue side; this fits the quantity side). slope is units of
    quantity per discount point; a flat slope with nonzero discount
    spend is money burned.

    Exactness: x = floor(100 * discount) and y = quantity cast to
    exact BIGINTs; all five moments are exact BIGINT sums (x <= 10,
    y <= ~55, so even 1e12 rows stay far under 2^63 for sxy and sxx;
    syy uses DECIMAL(38,0) headroom anyway); slope/intercept/r2 are
    the zipf_fit closed forms on double casts of exact sums.

    Scale: ONE scan, one 3-key partial-aggregatable rollup; the
    regression algebra runs on a 3-row frame."""
    li = tables.table(spark, sf_dir, "lineitem")
    pts = li.select(
        "l_returnflag",
        F.floor(F.col("l_discount") * 100).cast("bigint").alias("x"),
        F.floor(F.col("l_quantity")).cast("bigint").alias("y"),
    )
    sums = pts.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.expr("cast(y as decimal(19,0)) * y"))
        .cast("decimal(38,0)")
        .alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    cov = n * sxy - sx * sy
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    return sums.select(
        "l_returnflag",
        "n",
        (sy / n).alias("mean_qty"),
        F.when(vx > 0, cov / vx).alias("slope"),
        F.when(vx > 0, (sy - (cov / vx) * sx) / n).alias("intercept"),
        F.when((vx > 0) & (vy > 0), cov * cov / (vx * vy)).alias("r2"),
    )


DISCOUNT_ELASTICITY_ORACLE = """
WITH pts AS (
  SELECT l_returnflag,
         CAST(floor(l_discount * 100) AS BIGINT) AS x,
         CAST(floor(l_quantity) AS BIGINT) AS y
  FROM lineitem
),
sums AS (
  SELECT l_returnflag,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(CAST(y AS DECIMAL(19,0)) * y) AS DECIMAL(38,0)) AS syy,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM pts GROUP BY 1
)
SELECT l_returnflag, n,
       CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS mean_qty,
       CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
            THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END AS slope,
       CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
            THEN (CAST(sy AS DOUBLE)
                  - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                    * CAST(sx AS DOUBLE))
                 / CAST(n AS DOUBLE) END AS intercept,
       CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
             AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
            THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) END AS r2
FROM sums
"""


# --------------------------------------------------------------------------
# Q13 analog: customer order-count distribution
# --------------------------------------------------------------------------


@query()
def cust_order_dist_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(c_count, custdist): how many customers placed exactly k
    non-urgent orders — TPC-H Q13's shape (LEFT OUTER join so
    zero-order customers appear at c_count = 0, then a histogram of
    the per-customer counts). The filter plays Q13's comment-pattern
    role with the columns this schema has (o_orderpriority <>
    '1-URGENT'). The classic double-aggregation over an outer join —
    the shape that catches engines whose outer joins drop
    unmatched-side rows under aggregation pushdown.

    Scale: the join keys on custkey (id-width, shuffle or broadcast
    per stats); both aggregations are partial-aggregatable; output is
    |distinct counts| rows."""
    cust = tables.table(spark, sf_dir, "customer").select("c_custkey")
    orders = tables.table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("bigint").alias("custdist")
    )


CUST_ORDER_DIST_ORACLE = """
WITH per_cust AS (
  SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
  FROM customer c
  LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                    AND o.o_orderpriority <> '1-URGENT'
  GROUP BY 1
)
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM per_cust GROUP BY 1
"""


# --------------------------------------------------------------------------
# Q14 analog: promotion revenue share for one ship month
# --------------------------------------------------------------------------

_PROMO_LO = "1995-09-01"
_PROMO_HI = "1995-10-01"


@query()
def promo_revenue_share_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(promo_revenue, total_revenue, promo_share_pct): TPC-H Q14 —
    the share of one ship-month's discounted revenue carried by
    PROMO-type parts. The conditional-aggregation-over-a-join shape:
    one equi-join to the part dim, numerator and denominator in a
    single pass (no second scan, no self-join).

    Exactness: both sums are exact DECIMAL(12,2)-lattice products
    (the pricing_summary money rule) cast to double only at the
    output boundary; the share is one final division.

    Scale: the ship-month filter is pushed to the lineitem scan
    (PushedFilters); the part side joins id-width (broadcast under
    threshold)."""
    li = tables.table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(_PROMO_LO).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(_PROMO_HI).cast("timestamp"))
    )
    part = tables.table(spark, sf_dir, "part").select(
        "p_partkey", "p_type"
    )
    rev = _dec("l_extendedprice") * _one_minus("l_discount")
    joined = li.join(part, li["l_partkey"] == part["p_partkey"])
    agg = joined.agg(
        F.sum(
            F.when(F.col("p_type") == "PROMO", rev).otherwise(
                F.lit(0).cast("decimal(12,2)")
            )
        ).alias("promo_dec"),
        F.sum(rev).alias("total_dec"),
    )
    return agg.select(
        F.col("promo_dec").cast("double").alias("promo_revenue"),
        F.col("total_dec").cast("double").alias("total_revenue"),
        (
            F.lit(100.0)
            * F.col("promo_dec").cast("double")
            / F.col("total_dec").cast("double")
        ).alias("promo_share_pct"),
    )


PROMO_REVENUE_SHARE_ORACLE = f"""
WITH joined AS (
  SELECT p.p_type,
         CAST(l.l_extendedprice AS DECIMAL(12,2))
           * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))
           AS rev
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE l.l_shipdate >= TIMESTAMP '{_PROMO_LO}'
    AND l.l_shipdate < TIMESTAMP '{_PROMO_HI}'
)
SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev
                     ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
         AS promo_revenue,
       CAST(sum(rev) AS DOUBLE) AS total_revenue,
       100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev
                             ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
         / CAST(sum(rev) AS DOUBLE) AS promo_share_pct
FROM joined
"""


# --------------------------------------------------------------------------
# Q17 analog: small-quantity-order revenue for one brand
# --------------------------------------------------------------------------

_Q17_BRAND = "Brand#12"


@query()
def small_qty_revenue_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_lineitems, total_extprice, avg_yearly): TPC-H Q17 — the
    average yearly revenue lost if small-quantity orders (below 20%
    of the part's own average order quantity) for one brand moved to
    bulk. The correlated-aggregate-subquery shape, decorrelated the
    Spark way: the per-part average is its OWN aggregate joined back
    (broadcast — it is |parts-in-brand| rows), never a per-row
    subquery.

    Exactness: the 0.2 * avg threshold compares exact DECIMAL
    quantities cross-multiplied (5 * qty * n_li < sum_qty, pure
    integer-lattice decimal arithmetic — no division, so no rounding
    at the predicate boundary); sums are DECIMAL cast to double at
    the boundary; avg_yearly is one division by 7.0 (Q17's          
    constant).

    Scale: brand filter reaches both scans; the threshold join is
    id-width on partkey with the aggregate side broadcast."""
    part = tables.table(spark, sf_dir, "part").filter(
        F.col("p_brand") == _Q17_BRAND
    ).select("p_partkey")
    li = tables.table(spark, sf_dir, "lineitem").join(
        F.broadcast(part),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    per_part = li.groupBy("l_partkey").agg(
        F.sum(_dec("l_quantity")).alias("sum_qty"),
        F.count(F.lit(1)).cast("bigint").alias("n_li"),
    ).select(
        F.col("l_partkey").alias("t_partkey"), "sum_qty", "n_li"
    )
    small = li.join(
        F.broadcast(per_part),
        F.col("l_partkey") == F.col("t_partkey"),
    ).filter(
        # qty < 0.2 * (sum_qty / n_li)  <=>  5 * qty * n_li < sum_qty
        F.lit(5) * _dec("l_quantity") * F.col("n_li") < F.col("sum_qty")
    )
    return small.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lineitems"),
        F.sum(_dec("l_extendedprice")).cast("double").alias(
            "total_extprice"
        ),
        (
            F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0)
        ).alias("avg_yearly"),
    )


SMALL_QTY_REVENUE_ORACLE = f"""
WITH brand_li AS (
  SELECT l.l_partkey,
         CAST(l.l_quantity AS DECIMAL(12,2)) AS qty,
         CAST(l.l_extendedprice AS DECIMAL(12,2)) AS ext
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE p.p_brand = '{_Q17_BRAND}'
),
per_part AS (
  SELECT l_partkey, sum(qty) AS sum_qty,
         CAST(count(*) AS BIGINT) AS n_li
  FROM brand_li GROUP BY 1
)
SELECT CAST(count(*) AS BIGINT) AS n_lineitems,
       CAST(sum(b.ext) AS DOUBLE) AS total_extprice,
       CAST(sum(b.ext) AS DOUBLE) / 7.0 AS avg_yearly
FROM brand_li b JOIN per_part t USING (l_partkey)
WHERE 5 * b.qty * t.n_li < t.sum_qty
"""


# --------------------------------------------------------------------------
# Q19 analog: OR-of-ANDs predicate revenue
# --------------------------------------------------------------------------


@query()
def branded_basket_revenue_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(n_lineitems, revenue): TPC-H Q19 — discounted revenue over an
    OR of three brand/size/quantity AND-branches. The disjunctive-
    predicate shape: the engine must push the SHARED join key through
    the OR (join first, filter once) instead of unioning three scans.

    Exactness: the pricing_summary money rule. Scale: one lineitem
    scan, part side id-width (broadcast under threshold), the OR is
    one codegen'd predicate — plan-asserted single Join node."""
    li = tables.table(spark, sf_dir, "lineitem")
    part = tables.table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    joined = li.join(part, li["l_partkey"] == part["p_partkey"])
    qty = _dec("l_quantity")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & qty.between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & qty.between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 35)
            & qty.between(20, 30)
        )
    )
    rev = _dec("l_extendedprice") * _one_minus("l_discount")
    return joined.filter(cond).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lineitems"),
        F.sum(rev).cast("double").alias("revenue"),
    )


BRANDED_BASKET_REVENUE_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_lineitems,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(3,2))
                   - CAST(l.l_discount AS DECIMAL(3,2)))) AS DOUBLE)
         AS revenue
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
       AND CAST(l.l_quantity AS DECIMAL(12,2)) BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
       AND CAST(l.l_quantity AS DECIMAL(12,2)) BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
       AND CAST(l.l_quantity AS DECIMAL(12,2)) BETWEEN 20 AND 30)
"""


# --------------------------------------------------------------------------
# Fulfillment-lag percentiles per order priority
# --------------------------------------------------------------------------

_LAG_PS = (25, 50, 75, 90, 99)


@query()
def fulfillment_lag_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o_orderpriority, p, n_lineitems, lag_q): exact type-1
    percentiles (25/50/75/90/99) of the order-to-ship lag in days,
    per order priority — THE fulfillment-SLA readout: if 1-URGENT's
    p90 matches 5-LOW's, the priority flag is decorative. Lag =
    datediff(l_shipdate, o_orderdate) on the order join.

    Exactness: the qq_shift_profile machinery — integer day lags,
    per-priority count-CDFs, the quantile located as the unique
    CDF-crossing row at exact rank ceil(p*n/100); every output
    column except none is an exact BIGINT.

    Scale: one id-width join (lineitem to orders), a (priority, lag)
    count rollup, CDF windows on the |priorities| x |lags| grid, the
    5-row p panel broadcast."""
    li = tables.table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    orders = tables.table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    lags = li.join(
        orders, li["l_orderkey"] == orders["o_orderkey"]
    ).select(
        "o_orderpriority",
        F.datediff("l_shipdate", "o_orderdate").cast("bigint").alias(
            "lag"
        ),
    )
    counts = lags.groupBy("o_orderpriority", "lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    totals = counts.groupBy("o_orderpriority").agg(
        F.sum("c").cast("bigint").alias("n")
    )
    ps = spark.createDataFrame([(p,) for p in _LAG_PS], "p int")
    wc = Window.partitionBy("o_orderpriority").orderBy("lag").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cdf = counts.select(
        "o_orderpriority", "lag", "c", F.sum("c").over(wc).alias("cum")
    ).join(F.broadcast(totals), "o_orderpriority")
    return (
        cdf.join(F.broadcast(ps))
        .filter(
            (F.col("cum") >= F.expr("(p * n + 99) div 100"))
            & (F.col("cum") - F.col("c") < F.expr("(p * n + 99) div 100"))
        )
        .select(
            "o_orderpriority",
            "p",
            F.col("n").alias("n_lineitems"),
            F.col("lag").alias("lag_q"),
        )
    )


def _lag_oracle() -> str:
    ps = ", ".join(f"({p})" for p in _LAG_PS)
    return f"""
WITH lags AS (
  SELECT o.o_orderpriority,
         CAST(datediff('day', o.o_orderdate, l.l_shipdate) AS BIGINT)
           AS lag
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
),
counts AS (
  SELECT o_orderpriority, lag, CAST(count(*) AS BIGINT) AS c
  FROM lags GROUP BY 1, 2
),
totals AS (
  SELECT o_orderpriority, CAST(sum(c) AS BIGINT) AS n
  FROM counts GROUP BY 1
),
ps(p) AS (VALUES {ps}),
cdf AS (
  SELECT c.o_orderpriority, c.lag, c.c, t.n,
         sum(c.c) OVER (
           PARTITION BY c.o_orderpriority ORDER BY c.lag
         ) AS cum
  FROM counts c JOIN totals t USING (o_orderpriority)
)
SELECT s.o_orderpriority, p.p, s.n AS n_lineitems, s.lag AS lag_q
FROM cdf s CROSS JOIN ps p
WHERE s.cum >= (p.p * s.n + 99) // 100
  AND s.cum - s.c < (p.p * s.n + 99) // 100
"""


FULFILLMENT_LAG_ORACLE = _lag_oracle()

"""Beyond-reference relational analytics (SURVEY.md §2.8 gap inventory,
§7 M3): joins, window functions, rollup, set ops, sessionization,
as-of join, time-bucketed aggregation.

The reference has none of these (verified across all its topologies) —
they are the capability extension the north star requires, expressed
as single declarative plans so Catalyst picks physical strategies.

Cross-engine determinism rules used throughout (the DuckDB oracle must
hash-match exactly):
- Money math in DECIMAL with explicitly chosen precision/scale so no
  engine-specific rounding can occur, cast to DOUBLE only at the end.
- Timestamps emitted at microsecond precision on both sides.
- Every ORDER BY ... LIMIT has a total tiebreak (unique key last).

Scale notes (100 TB posture):
- region/nation joins carry an explicit ``broadcast()`` hint — their
  cardinality is fixed (5/25) at every SF, so they must never shuffle.
- customer/orders/lineitem joins are left to Catalyst: broadcast when
  under threshold, sort-merge + AQE skew splitting beyond it.
- Aggregates are all partial-aggregatable (count/sum/min/max) so
  map-side combine runs before every shuffle.
- Window functions partition by high-cardinality keys (custkey,
  user_id) — no single-partition global windows anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import tables
from ..pinning import pin as _pin
from ..registry import query

# Decimal-money helpers shared across relational modules (money.py);
# aliased to the historical local names used throughout this file.
from .money import PRICE as _PRICE  # noqa: E402
from .money import RATE as _RATE  # noqa: E402
from .money import dec as _dec  # noqa: E402
from .money import one_minus as _one_minus  # noqa: E402
from .money import one_plus as _one_plus  # noqa: E402


# --------------------------------------------------------------------------
# Q1-style pricing summary (filter -> groupBy aggregate, no join)
# --------------------------------------------------------------------------

@query()
def pricing_summary_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables.table(spark, sf_dir, "lineitem")
    disc_price = _dec("l_extendedprice") * _one_minus("l_discount")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(disc_price * _one_plus("l_tax")).cast("double").alias("sum_charge"),
            (F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias(
                "avg_qty"
            ),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


PRICING_SUMMARY_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
            * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE)
           AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
            * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))
            * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2)))) AS DOUBLE)
           AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01'
GROUP BY l_returnflag, l_linestatus
"""


# --------------------------------------------------------------------------
# Q3-style shipping priority (3-way join + top-k)
# --------------------------------------------------------------------------

@query()
def shipping_priority_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = tables.table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = tables.table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = tables.table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    revenue = _dec("l_extendedprice") * _one_minus("l_discount")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


SHIPPING_PRIORITY_ORACLE = """
SELECT o_orderkey, o_orderdate, o_orderpriority,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
            * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE)
           AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


# --------------------------------------------------------------------------
# Q5-style local-supplier revenue (6-way star join)
# --------------------------------------------------------------------------

@query()
def local_supplier_revenue_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = {n: tables.table(spark, sf_dir, n) for n in tables.TABLE_NAMES}
    revenue = _dec("l_extendedprice") * _one_minus("l_discount")
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .join(t["lineitem"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        .filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        .groupBy("r_name", "n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


LOCAL_SUPPLIER_REVENUE_ORACLE = """
SELECT r_name, n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
            * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE)
           AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY r_name, n_name
"""


# --------------------------------------------------------------------------
# Window functions: top-3 orders per customer
# --------------------------------------------------------------------------

@query()
def top_orders_per_customer_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tables.table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


TOP_ORDERS_PER_CUSTOMER_ORACLE = """
SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
)
WHERE rn <= 3
"""


# --------------------------------------------------------------------------
# Rollup: revenue by region/nation with subtotals
# --------------------------------------------------------------------------

@query()
def revenue_rollup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = {n: tables.table(spark, sf_dir, n) for n in ("customer", "orders", "nation")}
    return (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .rollup("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total_revenue"),
        )
    )


REVENUE_ROLLUP_ORACLE = """
SELECT n_name, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY ROLLUP(n_name)
"""


# --------------------------------------------------------------------------
# Set operations + semi/anti joins
# --------------------------------------------------------------------------

@query()
def active_rich_customers_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: customers that have orders AND acctbal > 5000."""
    cust = tables.table(spark, sf_dir, "customer")
    orders = tables.table(spark, sf_dir, "orders")
    with_orders = orders.select(F.col("o_custkey").alias("c_custkey")).distinct()
    rich = cust.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    return with_orders.intersect(rich)


ACTIVE_RICH_CUSTOMERS_ORACLE = """
SELECT DISTINCT o_custkey AS c_custkey FROM orders
INTERSECT
SELECT c_custkey FROM customer WHERE c_acctbal > 5000
"""


@query()
def customers_without_orders_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join (NOT EXISTS): customers with no pending ('P') order.
    left_anti keeps the build side small — only matching order keys
    shuffle, and the status filter is pushed into the orders scan."""
    cust = tables.table(spark, sf_dir, "customer")
    pending = tables.table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "P"
    )
    return cust.join(
        pending, cust.c_custkey == pending.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


CUSTOMERS_WITHOUT_ORDERS_ORACLE = """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
"""


@query()
def customers_with_open_orders_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join (EXISTS)."""
    cust = tables.table(spark, sf_dir, "customer")
    open_orders = tables.table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "O"
    )
    return cust.join(
        open_orders, cust.c_custkey == open_orders.o_custkey, "left_semi"
    ).select("c_custkey")


CUSTOMERS_WITH_OPEN_ORDERS_ORACLE = """
SELECT c_custkey FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
"""


# --------------------------------------------------------------------------
# Events: time-bucketed aggregation, sessionization, as-of join
# --------------------------------------------------------------------------

@query()
def events_hourly_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregate (batch form). The streaming form is
    ``window(ts, '1 hour')`` + watermark in streaming/pipeline.py;
    ``date_trunc`` is the same bucketing, SQL-expressible."""
    ev = tables.table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type")
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(_dec("value")).cast("double").alias("total_value"),
        F.count_distinct(F.col("user_id")).alias("n_users"),
    )


EVENTS_HOURLY_ORACLE = """
SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS hour,
       event_type,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
"""

SESSION_GAP_MINUTES = 30


@query()
def user_sessions_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (gaps-and-islands): a new session starts after a
    >30 min silence per user. This is the batch-SQL equivalent of
    ``session_window`` (streaming form in streaming/pipeline.py) —
    expressed with window functions so the oracle can check it.

    Scale: both windows partition by user_id; one shuffle total
    (sort within user), then a partial-aggregatable groupBy.
    """
    ev = tables.table(spark, sf_dir, "events")
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = SESSION_GAP_MINUTES * 60 * 1_000_000
    new_session = (
        F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(order)
        > gap_us
    ).cast("int")
    sess_id = F.sum(F.coalesce(new_session, F.lit(0))).over(
        order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    per_event = ev.withColumn("session_id", sess_id)
    return (
        per_event.groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("session_events"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.max("session_events").alias("max_session_events"),
            F.sum("session_events").alias("total_events"),
        )
    )


USER_SESSIONS_ORACLE = f"""
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > {SESSION_GAP_MINUTES * 60 * 1_000_000}
              THEN 1 ELSE 0 END AS new_session
  FROM (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events)
),
sess AS (
  SELECT user_id,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
),
per_session AS (
  SELECT user_id, session_id, COUNT(*) AS session_events
  FROM sess GROUP BY user_id, session_id
)
SELECT user_id, COUNT(*) AS n_sessions,
       MAX(session_events) AS max_session_events,
       CAST(SUM(session_events) AS BIGINT) AS total_events
FROM per_session GROUP BY user_id
"""


@query()
def asof_prev_purchase_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every click event, the most recent strictly
    earlier 'purchase' by the same user. Implemented as a running
    conditional max over an event-ordered window — one shuffle on
    user_id, no self-join, no cross product (the classic scalable
    as-of formulation; a sort-merge self-join would re-shuffle both
    sides and explode on hot users)."""
    ev = tables.table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_purchase = F.max(
        F.when(F.col("event_type") == "purchase", F.col("ts"))
    ).over(w)
    return (
        ev.withColumn("prev_purchase_ts", prev_purchase)
        .filter(F.col("event_type") == "click")
        .select("event_id", "user_id", "ts", "prev_purchase_ts")
    )


ASOF_PREV_PURCHASE_ORACLE = """
SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
       CAST(prev_purchase_ts AS TIMESTAMP) AS prev_purchase_ts
FROM (
  SELECT event_id, user_id, ts, event_type,
         max(CASE WHEN event_type = 'purchase' THEN ts END)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             AS prev_purchase_ts
  FROM events
)
WHERE event_type = 'click'
"""


# --------------------------------------------------------------------------
# Hopping (sliding) window aggregate
# --------------------------------------------------------------------------

HOP_WINDOW_MIN = 60
HOP_SLIDE_MIN = 30


@query()
def events_hopping_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping-window aggregate: 1-hour windows sliding every 30 min,
    so every event lands in exactly two windows. Batch form of the
    streaming ``window(ts, '1 hour', '30 minutes')`` — Spark's window()
    explodes each row into its overlapping windows BEFORE the shuffle,
    so the aggregate stays partial-aggregatable (map-side combined):
    the overlap factor multiplies rows, never shuffle rounds."""
    ev = tables.table(spark, sf_dir, "events")
    win = F.window("ts", f"{HOP_WINDOW_MIN} minutes", f"{HOP_SLIDE_MIN} minutes")
    return (
        ev.groupBy(win.alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(_dec("value")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "event_type",
            "cnt",
            "total_value",
        )
    )


# Every event belongs to windows starting at g and g-slide, where g is
# its floor on the slide grid (window=2*slide here, so exactly two).
EVENTS_HOPPING_ORACLE = f"""
WITH starts AS (
  SELECT event_type, value,
         unnest([
           epoch_us(ts) // {HOP_SLIDE_MIN * 60 * 1_000_000} * {HOP_SLIDE_MIN * 60 * 1_000_000},
           (epoch_us(ts) // {HOP_SLIDE_MIN * 60 * 1_000_000} - 1) * {HOP_SLIDE_MIN * 60 * 1_000_000}
         ]) AS start_us
  FROM events
)
SELECT make_timestamp(start_us) AS w_start,
       make_timestamp(start_us + {HOP_WINDOW_MIN * 60 * 1_000_000}) AS w_end,
       event_type,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM starts
GROUP BY 1, 2, 3
"""


# --------------------------------------------------------------------------
# CUBE (multi-dimensional aggregate)
# --------------------------------------------------------------------------

@query()
def revenue_cube_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all 4 grouping combinations
    in ONE pass — Spark expands the grouping sets before the shuffle,
    so partial aggregation still applies per set. grouping() flags
    disambiguate 'NULL because subtotal' from 'NULL in the data'."""
    li = tables.table(spark, sf_dir, "lineitem")
    revenue = _dec("l_extendedprice") * _one_minus("l_discount")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_returnflag"),
            F.grouping("l_linestatus").cast("int").alias("g_linestatus"),
            F.sum(revenue).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            "g_returnflag",
            "g_linestatus",
            "revenue",
            "n_items",
        )
    )


REVENUE_CUBE_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS INTEGER) AS g_returnflag,
       CAST(GROUPING(l_linestatus) AS INTEGER) AS g_linestatus,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
            * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE)
           AS revenue,
       COUNT(*) AS n_items
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


# --------------------------------------------------------------------------
# Set operations (INTERSECT / EXCEPT)
# --------------------------------------------------------------------------

def _user_days(ev: DataFrame, event_type: str) -> DataFrame:
    return (
        ev.filter(F.col("event_type") == event_type)
        .select("user_id", F.date_trunc("day", "ts").alias("day"))
        .distinct()
    )


@query()
def click_no_purchase_days_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: (user, day) pairs with clicks but no purchases. Spark
    plans set ops as aggregates/joins on the full row — both sides
    shuffle once on the row hash; no driver-side set logic."""
    ev = tables.table(spark, sf_dir, "events")
    return _user_days(ev, "click").exceptAll(_user_days(ev, "purchase"))


CLICK_NO_PURCHASE_DAYS_ORACLE = """
SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
FROM events WHERE event_type = 'click'
EXCEPT
SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
FROM events WHERE event_type = 'purchase'
"""


@query()
def error_and_signup_days_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: (user, day) pairs that saw both an error and a signup."""
    ev = tables.table(spark, sf_dir, "events")
    return _user_days(ev, "error").intersect(_user_days(ev, "signup"))


ERROR_AND_SIGNUP_DAYS_ORACLE = """
SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
FROM events WHERE event_type = 'error'
INTERSECT
SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
FROM events WHERE event_type = 'signup'
"""


# --------------------------------------------------------------------------
# GROUPING SETS (via the SQL surface)
# --------------------------------------------------------------------------

@query()
def revenue_grouping_sets_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the two single-dimension subtotals
    only (no detail rows, no grand total), which neither rollup nor
    cube expresses alone. Uses spark.sql over a registered view: the
    engine's SQL surface is first-class next to the DataFrame API."""
    tables.table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem_gsets"
    )
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) AS INT) AS g_returnflag,
               CAST(grouping(l_linestatus) AS INT) AS g_linestatus,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
                    AS DOUBLE) AS revenue,
               COUNT(*) AS n_items
        FROM lineitem_gsets
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """
    )


REVENUE_GROUPING_SETS_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS INTEGER) AS g_returnflag,
       CAST(GROUPING(l_linestatus) AS INTEGER) AS g_linestatus,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
            * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE)
           AS revenue,
       COUNT(*) AS n_items
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
"""


# --------------------------------------------------------------------------
# Pivot (rows -> typed columns)
# --------------------------------------------------------------------------

_PIVOT_TYPES = ("click", "error", "purchase", "signup", "view")


@query()
def events_pivot_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event counts pivoted to one column per event type.
    The pivot values are declared explicitly — at scale, letting Spark
    infer them adds a blocking distinct-scan job before planning."""
    ev = tables.table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", list(_PIVOT_TYPES))
        .agg(F.count(F.lit(1)))
        .na.fill(0, list(_PIVOT_TYPES))
    )


EVENTS_PIVOT_ORACLE = f"""
SELECT user_id,
       {", ".join(f"count(*) FILTER (event_type = '{t}') AS {t}" for t in _PIVOT_TYPES)}
FROM events
GROUP BY user_id
"""


# --------------------------------------------------------------------------
# ntile / percent_rank (distribution window functions)
# --------------------------------------------------------------------------

@query()
def customer_balance_quartiles_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile + percent_rank of customers by account balance within
    their nation. Global-ish windows are partitioned by nation so no
    single task sorts the whole table; the tiebreak on c_custkey makes
    ranks total and cross-engine stable."""
    cust = tables.table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return cust.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
    )


CUSTOMER_BALANCE_QUARTILES_ORACLE = """
SELECT c_custkey, c_nationkey, c_acctbal,
       ntile(4) OVER w AS quartile,
       percent_rank() OVER w AS pct_rank
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
"""


# --------------------------------------------------------------------------
# Rolling (moving) aggregate
# --------------------------------------------------------------------------

ROLLING_N = 7


@query()
def rolling_user_value_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling sum/avg of the last 7 events (ROWS frame).
    DECIMAL accumulation keeps the running sums bit-stable regardless
    of partitioning; one shuffle on user_id."""
    ev = tables.table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(ROLLING_N - 1), Window.currentRow)
    )
    roll_sum = F.sum(_dec("value", "decimal(18,2)")).over(w)
    roll_n = F.count(F.lit(1)).over(w)
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        roll_sum.cast("double").alias("rolling_sum"),
        (roll_sum.cast("double") / roll_n).alias("rolling_avg"),
    )


ROLLING_USER_VALUE_ORACLE = f"""
SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS rolling_sum,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
           / COUNT(*) OVER w AS rolling_avg
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN {ROLLING_N - 1} PRECEDING AND CURRENT ROW)
"""


# --------------------------------------------------------------------------
# Sorted string aggregation (deterministic collect)
# --------------------------------------------------------------------------

@query()
def user_event_type_sets_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct event types per user as one sorted CSV string —
    collect_set is partition-order-dependent, so the deterministic
    form is sort_array before join (hash-stable across engines and
    partitionings)."""
    ev = tables.table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(
            F.sort_array(F.collect_set("event_type")), ","
        ).alias("event_types"),
        F.countDistinct("event_type").alias("n_types"),
    )


USER_EVENT_TYPE_SETS_ORACLE = """
SELECT user_id,
       string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS event_types,
       count(DISTINCT event_type) AS n_types
FROM events
GROUP BY user_id
"""


# --------------------------------------------------------------------------
# Q6-style revenue forecast (pure scan -> filter -> global aggregate)
# --------------------------------------------------------------------------

@query()
def revenue_forecast_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: tight multi-predicate filter + single global
    sum. The whole query is one codegen'd scan stage + a one-row
    final aggregate; every predicate must reach the parquet reader
    (PushedFilters), making this the canonical pushdown probe."""
    li = tables.table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec("l_extendedprice") * _dec("l_discount", _RATE))
            .cast("double")
            .alias("forecast_revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


REVENUE_FORECAST_ORACLE = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
         * CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) AS forecast_revenue,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@query()
def events_unpivot_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): typed columns back to (user_id, event_type,
    cnt) rows — the inverse of events_pivot, zero-filled cells
    dropped. unpivot is a row-expansion projection (no shuffle beyond
    the pivot's own aggregate)."""
    wide = events_pivot_query(spark, sf_dir)
    return (
        wide.unpivot(
            "user_id", list(_PIVOT_TYPES), "event_type", "cnt"
        )
        .filter(F.col("cnt") > 0)
    )


EVENTS_UNPIVOT_ORACLE = f"""
WITH wide AS (
  SELECT user_id,
         {", ".join(f"count(*) FILTER (event_type = '{t}') AS {t}" for t in _PIVOT_TYPES)}
  FROM events
  GROUP BY user_id
)
SELECT user_id, event_type, cnt
FROM wide
UNPIVOT (cnt FOR event_type IN ({", ".join(_PIVOT_TYPES)}))
WHERE cnt > 0
"""


# --------------------------------------------------------------------------
# Funnel conversion (ordered signup -> click -> purchase)
# --------------------------------------------------------------------------

_FUNNEL_STEPS = ("signup", "click", "purchase")


@query()
def funnel_conversion_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel counts: users who signed up, who then clicked
    strictly after their first signup, who then purchased strictly
    after that first qualifying click. The ORDER matters — a purchase
    before the click does not convert — which is what separates this
    from three independent filters.

    Decorrelated into three per-user min aggregates, each feeding the
    next as an equi-join + residual (ts > prev_ts): the shuffles key
    on user_id and carry one timestamp per user, so each stage is a
    partial-aggregatable min over an already user-pruned event slice.
    One output row.
    """
    ev = tables.table(spark, sf_dir, "events")

    sign = (
        ev.filter(F.col("event_type") == _FUNNEL_STEPS[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    click = (
        ev.filter(F.col("event_type") == _FUNNEL_STEPS[1])
        .join(sign, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    purchase = (
        ev.filter(F.col("event_type") == _FUNNEL_STEPS[2])
        .join(click, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        sign.agg(F.count(F.lit(1)).cast("bigint").alias("n_signup"))
        .crossJoin(
            click.agg(F.count(F.lit(1)).cast("bigint").alias("n_click_after"))
        )
        .crossJoin(
            purchase.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_purchase_after")
            )
        )
    )


FUNNEL_CONVERSION_ORACLE = f"""
WITH sign AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = '{_FUNNEL_STEPS[0]}' GROUP BY user_id
),
click AS (
  SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
  JOIN sign s ON s.user_id = e.user_id AND e.ts > s.t1
  WHERE e.event_type = '{_FUNNEL_STEPS[1]}' GROUP BY e.user_id
),
purch AS (
  SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
  JOIN click c ON c.user_id = e.user_id AND e.ts > c.t2
  WHERE e.event_type = '{_FUNNEL_STEPS[2]}' GROUP BY e.user_id
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM sign) AS n_signup,
       (SELECT CAST(count(*) AS BIGINT) FROM click) AS n_click_after,
       (SELECT CAST(count(*) AS BIGINT) FROM purch) AS n_purchase_after
"""


# --------------------------------------------------------------------------
# Retention cohorts (week-over-week active-user matrix)
# --------------------------------------------------------------------------


@query()
def retention_cohorts_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention matrix: users cohorted by first-seen ISO week;
    cell (cohort, k) counts distinct cohort members active k weeks
    later, with the retention ratio — the standard growth-analytics
    rollup.

    Two distinct-aggregates plus one equi-join, all keyed on user_id
    or (cohort, k): first-seen week per user (min over a pre-projected
    scan), the distinct (user, week) activity grid, then a
    partial-aggregatable distinct count per cell. Week arithmetic is
    whole-DATE Monday truncation and day-difference // 7 — exact
    integers on both engines.
    """
    ev = tables.table(spark, sf_dir, "events")
    week = F.to_date(F.date_trunc("week", F.col("ts")))
    activity = ev.select("user_id", week.alias("w")).distinct()
    first = activity.groupBy("user_id").agg(F.min("w").alias("cohort_week"))
    grid = (
        activity.join(first, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (F.datediff(F.col("w"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("week_k"),
        )
        .distinct()
    )
    sizes = first.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("bigint").alias("cohort_size")
    )
    return (
        grid.groupBy("cohort_week", "week_k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("retained"))
        .join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "week_k",
            "retained",
            "cohort_size",
            (
                F.col("retained").cast("double")
                / F.col("cohort_size").cast("double")
            ).alias("retention"),
        )
    )


RETENTION_COHORTS_ORACLE = """
WITH activity AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS w
  FROM events
),
first AS (
  SELECT user_id, MIN(w) AS cohort_week FROM activity GROUP BY user_id
),
grid AS (
  SELECT DISTINCT a.user_id, f.cohort_week,
         CAST(date_diff('day', f.cohort_week, a.w) / 7 AS INTEGER) AS week_k
  FROM activity a JOIN first f ON f.user_id = a.user_id
),
sizes AS (
  SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
  FROM first GROUP BY cohort_week
)
SELECT g.cohort_week, g.week_k,
       CAST(count(*) AS BIGINT) AS retained,
       s.cohort_size,
       CAST(count(*) AS DOUBLE) / CAST(s.cohort_size AS DOUBLE) AS retention
FROM grid g JOIN sizes s ON s.cohort_week = g.cohort_week
GROUP BY g.cohort_week, g.week_k, s.cohort_size
"""


# --------------------------------------------------------------------------
# Pareto frontier (2-D skyline)
# --------------------------------------------------------------------------

PARETO_BUCKETS = 64  # price-range partitions for the parallel skyline


@query()
def pareto_orders_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o_orderkey, price_cents, o_orderdate): the Pareto-optimal
    orders in the (low price, recent date) plane — rows no other
    order strictly dominates (other.price <= mine AND other.date >=
    mine, strict in at least one dimension). The skyline operator
    relational engines lack natively; the naive form is an O(n^2)
    NOT EXISTS self-join, but a 2-D skyline is exactly computable
    from running maxima of date over the price order:

      - dominated by a strictly cheaper order: its date >= mine
        (strict in price) -> running max(date) over all strictly
        cheaper rows;
      - dominated within my exact price: another order with a
        strictly later date -> per-price-group max(date) > mine.

    PARTITION-PARALLEL FORM (round-3 verdict ask #4 — the previous
    revision computed the running max with one global RANGE window,
    a single-task stage that would not survive 100×): price space is
    cut into PARETO_BUCKETS equal-width ranges from a broadcast
    min/max (boundaries only steer partitioning — ANY monotone
    bucketing of price yields the same exact output, so O(1)
    width_bucket beats a boundary-array scan per row; skewed bucket
    sizes cost balance, not correctness, and AQE re-splits them),
    the running max runs PER BUCKET (parallel RANGE windows over
    fixed-point cents), and the cross-bucket carry is a prefix max
    over the PARETO_BUCKETS-row bucket summary — broadcast-sized,
    never row-sized. Equal prices always share a bucket (bucket is a
    function of price), so "earlier bucket" is exactly "strictly
    cheaper". Per-price maxima are a partition-parallel window as
    before. Ties in both dimensions are mutually non-dominating and
    all survive (deterministic set semantics, no arbitrary
    keep-one)."""
    orders = tables.table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100).cast("bigint")
    base = orders.select(
        "o_orderkey", cents.alias("price_cents"), "o_orderdate"
    )
    bounds = base.agg(
        F.min("price_cents").alias("p_lo"),
        (F.max("price_cents") + 1).alias("p_hi"),
    )
    bucketed = base.crossJoin(F.broadcast(bounds)).select(
        "o_orderkey",
        "price_cents",
        "o_orderdate",
        F.expr(
            f"width_bucket(price_cents, p_lo, p_hi, {PARETO_BUCKETS})"
        )
        .cast("int")
        .alias("bucket"),
    )
    w_in = (
        Window.partitionBy("bucket")
        .orderBy("price_cents")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_equal = Window.partitionBy("price_cents")
    flagged = bucketed.select(
        "o_orderkey",
        "price_cents",
        "o_orderdate",
        "bucket",
        F.max("o_orderdate").over(w_in).alias("in_bucket_best"),
        F.max("o_orderdate").over(w_equal).alias("best_equal_date"),
    )
    # Cross-bucket carry: max date of every STRICTLY earlier bucket
    # (earlier bucket => strictly cheaper price). The summary has at
    # most PARETO_BUCKETS rows, so its global window is a no-op stage.
    summary = bucketed.groupBy("bucket").agg(
        F.max("o_orderdate").alias("b_max")
    )
    w_prev = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    carry = summary.select(
        "bucket", F.max("b_max").over(w_prev).alias("prev_bucket_best")
    )
    flagged = flagged.join(F.broadcast(carry), "bucket")
    best_cheaper = F.greatest("in_bucket_best", "prev_bucket_best")
    return flagged.filter(
        (
            best_cheaper.isNull()
            | (best_cheaper < F.col("o_orderdate"))
        )
        & (F.col("best_equal_date") <= F.col("o_orderdate"))
    ).select("o_orderkey", "price_cents", "o_orderdate")


PARETO_ORDERS_ORACLE = """
WITH base AS (
  SELECT o_orderkey,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS price_cents,
         o_orderdate
  FROM orders
),
flagged AS (
  SELECT o_orderkey, price_cents, o_orderdate,
         max(o_orderdate) OVER (
           ORDER BY price_cents
           RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS best_cheaper_date,
         max(o_orderdate) OVER (PARTITION BY price_cents)
           AS best_equal_date
  FROM base
)
SELECT o_orderkey, price_cents, o_orderdate
FROM flagged
WHERE (best_cheaper_date IS NULL OR best_cheaper_date < o_orderdate)
  AND best_equal_date <= o_orderdate
"""


# --------------------------------------------------------------------------
# Cohort LTV curve
# --------------------------------------------------------------------------

@query()
def ltv_cohorts_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cohort_week, week_offset, cohort_users, buyers, revenue_cents,
    cum_revenue_cents): the lifetime-value curve per signup cohort —
    users grouped by the week of their FIRST event, purchase revenue
    bucketed by whole weeks since that cohort week, cumulated along
    the curve. The growth-analytics twin of retention_cohorts (which
    counts activity; this follows money).

    Exactness: revenue is fixed-point cents; week arithmetic is
    integer day differences floor-divided by 7 (non-negative, so
    truncation == floor on both engines); the cumulative sum is a
    BIGINT running total over the per-cohort curve (a cohort has at
    most ~corpus-weeks points — the window input is tiny even at
    100 TB of raw events; the heavy work is the two
    partial-aggregated groupBys feeding it)."""
    ev = tables.table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    cohorts = first.select(
        "user_id",
        F.to_date(F.date_trunc("week", F.col("first_ts"))).alias(
            "cohort_week"
        ),
    )
    sizes = cohorts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_users")
    )
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        .join(cohorts, "user_id")
        .select(
            "cohort_week",
            F.expr(
                "(datediff(to_date(ts), cohort_week) div 7)"
            ).alias("week_offset"),
            "user_id",
            F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
        )
    )
    curve = purch.groupBy("cohort_week", "week_offset").agg(
        F.countDistinct("user_id").alias("buyers"),
        F.sum("cents").cast("bigint").alias("revenue_cents"),
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        curve.join(sizes, "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "cohort_users",
            "buyers",
            "revenue_cents",
            F.sum("revenue_cents").over(w).cast("bigint").alias(
                "cum_revenue_cents"
            ),
        )
    )


LTV_COHORTS_ORACLE = """
WITH cohorts AS (
  SELECT user_id,
         CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
  FROM events GROUP BY user_id
),
sizes AS (
  SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_users
  FROM cohorts GROUP BY cohort_week
),
purch AS (
  SELECT c.cohort_week,
         (CAST(ts AS DATE) - c.cohort_week) // 7 AS week_offset,
         e.user_id,
         CAST(floor(e.value * 100) AS BIGINT) AS cents
  FROM events e JOIN cohorts c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase'
),
curve AS (
  SELECT cohort_week, week_offset,
         CAST(count(DISTINCT user_id) AS BIGINT) AS buyers,
         CAST(sum(cents) AS BIGINT) AS revenue_cents
  FROM purch GROUP BY cohort_week, week_offset
)
SELECT cv.cohort_week, cv.week_offset, s.cohort_users, cv.buyers,
       cv.revenue_cents,
       CAST(sum(cv.revenue_cents) OVER (
         PARTITION BY cv.cohort_week ORDER BY cv.week_offset
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS cum_revenue_cents
FROM curve cv JOIN sizes s ON s.cohort_week = cv.cohort_week
"""


# --------------------------------------------------------------------------
# Time-bounded funnel (conversion windows)
# --------------------------------------------------------------------------

FUNNEL_WINDOW_HOURS = 72


@query()
def funnel_within_window_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: (n_signup, n_click_72h, n_purchase_72h,
    click_rate, purchase_rate) — the ordered funnel with each step
    REQUIRED to land within FUNNEL_WINDOW_HOURS of the previous one.
    The unbounded funnel (funnel_conversion) measures eventual
    conversion; product analytics almost always wants the bounded
    form (conversion within N hours of the triggering step), and the
    bound changes the answer — a purchase a month later no longer
    counts.

    Same decorrelated shape as the unbounded funnel: three per-user
    min aggregates chained by equi-join, with the residual now a
    half-open interval (prev < ts <= prev + W) instead of an open
    ray. The interval arithmetic is integer microseconds on both
    engines — no timestamp-plus-double ambiguity."""
    ev = tables.table(spark, sf_dir, "events")
    w_us = FUNNEL_WINDOW_HOURS * 3600 * 1_000_000

    sign = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    click = (
        ev.filter(F.col("event_type") == "click")
        .join(sign, "user_id")
        .filter(
            (F.unix_micros("ts") > F.unix_micros("t1"))
            & (F.unix_micros("ts") <= F.unix_micros("t1") + w_us)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    purchase = (
        ev.filter(F.col("event_type") == "purchase")
        .join(click, "user_id")
        .filter(
            (F.unix_micros("ts") > F.unix_micros("t2"))
            & (F.unix_micros("ts") <= F.unix_micros("t2") + w_us)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    out = (
        sign.agg(F.count(F.lit(1)).cast("bigint").alias("n_signup"))
        .crossJoin(
            click.agg(F.count(F.lit(1)).cast("bigint").alias("n_click_72h"))
        )
        .crossJoin(
            purchase.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_purchase_72h")
            )
        )
    )
    return out.select(
        "n_signup",
        "n_click_72h",
        "n_purchase_72h",
        (
            F.col("n_click_72h").cast("double")
            / F.col("n_signup").cast("double")
        ).alias("click_rate"),
        (
            F.col("n_purchase_72h").cast("double")
            / F.col("n_click_72h").cast("double")
        ).alias("purchase_rate"),
    )


FUNNEL_WITHIN_WINDOW_ORACLE = f"""
WITH sign AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
click AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN sign s ON s.user_id = e.user_id
  WHERE e.event_type = 'click'
    AND epoch_us(e.ts) > epoch_us(s.t1)
    AND epoch_us(e.ts) <= epoch_us(s.t1) + {FUNNEL_WINDOW_HOURS * 3600 * 1_000_000}
  GROUP BY e.user_id
),
purchase AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN click c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase'
    AND epoch_us(e.ts) > epoch_us(c.t2)
    AND epoch_us(e.ts) <= epoch_us(c.t2) + {FUNNEL_WINDOW_HOURS * 3600 * 1_000_000}
  GROUP BY e.user_id
)
SELECT CAST((SELECT count(*) FROM sign) AS BIGINT) AS n_signup,
       CAST((SELECT count(*) FROM click) AS BIGINT) AS n_click_72h,
       CAST((SELECT count(*) FROM purchase) AS BIGINT) AS n_purchase_72h,
       CAST((SELECT count(*) FROM click) AS DOUBLE)
         / CAST((SELECT count(*) FROM sign) AS DOUBLE) AS click_rate,
       CAST((SELECT count(*) FROM purchase) AS DOUBLE)
         / CAST((SELECT count(*) FROM click) AS DOUBLE) AS purchase_rate
"""


# --------------------------------------------------------------------------
# Weekday x hour activity heatmap
# --------------------------------------------------------------------------

@query()
def activity_heatmap_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(dow, hour, n_events, purchase_cents): the weekday-by-hour
    activity grid (the product-analytics heatmap) — event counts and
    fixed-point purchase revenue per (ISO weekday, hour-of-day) cell.
    Day-of-week via ISO 8601 numbering written the SAME way on both
    engines (DuckDB isodow == Spark's dayofweek remapped; Spark's
    native dayofweek is Sunday=1, so the ISO form is computed from
    the date arithmetic both engines share). One partial-aggregated
    groupBy into a fixed 7x24 grid — scan-bound at any scale."""
    ev = tables.table(spark, sf_dir, "events")
    # ISO dow: Monday=1..Sunday=7. date_part('DOW') conventions differ
    # across engines; days-since-epoch modulo arithmetic does not
    # (1970-01-01 was a Thursday = ISO 4).
    iso_dow = F.expr(
        "pmod(datediff(to_date(ts), DATE '1970-01-01') + 3, 7) + 1"
    ).cast("int")
    return (
        ev.groupBy(
            iso_dow.alias("dow"), F.hour("ts").alias("hour")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.floor(F.col("value") * 100).cast("bigint"),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("purchase_cents"),
        )
    )


ACTIVITY_HEATMAP_ORACLE = """
SELECT CAST((CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) + 3) % 7
            + 1 AS INT) AS dow,
       CAST(extract(hour FROM ts) AS INT) AS hour,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN event_type = 'purchase'
                THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END)
            AS BIGINT) AS purchase_cents
FROM events
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Weekly stickiness (DAU/WAU)
# --------------------------------------------------------------------------

@query()
def stickiness_weekly_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(week, wau, avg_dau, stickiness): weekly active users, the
    week's average daily actives, and the DAU/WAU stickiness ratio —
    the engagement KPI product teams track. avg_dau is an exact
    rational (sum of the week's daily distinct counts over 7 — the
    fixed calendar denominator, so weeks with inactive days compare
    honestly), stickiness = avg_dau / wau.

    Two partial-aggregated passes over (user, day) distinct pairs:
    one rolled to days then weeks (DAU sums), one straight to weeks
    (WAU distinct). At 100 TB both are the standard distinct-count
    shuffles; the approximate swap-in is approx_count_distinct per
    bucket with the same shape."""
    ev = tables.table(spark, sf_dir, "events")
    ud = ev.select(
        F.col("user_id"),
        F.to_date("ts").alias("day"),
        F.to_date(F.date_trunc("week", F.col("ts"))).alias("week"),
    ).distinct()
    dau = ud.groupBy("week", "day").agg(
        F.countDistinct("user_id").alias("dau")
    )
    weekly_dau = dau.groupBy("week").agg(
        F.sum("dau").cast("bigint").alias("dau_sum")
    )
    wau = ud.groupBy("week").agg(
        F.countDistinct("user_id").cast("bigint").alias("wau")
    )
    return (
        wau.join(weekly_dau, "week")
        .select(
            "week",
            "wau",
            (F.col("dau_sum").cast("double") / F.lit(7.0)).alias("avg_dau"),
            (
                F.col("dau_sum").cast("double")
                / F.lit(7.0)
                / F.col("wau").cast("double")
            ).alias("stickiness"),
        )
    )


STICKINESS_WEEKLY_ORACLE = """
WITH ud AS (
  SELECT DISTINCT user_id,
         CAST(ts AS DATE) AS day,
         CAST(date_trunc('week', ts) AS DATE) AS week
  FROM events
),
dau AS (
  SELECT week, day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
  FROM ud GROUP BY week, day
),
weekly_dau AS (
  SELECT week, CAST(sum(dau) AS BIGINT) AS dau_sum FROM dau GROUP BY week
),
wau AS (
  SELECT week, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
  FROM ud GROUP BY week
)
SELECT w.week, w.wau,
       CAST(d.dau_sum AS DOUBLE) / 7.0 AS avg_dau,
       CAST(d.dau_sum AS DOUBLE) / 7.0 / CAST(w.wau AS DOUBLE) AS stickiness
FROM wau w JOIN weekly_dau d ON d.week = w.week
"""


# --------------------------------------------------------------------------
# Event transition matrix (first-order Markov)
# --------------------------------------------------------------------------

@query()
def event_transitions_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(from_type, to_type, n, p_transition): the first-order Markov
    transition matrix over each user's time-ordered event stream —
    the path-analysis primitive behind "what do users do after X"
    and the behavioral anomaly baseline. Consecutive-pair extraction
    is one lag window per user (deterministic (ts, event_id) order,
    as every sessionization here); counts and row-normalized
    transition probabilities are matrix-sized aggregates. One
    user-partitioned shuffle carrying (user, type, ts) — the same
    single-exchange shape as scd2_history."""
    ev = tables.table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            F.lag("event_type").over(w).alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .filter(F.col("from_type").isNotNull())
    )
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    marg = counts.groupBy("from_type").agg(
        F.sum("n").cast("bigint").alias("t")
    )
    return counts.join(marg, "from_type").select(
        "from_type",
        "to_type",
        F.col("n").cast("bigint").alias("n"),
        (F.col("n").cast("double") / F.col("t").cast("double")).alias(
            "p_transition"
        ),
    )


EVENT_TRANSITIONS_ORACLE = """
WITH pairs AS (
  SELECT lag(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS from_type,
         event_type AS to_type
  FROM events
),
counts AS (
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
  FROM pairs WHERE from_type IS NOT NULL
  GROUP BY 1, 2
),
marg AS (
  SELECT from_type, CAST(sum(n) AS BIGINT) AS t FROM counts GROUP BY 1
)
SELECT c.from_type, c.to_type, c.n,
       CAST(c.n AS DOUBLE) / CAST(m.t AS DOUBLE) AS p_transition
FROM counts c JOIN marg m ON m.from_type = c.from_type
"""


# --------------------------------------------------------------------------
# Last-touch revenue attribution
# --------------------------------------------------------------------------

@query()
def last_touch_attribution_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(touch_type, n_purchases, revenue_cents): every purchase
    attributed to the user's most recent PRIOR non-purchase event —
    the last-touch model marketing analytics defaults to. Purchases
    with no prior touch in the log roll up under 'none' (dropping
    them would silently shrink total attributed revenue; the column
    sums to exactly the corpus's purchase revenue, which the pytest
    asserts).

    One per-user window (partition-parallel), using last_value with
    IGNORE NULLS over the deterministic (ts, event_id) order — the
    carried value is the same on both engines because the frame
    order is total. Revenue is fixed-point cents; the rollup is one
    partial-aggregatable groupBy over |event types|+1 keys."""
    ev = tables.table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        ev.select(
            "event_type",
            F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
            touch.alias("touch"),
        )
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("touch", F.lit("none")).alias("touch_type"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
        )
    )


LAST_TOUCH_ATTRIBUTION_ORACLE = """
WITH touched AS (
  SELECT event_type,
         CAST(floor(value * 100) AS BIGINT) AS cents,
         last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                    IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS touch
  FROM events
)
SELECT COALESCE(touch, 'none') AS touch_type,
       CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(sum(cents) AS BIGINT) AS revenue_cents
FROM touched
WHERE event_type = 'purchase'
GROUP BY 1
"""


# --------------------------------------------------------------------------
# Native session_window sessionization
# --------------------------------------------------------------------------

@query()
def session_window_stats_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, session_start, session_end, n_events, value_cents):
    per-session rollup using Spark's NATIVE ``session_window``
    operator (the same gap semantics ``user_sessions`` builds by hand
    with gaps-and-islands windows): a session extends while events
    arrive within SESSION_GAP_MINUTES, and its end is last_event +
    gap. The DuckDB oracle derives identical sessions from the
    islands formulation — so the hash check is a PROOF that Spark's
    built-in session semantics equal the textbook lag/cumsum form,
    and the one operator works identically in batch and Structured
    Streaming (the streaming twin shares the expression).

    Scale: session_window aggregation shuffles once on user_id and
    merges sessions inside the aggregation — no window sort pass at
    all, which is exactly why the native operator beats the manual
    islands form at 100 TB (the islands cumsum needs the per-user
    sort)."""
    ev = tables.table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "user_id",
            F.session_window("ts", f"{SESSION_GAP_MINUTES} minutes"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("value_cents"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "value_cents",
        )
    )


SESSION_WINDOW_STATS_ORACLE = f"""
WITH ordered AS (
  SELECT user_id, ts, value,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                   > {SESSION_GAP_MINUTES} * 60 * 1000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
ids AS (
  SELECT user_id, ts, value,
         sum(new_s) OVER (
           PARTITION BY user_id ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS sid
  FROM ordered
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL {SESSION_GAP_MINUTES} MINUTE AS session_end,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
         AS value_cents
FROM ids
GROUP BY user_id, sid
"""


# --------------------------------------------------------------------------
# Event debouncing (rate limiting per key per window)
# --------------------------------------------------------------------------

@query()
def debounce_events_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n_kept, n_suppressed, suppression_rate): keep each
    user's FIRST event per (type, clock hour), suppress the rest —
    the debouncing/rate-limiting pass that keeps bot bursts and
    double-clicks from dominating downstream counts. First-per-group
    is min_by on the deterministic (ts, event_id) order — an
    ALGEBRAIC aggregate that partial-merges map-side, so unlike a
    row_number window there is no per-key sort; the rollup then
    partial-aggregates per type. The streaming twin is
    dropDuplicatesWithinWatermark on (user, type, hour) — the same
    first-wins semantics with bounded state."""
    ev = tables.table(spark, sf_dir, "events")
    hour = F.date_trunc("hour", "ts")
    per_key = ev.groupBy(
        "user_id", "event_type", hour.alias("h")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return (
        per_key.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            (F.sum("n") - F.count(F.lit(1)))
            .cast("bigint")
            .alias("n_suppressed"),
        )
        .select(
            "event_type",
            "n_kept",
            "n_suppressed",
            (
                F.col("n_suppressed").cast("double")
                / (F.col("n_kept") + F.col("n_suppressed")).cast("double")
            ).alias("suppression_rate"),
        )
    )


DEBOUNCE_EVENTS_ORACLE = """
WITH per_key AS (
  SELECT user_id, event_type, date_trunc('hour', ts) AS h,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2, 3
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(n) - count(*) AS BIGINT) AS n_suppressed,
       CAST(sum(n) - count(*) AS DOUBLE) / CAST(sum(n) AS DOUBLE)
         AS suppression_rate
FROM per_key
GROUP BY 1
"""


# --------------------------------------------------------------------------
# Transition entropy (behavior predictability per context event type)
# --------------------------------------------------------------------------


@query()
def transition_entropy_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(from_type, n_transitions, n_distinct_next, entropy_bits): the
    Shannon entropy of each event type's NEXT-event distribution over
    the first-order transition matrix (event_transitions) — the
    predictability readout: entropy near 0 means the type has one
    dominant successor (a funnel edge), entropy near log2(|types|)
    means what follows is anyone's guess (a hub). Same fixed-point
    recipe as char_entropy: per-successor terms n*floor(1e6*ln(n/t))
    are integers before summation, one bits conversion at the end.

    Scale: the transition matrix is |types|^2 rows — everything here
    after the one user-partitioned lag window is dimension-sized."""
    ev = tables.table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        "user_id",
        F.lag("event_type").over(w).alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).filter(F.col("from_type").isNotNull())
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    marg = counts.groupBy("from_type").agg(
        F.sum("n").cast("bigint").alias("t"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_next"),
    )
    term_fp = F.expr(
        "n * cast(floor(1e6 * ln(cast(n as double) / cast(t as double)))"
        " as bigint)"
    )
    return (
        counts.join(marg, "from_type")
        .groupBy("from_type")
        .agg(
            F.max("t").alias("n_transitions"),
            F.max("n_distinct_next").alias("n_distinct_next"),
            F.sum(term_fp).alias("h_fp"),
        )
        .select(
            "from_type",
            "n_transitions",
            "n_distinct_next",
            F.expr(
                "-cast(h_fp as double)"
                " / (cast(n_transitions as double) * 1e6 * ln(2))"
            ).alias("entropy_bits"),
        )
    )


TRANSITION_ENTROPY_ORACLE = """
WITH ordered AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS from_type
  FROM events
),
counts AS (
  SELECT from_type, event_type AS to_type, CAST(count(*) AS BIGINT) AS n
  FROM ordered WHERE from_type IS NOT NULL
  GROUP BY 1, 2
),
marg AS (
  SELECT from_type, CAST(sum(n) AS BIGINT) AS t,
         CAST(count(*) AS BIGINT) AS n_distinct_next
  FROM counts GROUP BY 1
)
SELECT c.from_type,
       CAST(max(m.t) AS BIGINT) AS n_transitions,
       CAST(max(m.n_distinct_next) AS BIGINT) AS n_distinct_next,
       -CAST(sum(c.n * CAST(floor(1e6 * ln(CAST(c.n AS DOUBLE)
            / CAST(m.t AS DOUBLE))) AS BIGINT)) AS DOUBLE)
         / (CAST(max(m.t) AS DOUBLE) * 1e6 * ln(2)) AS entropy_bits
FROM counts c JOIN marg m ON m.from_type = c.from_type
GROUP BY 1
"""


# --------------------------------------------------------------------------
# Top session paths (ordered behavioral sequences)
# --------------------------------------------------------------------------

PATH_LEN = 5  # leading events kept per session
TOP_PATHS = 20


@query()
def top_session_paths_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(path, n_sessions, n_users): the TOP_PATHS most common session
    OPENINGS — each session's first PATH_LEN event types joined in
    order — the path-analysis readout behind "how do journeys that
    convert start?". Builds on the same gaps-and-islands
    sessionization as user_sessions; the path is assembled from the
    per-session leading events only (rank-filtered BEFORE any
    collection, so the collected list is <= PATH_LEN items however
    long the session).

    Determinism: event order inside a session is the total (ts,
    event_id) order; the final top-k orders by (n_sessions DESC,
    path) — a total order, so the limit boundary is identical
    cross-engine.

    Scale: one shuffle to (user_id)-partitioned windows (session ids
    + in-session ranks in the same sort), a per-session rollup that
    partial-aggregates <= PATH_LEN-item lists, a path-keyed count
    rollup (path strings are bounded at PATH_LEN type names), and a
    TakeOrdered top-k. No self-joins, no unbounded collect."""
    ev = tables.table(spark, sf_dir, "events")
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = SESSION_GAP_MINUTES * 60 * 1_000_000
    new_session = (
        F.unix_micros(F.col("ts"))
        - F.lag(F.unix_micros(F.col("ts"))).over(order)
        > gap_us
    ).cast("int")
    sess_id = F.sum(F.coalesce(new_session, F.lit(0))).over(
        order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = ev.withColumn("session_id", sess_id).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("user_id", "session_id").orderBy(
                "ts", "event_id"
            )
        ),
    )
    paths = (
        ranked.filter(F.col("rn") <= PATH_LEN)
        .groupBy("user_id", "session_id")
        .agg(
            F.array_join(
                F.expr("transform(array_sort(collect_list(struct(rn, "
                       "event_type))), x -> x.event_type)"),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(TOP_PATHS)
    )


TOP_SESSION_PATHS_ORACLE = f"""
WITH flagged AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > {SESSION_GAP_MINUTES * 60 * 1_000_000}
              THEN 1 ELSE 0 END AS new_session
  FROM (SELECT user_id, event_id, event_type,
               CAST(ts AS TIMESTAMP) AS ts FROM events)
),
sessions AS (
  SELECT user_id, event_id, ts, event_type,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM flagged
),
ranked AS (
  SELECT user_id, session_id, event_type,
         row_number() OVER (PARTITION BY user_id, session_id
                            ORDER BY ts, event_id) AS rn
  FROM sessions
),
paths AS (
  SELECT user_id, session_id,
         array_to_string(list(event_type ORDER BY rn), '>') AS path
  FROM ranked WHERE rn <= {PATH_LEN}
  GROUP BY user_id, session_id
)
SELECT path, CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM paths
GROUP BY path
ORDER BY n_sessions DESC, path ASC
LIMIT {TOP_PATHS}
"""


# --------------------------------------------------------------------------
# Idle-customer balance (TPC-H Q22 shape on the available schema)
# --------------------------------------------------------------------------

IDLE_CUTOFF = "1998-01-01"  # "no order since" recency boundary


@query()
def idle_customer_balance_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(c_nationkey, n_custs, total_bal): TPC-H Q22's
    global-avg-scalar-subquery + anti-join shape on this schema —
    customers whose account balance exceeds the average POSITIVE
    balance but who have placed no order since IDLE_CUTOFF (Q22's
    "no order in 7 years" recency window), rolled up by nation (the
    reference query's phone-prefix country code; this schema carries
    the nation key directly). The decorrelation surface is the
    point: one scalar aggregate broadcast into the filter, one
    left_anti against the date-filtered orders (the filter pushes
    into the scan; only matching keys shuffle), one rollup.

    Scale: customer scanned twice (scalar avg + probe) — at 100 TB
    the scalar pass is a column-pruned scan of one double; the
    anti-join build side is the recent-orders o_custkey projection."""
    cust = tables.table(spark, sf_dir, "customer")
    orders = tables.table(spark, sf_dir, "orders")
    avg_pos = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    rich = (
        cust.crossJoin(F.broadcast(avg_pos))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .select("c_custkey", "c_nationkey", "c_acctbal")
    )
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit(IDLE_CUTOFF).cast("timestamp")
    ).select("o_custkey")
    idle = rich.join(
        recent, rich.c_custkey == F.col("o_custkey"), "left_anti"
    )
    return idle.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_custs"),
        F.sum("c_acctbal").alias("total_bal"),
    )


IDLE_CUSTOMER_BALANCE_ORACLE = f"""
SELECT c_nationkey,
       CAST(count(*) AS BIGINT) AS n_custs,
       sum(c_acctbal) AS total_bal
FROM customer c
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '{IDLE_CUTOFF} 00:00:00')
GROUP BY 1
"""


# --------------------------------------------------------------------------
# Session concurrency (sweep line over sessionized intervals)
# --------------------------------------------------------------------------

_US_DAY = 86_400_000_000


def session_day_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(d, a, b): the 30-minute-gap sessions clipped at day boundaries
    — the shared segment frame under ``session_concurrency_query``
    (batch sweep) and its streaming twin (``streaming/stateful.
    streaming_session_concurrency`` consumes exactly these rows, the
    ivm_pieces pattern: the delta/segment producer is batch-shared so
    both execution modes sweep identical inputs). Pinned because the
    batch sweep reads it from THREE consumers (both point arms and
    the per-day session count) — without the pin the whole
    sessionization (scan + user-partitioned windows) re-runs per
    consumer (the plan showed three parquet scans)."""
    ev = tables.table(spark, sf_dir, "events")
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = SESSION_GAP_MINUTES * 60 * 1_000_000
    new_session = (
        F.unix_micros(F.col("ts"))
        - F.lag(F.unix_micros(F.col("ts"))).over(order)
        > gap_us
    ).cast("int")
    sess_id = F.sum(F.coalesce(new_session, F.lit(0))).over(
        order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = (
        ev.select(
            "user_id",
            "event_id",
            "ts",
            F.unix_micros(F.col("ts")).alias("us"),
        )
        .withColumn("session_id", sess_id)
        .groupBy("user_id", "session_id")
        .agg(
            F.min("us").cast("bigint").alias("s_us"),
            F.max("us").cast("bigint").alias("e_us"),
        )
    )
    return _pin(
        sess.select(
            F.explode(
                F.expr(f"sequence(s_us div {_US_DAY}, e_us div {_US_DAY})")
            ).alias("d"),
            "s_us",
            "e_us",
        ).select(
            "d",
            F.greatest(F.col("s_us"), F.col("d") * _US_DAY).alias("a"),
            F.least(
                F.col("e_us"), (F.col("d") + 1) * _US_DAY - 1
            ).alias("b"),
        )
    )


@query()
def session_concurrency_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, n_sessions, max_concurrent): the peak number of
    simultaneously-open user sessions per day — the classic
    interval sweep line (+1 at each session start, -1 after its end,
    running sum, max), over the same 30-minute-gap sessions as
    ``user_sessions``. This is the capacity question ("how many
    concurrent sessions must serving hold state for") that neither
    per-session nor per-hour rollups answer: overlap is a property
    of the INSTANT, not the bucket.

    Sessions are clipped at day boundaries (a midnight-spanning
    session counts toward both days), which makes each day's sweep
    independent — the construction that keeps the sweep PARALLEL at
    scale: the running-sum window partitions by day, so no global
    single-partition sort ever forms. Deltas landing on the same
    microsecond are net-summed BEFORE the running sum, so the
    running values (and their max) are order-independent and exact.
    Closed-interval semantics: the -1 lands at end + 1 us, so two
    sessions touching at one instant count as concurrent there.
    (Integer day division: timestamps are post-epoch, where Spark's
    truncating ``div`` and DuckDB's flooring ``//`` agree.)

    Scale: one user-partitioned sessionization shuffle (shared shape
    with user_sessions), a bounded explode (sessions span few days),
    then day-partitioned windows over delta points — O(sessions)
    rows end to end."""
    seg = session_day_segments(spark, sf_dir)
    points = seg.select(
        "d", F.col("a").alias("t"), F.lit(1).alias("delta")
    ).unionAll(
        seg.select("d", (F.col("b") + 1).alias("t"), F.lit(-1).alias("delta"))
    )
    net = points.groupBy("d", "t").agg(
        F.sum("delta").cast("bigint").alias("nd")
    )
    w = Window.partitionBy("d").orderBy("t").rowsBetween(
        Window.unboundedPreceding, 0
    )
    run = net.select("d", F.sum("nd").over(w).alias("running"))
    peaks = run.groupBy("d").agg(
        F.max("running").cast("bigint").alias("max_concurrent")
    )
    days = seg.groupBy("d").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions")
    )
    return days.join(peaks, "d").select(
        F.expr("date_add(DATE '1970-01-01', cast(d as int))").alias("day"),
        "n_sessions",
        "max_concurrent",
    )


SESSION_CONCURRENCY_ORACLE = f"""
WITH flagged AS (
  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
         CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                   - lag(epoch_us(CAST(ts AS TIMESTAMP)))
                     OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > {SESSION_GAP_MINUTES * 60 * 1_000_000}
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sess AS (
  SELECT user_id,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id,
         us
  FROM flagged
),
iv AS (
  SELECT user_id, session_id,
         CAST(min(us) AS BIGINT) AS s_us, CAST(max(us) AS BIGINT) AS e_us
  FROM sess GROUP BY 1, 2
),
seg AS (
  SELECT g.d,
         greatest(s_us, g.d * {_US_DAY}) AS a,
         least(e_us, (g.d + 1) * {_US_DAY} - 1) AS b
  FROM iv, LATERAL (
    SELECT unnest(generate_series(s_us // {_US_DAY}, e_us // {_US_DAY}))
      AS d
  ) g
),
points AS (
  SELECT d, a AS t, 1 AS delta FROM seg
  UNION ALL
  SELECT d, b + 1 AS t, -1 AS delta FROM seg
),
net AS (
  SELECT d, t, CAST(sum(delta) AS BIGINT) AS nd
  FROM points GROUP BY 1, 2
),
run AS (
  SELECT d, SUM(nd) OVER (PARTITION BY d ORDER BY t
                          ROWS UNBOUNDED PRECEDING) AS running
  FROM net
),
peaks AS (
  SELECT d, CAST(max(running) AS BIGINT) AS max_concurrent
  FROM run GROUP BY 1
),
days AS (
  SELECT d, CAST(count(*) AS BIGINT) AS n_sessions FROM seg GROUP BY 1
)
SELECT DATE '1970-01-01' + CAST(days.d AS INT) AS day,
       days.n_sessions, peaks.max_concurrent
FROM days JOIN peaks ON peaks.d = days.d
"""

# --------------------------------------------------------------------------
# New-vs-returning daily split (post-freeze: r09 material)
# --------------------------------------------------------------------------


@query()
def new_vs_returning_daily_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(day, n_users, n_new, n_returning, new_frac): daily active
    users split by whether the day is the user's FIRST ever — the
    growth-accounting decomposition (``distinct_users_daily`` counts
    heads; this says whether they are acquisition or retention, the
    difference between a growing product and a churning one with good
    marketing). First-seen is the exact min event day per user.

    Exactness: all counts exact; first-day attribution joins the
    per-user min-day (id-width) back to the per-(user, day) activity
    rollup. Scale: two partial-aggregatable rollups and one id-keyed
    join — no windows, no corpus self-join."""
    ev = tables.table(spark, sf_dir, "events")
    user_days = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    first = user_days.groupBy("user_id").agg(
        F.min("day").alias("first_day")
    )
    flagged = user_days.join(first, "user_id").select(
        "day",
        (F.col("day") == F.col("first_day")).cast("int").alias("is_new"),
    )
    return flagged.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("is_new").cast("bigint").alias("n_new"),
        (F.count(F.lit(1)) - F.sum("is_new")).cast("bigint")
        .alias("n_returning"),
        (
            F.sum("is_new").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("new_frac"),
    ).select(
        F.col("day").cast("string").alias("day"),
        "n_users",
        "n_new",
        "n_returning",
        "new_frac",
    )


NEW_VS_RETURNING_DAILY_ORACLE = """
WITH user_days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
first AS (
  SELECT user_id, min(day) AS first_day FROM user_days GROUP BY 1
),
flagged AS (
  SELECT u.day,
         CASE WHEN u.day = f.first_day THEN 1 ELSE 0 END AS is_new
  FROM user_days u JOIN first f ON f.user_id = u.user_id
)
SELECT CAST(day AS VARCHAR) AS day,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(is_new) AS BIGINT) AS n_new,
       CAST(count(*) - sum(is_new) AS BIGINT) AS n_returning,
       CAST(sum(is_new) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS new_frac
FROM flagged GROUP BY day
"""


# --------------------------------------------------------------------------
# Stationary distribution of the event-type Markov chain
# --------------------------------------------------------------------------

# Fixed-point scale for the probability vector and number of in-plan
# power-iteration steps. 12 steps more than converges a 5-state chain
# (spectral gap of row-normalized behavioral matrices is large); the
# iteration count is part of the OPERATOR DEFINITION so both engines
# run literally the same arithmetic.
_MARKOV_SCALE = 1_000_000_000
_MARKOV_ITERS = 12


@query()
def markov_stationary_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, v_fp, pi): the stationary distribution of the
    first-order event-type Markov chain (the long-run fraction of
    time a user's behavior spends in each state), computed by
    _MARKOV_ITERS exact-integer power-iteration steps from the
    uniform vector: v'[d] = sum_s (v[s] * c(s,d)) div rowsum(s), all
    BIGINT. The stationary vector is what transition probabilities
    alone don't give you — it weights every path-analysis readout
    (event_transitions) by how often the chain actually visits each
    state, and at pipeline scale it is the state-occupancy prior for
    behavioral drift baselines.

    Exactness: every step is integer multiply + floor division +
    integer sum (v*c <= 1e9 * corpus transitions, far under 2^63), so
    the per-step floor drift (< |states| units of 1e-9 mass per step)
    is IDENTICAL cross-engine — the vector is hash-exact, not merely
    9-digit-close; pi is one final IEEE division. The DuckDB twin
    unrolls the same _MARKOV_ITERS steps as chained CTEs.

    Scale: the corpus is touched once by the event_transitions lag
    window + rollup; all iteration happens on the |states|^2 count
    matrix (a broadcast-sized frame), so plan depth is
    O(_MARKOV_ITERS) joins over constant-size inputs — the in-plan
    sibling of the pca power iteration, with integers instead of
    folds."""
    ev = tables.table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.lag("event_type").over(w).alias("src"),
            F.col("event_type").alias("dst"),
        )
        .filter(F.col("src").isNotNull())
    )
    trans = pairs.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    rowsum = trans.groupBy("src").agg(
        F.sum("c").cast("bigint").alias("t")
    )
    tmat = trans.join(rowsum, "src")
    # Round-11 reshape (guide §2.4 — remove shuffles outright): the
    # iteration used to be _MARKOV_ITERS chained join+groupBy+join
    # rounds over the broadcast-sized count matrix — ~3 tiny stages
    # per round, ~40 stages of pure scheduling overhead (measured
    # 7-8 s in-bench, exec-phase dominated). The matrix is |states|^2
    # (constant, states is a small enum), so the whole fixpoint fits
    # in ONE row: collect the matrix and the sorted state list into
    # arrays, run the same exact-integer steps as higher-order
    # functions inside a single projection (v'[d] = sum over inbound
    # e of (v[e.src] * e.c) div e.t — BIGINT multiply, floor div,
    # commutative integer sum: bit-identical to the join form, states
    # with no inbound edges aggregate over an empty filter to the
    # same 0), and explode back to (event_type, v_fp, pi). Plan: the
    # corpus-touching lag window + two rollups survive; the iteration
    # itself is now 0 shuffles instead of ~3 per round.
    states_row = ev.agg(
        F.array_sort(F.collect_set("event_type")).alias("ss")
    )
    mat_row = tmat.agg(
        F.collect_list(F.struct("src", "dst", "c", "t")).alias("mat0")
    )
    one = (
        states_row.crossJoin(F.broadcast(mat_row))
        .withColumn(
            "mat",
            F.expr(
                "transform(mat0, e -> struct("
                "cast(array_position(ss, e.src) as int) as si, "
                "e.dst as dst, e.c as c, e.t as t))"
            ),
        )
        .withColumn(
            "v",
            F.expr(
                f"transform(ss, s -> cast({_MARKOV_SCALE} as bigint)"
                " div cast(size(ss) as bigint))"
            ),
        )
    )
    # The fixpoint is ONE fold over a constant step sequence with the
    # whole vector as the accumulator — NOT _MARKOV_ITERS chained
    # withColumn("v", ...) layers: collapsed projections re-evaluate
    # a referenced lambda expression per element ACCESS (no
    # memoization in interpreted HOF eval), which makes a 12-deep
    # nest exponential at runtime (measured: hangs). The fold binds
    # each step's accumulator as a VALUE, so total work is
    # ITERS x |states| x |matrix|.
    fix = (
        f"aggregate(sequence(1, {_MARKOV_ITERS}), v, "
        "(vv, i) -> transform(ss, d -> aggregate("
        "filter(mat, e -> e.dst = d), cast(0 as bigint), "
        "(acc, e) -> acc + (element_at(vv, e.si) * e.c) div e.t)))"
    )
    one = one.withColumn("v", F.expr(fix))
    return (
        one.withColumn(
            "tot",
            F.expr("aggregate(v, cast(0 as bigint), (acc, x) -> acc + x)"),
        )
        .select(F.explode(F.arrays_zip("ss", "v")).alias("z"), "tot")
        .select(
            F.col("z.ss").alias("event_type"),
            F.col("z.v").alias("v_fp"),
            (F.col("z.v").cast("double") / F.col("tot").cast("double")).alias(
                "pi"
            ),
        )
    )


def _markov_oracle() -> str:
    steps = []
    prev = "v0"
    for i in range(_MARKOV_ITERS):
        cur = f"v{i + 1}"
        steps.append(f"""
{cur} AS (
  SELECT s.state,
         COALESCE((
           SELECT CAST(sum((p.v * t.c) // t.t) AS BIGINT)
           FROM tmat t JOIN {prev} p ON p.state = t.src
           WHERE t.dst = s.state
         ), 0) AS v
  FROM states s
)""")
        prev = cur
    chain = ",".join(steps)
    return f"""
WITH pairs AS (
  SELECT lag(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS src,
         event_type AS dst
  FROM events
),
trans AS (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS c
  FROM pairs WHERE src IS NOT NULL GROUP BY 1, 2
),
rowsum AS (
  SELECT src, CAST(sum(c) AS BIGINT) AS t FROM trans GROUP BY 1
),
tmat AS (
  SELECT tr.src, tr.dst, tr.c, r.t FROM trans tr JOIN rowsum r USING (src)
),
states AS (SELECT DISTINCT event_type AS state FROM events),
ns AS (SELECT CAST(count(*) AS BIGINT) AS n FROM states),
v0 AS (
  SELECT state, CAST(CAST({_MARKOV_SCALE} AS BIGINT) // n AS BIGINT) AS v
  FROM states CROSS JOIN ns
),{chain},
tot AS (SELECT CAST(sum(v) AS BIGINT) AS t FROM {prev})
SELECT p.state AS event_type, p.v AS v_fp,
       CAST(p.v AS DOUBLE) / CAST(tot.t AS DOUBLE) AS pi
FROM {prev} p CROSS JOIN tot
"""


MARKOV_STATIONARY_ORACLE = _markov_oracle()


# --------------------------------------------------------------------------
# First-touch vs last-touch revenue attribution
# --------------------------------------------------------------------------


@query()
def revenue_attribution_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(model, channel, n_purchases, cents): purchase revenue
    attributed to the non-purchase event type ('channel') that
    preceded it in the user's stream — under BOTH classic rules in
    one result: 'first' credits the user's earliest preceding
    touchpoint, 'last' the most recent one; purchases with no
    preceding touchpoint land in channel 'none'. First-vs-last
    disagreement per channel is the standard spread that bounds any
    position-based attribution model between them.

    Exactness: the preceding touchpoint is an IGNORE NULLS
    first/last over the deterministic (ts, event_id) user order —
    an exact row lookup, no floats; revenue is exact BIGINT cents.

    Scale: ONE user-partitioned window pass (the sessionization
    budget), then a |models| x |channels| rollup. The corpus is
    never joined to itself."""
    ev = tables.table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    touch = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    attributed = ev.select(
        "event_type",
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
        F.first(touch, ignorenulls=True).over(w).alias("first_ch"),
        F.last(touch, ignorenulls=True).over(w).alias("last_ch"),
    ).filter(F.col("event_type") == "purchase")
    first = attributed.groupBy(
        F.lit("first").alias("model"),
        F.coalesce("first_ch", F.lit("none")).alias("channel"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
        F.sum("cents").cast("bigint").alias("cents"),
    )
    last = attributed.groupBy(
        F.lit("last").alias("model"),
        F.coalesce("last_ch", F.lit("none")).alias("channel"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
        F.sum("cents").cast("bigint").alias("cents"),
    )
    return first.unionByName(last)


REVENUE_ATTRIBUTION_ORACLE = """
WITH attributed AS (
  SELECT event_type,
         CAST(floor(value * 100) AS BIGINT) AS cents,
         first_value(CASE WHEN event_type <> 'purchase'
                          THEN event_type END IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS first_ch,
         last_value(CASE WHEN event_type <> 'purchase'
                         THEN event_type END IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS last_ch
  FROM events
)
SELECT 'first' AS model,
       COALESCE(first_ch, 'none') AS channel,
       CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(sum(cents) AS BIGINT) AS cents
FROM attributed WHERE event_type = 'purchase'
GROUP BY 2
UNION ALL
SELECT 'last' AS model,
       COALESCE(last_ch, 'none') AS channel,
       CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(sum(cents) AS BIGINT) AS cents
FROM attributed WHERE event_type = 'purchase'
GROUP BY 2
"""


# --------------------------------------------------------------------------
# Audience-overlap Jaccard matrix between event types
# --------------------------------------------------------------------------


@query()
def audience_overlap_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(type_a, type_b, n_a, n_b, n_both, jaccard): the user-audience
    overlap between every pair of event types — |users doing both| /
    |users doing either| — the audience-segmentation matrix behind
    "does the error population overlap the purchase population" and
    behind choosing which event streams can share a sampled user
    panel. Jaccard near 1 means the types describe one population;
    near 0, disjoint behaviors.

    Exactness: audiences are exact distinct-user counts; the overlap
    join is on user_id (each user carries at most |types| flags, so
    the self-join multiplicity is bounded by |types|^2 per user);
    jaccard is one division of exact BIGINTs.

    Scale: one distinct rollup to (user, type) flags (id-width), a
    bounded-multiplicity self-join on user_id, then a |types|^2
    aggregate with the |types|-row audience counts broadcast back."""
    ev = tables.table(spark, sf_dir, "events")
    flags = ev.select("user_id", "event_type").distinct()
    aud = flags.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_aud")
    )
    a = flags.select("user_id", F.col("event_type").alias("type_a"))
    b = flags.select("user_id", F.col("event_type").alias("type_b"))
    both = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
    )
    aa = F.broadcast(
        aud.select(
            F.col("event_type").alias("type_a"),
            F.col("n_aud").alias("n_a"),
        )
    )
    bb = F.broadcast(
        aud.select(
            F.col("event_type").alias("type_b"),
            F.col("n_aud").alias("n_b"),
        )
    )
    return (
        both.join(aa, "type_a")
        .join(bb, "type_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            (
                F.col("n_both").cast("double")
                / (
                    F.col("n_a") + F.col("n_b") - F.col("n_both")
                ).cast("double")
            ).alias("jaccard"),
        )
    )


AUDIENCE_OVERLAP_ORACLE = """
WITH flags AS (
  SELECT DISTINCT user_id, event_type FROM events
),
aud AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_aud
  FROM flags GROUP BY 1
),
both_t AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(count(*) AS BIGINT) AS n_both
  FROM flags a
  JOIN flags b ON b.user_id = a.user_id
              AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT t.type_a, t.type_b,
       xa.n_aud AS n_a, xb.n_aud AS n_b, t.n_both,
       CAST(t.n_both AS DOUBLE)
         / CAST(xa.n_aud + xb.n_aud - t.n_both AS DOUBLE) AS jaccard
FROM both_t t
JOIN aud xa ON xa.event_type = t.type_a
JOIN aud xb ON xb.event_type = t.type_b
"""


# --------------------------------------------------------------------------
# Little's law self-audit over the session sweep
# --------------------------------------------------------------------------


@query()
def littles_law_audit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, n_sessions, busy_us_sweep, busy_us_durations,
    littles_gap, mean_concurrency, lambda_per_hour, mean_duration_s):
    Little's law (L = lambda * W) audited per day over the
    30-minute-gap sessions — with BOTH sides derived independently:
    busy_us_sweep integrates the concurrency step function from the
    sweep-line points (sum of running_value * time-to-next-point),
    busy_us_durations sums segment lengths directly. The two are
    mathematically identical, so littles_gap MUST be exactly 0 — a
    cross-derivation consistency audit of the whole sessionization +
    sweep pipeline (the same role the IVM oracle plays for the join
    view), plus the capacity numbers a serving tier reads: mean
    concurrency L, arrival rate lambda, mean session duration W.

    Exactness: everything is integer microseconds off the shared
    pinned day-segment frame; the three readouts are final IEEE
    divisions. Scale: sweep points are O(sessions) rows in
    day-partitioned windows — the session_concurrency budget; no new
    corpus pass (the segment frame is pinned and shared)."""
    seg = session_day_segments(spark, sf_dir)
    durations = seg.groupBy("d").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum(F.col("b") - F.col("a") + 1).cast("bigint").alias(
            "busy_us_durations"
        ),
    )
    points = seg.select(
        "d", F.col("a").alias("t"), F.lit(1).alias("delta")
    ).unionAll(
        seg.select("d", (F.col("b") + 1).alias("t"), F.lit(-1).alias("delta"))
    )
    net = points.groupBy("d", "t").agg(
        F.sum("delta").cast("bigint").alias("nd")
    )
    w_run = Window.partitionBy("d").orderBy("t").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_next = Window.partitionBy("d").orderBy("t")
    stepped = net.select(
        "d",
        "t",
        F.sum("nd").over(w_run).alias("r"),
        F.lead("t").over(w_next).alias("t_next"),
    )
    sweep = stepped.filter(F.col("t_next").isNotNull()).groupBy("d").agg(
        F.sum(F.col("r") * (F.col("t_next") - F.col("t")))
        .cast("bigint")
        .alias("busy_us_sweep")
    )
    day_us = 86_400_000_000
    return durations.join(sweep, "d").select(
        F.col("d").alias("day"),
        "n_sessions",
        "busy_us_sweep",
        "busy_us_durations",
        (F.col("busy_us_sweep") - F.col("busy_us_durations"))
        .cast("bigint")
        .alias("littles_gap"),
        (F.col("busy_us_sweep").cast("double") / F.lit(float(day_us)))
        .alias("mean_concurrency"),
        (F.col("n_sessions").cast("double") * F.lit(24.0)).alias(
            "lambda_per_hour"
        ),
        (
            F.col("busy_us_durations").cast("double")
            / F.col("n_sessions").cast("double")
            / F.lit(1_000_000.0)
        ).alias("mean_duration_s"),
    )


def _littles_oracle() -> str:
    # Reuse the concurrency oracle's segment-derivation prefix
    # (flagged -> sess -> iv -> seg) verbatim, so both audits sweep
    # IDENTICAL segments — the split point is the first downstream CTE.
    seg_prefix = SESSION_CONCURRENCY_ORACLE.split("points AS")[0].rstrip()
    return f"""
{seg_prefix}
durations AS (
  SELECT d, CAST(count(*) AS BIGINT) AS n_sessions,
         CAST(sum(b - a + 1) AS BIGINT) AS busy_us_durations
  FROM seg GROUP BY 1
),
points AS (
  SELECT d, a AS t, 1 AS delta FROM seg
  UNION ALL
  SELECT d, b + 1 AS t, -1 AS delta FROM seg
),
net AS (
  SELECT d, t, CAST(sum(delta) AS BIGINT) AS nd
  FROM points GROUP BY 1, 2
),
stepped AS (
  SELECT d, t,
         sum(nd) OVER (PARTITION BY d ORDER BY t) AS r,
         lead(t) OVER (PARTITION BY d ORDER BY t) AS t_next
  FROM net
),
sweep AS (
  SELECT d, CAST(sum(r * (t_next - t)) AS BIGINT) AS busy_us_sweep
  FROM stepped WHERE t_next IS NOT NULL GROUP BY 1
)
SELECT du.d AS day, du.n_sessions, s.busy_us_sweep,
       du.busy_us_durations,
       CAST(s.busy_us_sweep - du.busy_us_durations AS BIGINT)
         AS littles_gap,
       CAST(s.busy_us_sweep AS DOUBLE) / 86400000000.0
         AS mean_concurrency,
       CAST(du.n_sessions AS DOUBLE) * 24.0 AS lambda_per_hour,
       CAST(du.busy_us_durations AS DOUBLE)
         / CAST(du.n_sessions AS DOUBLE) / 1000000.0 AS mean_duration_s
FROM durations du JOIN sweep s USING (d)
"""


LITTLES_LAW_AUDIT_ORACLE = _littles_oracle()


# --------------------------------------------------------------------------
# Longest consecutive-day activity streak distribution
# --------------------------------------------------------------------------


@query()
def activity_streaks_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(max_streak, n_users, frac_users): how many users' LONGEST run
    of consecutive active days is exactly k — the engagement-depth
    distribution behind habit metrics (DAU says how many showed up
    today; the streak distribution says who shows up every day). The
    gaps-and-islands identity: within a user's sorted distinct active
    days, day - row_number() is constant exactly on a consecutive
    run.

    Exactness: all integer day arithmetic and counts; frac is one
    final division. Scale: one distinct (user, day) rollup (id-width)
    , one user-partitioned rank window over active days (<= span
    rows per user), then histogram rollups."""
    ev = tables.table(spark, sf_dir, "events")
    days = ev.select(
        "user_id",
        F.expr("unix_micros(ts) div 86400000000").alias("d"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    islands = days.select(
        "user_id",
        (F.col("d") - F.row_number().over(w)).alias("grp"),
    )
    runs = islands.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("run_len")
    )
    per_user = runs.groupBy("user_id").agg(
        F.max("run_len").cast("bigint").alias("max_streak")
    )
    totals = per_user.agg(F.count(F.lit(1)).cast("bigint").alias("nu"))
    return (
        per_user.groupBy("max_streak")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .crossJoin(F.broadcast(totals))
        .select(
            "max_streak",
            "n_users",
            (
                F.col("n_users").cast("double") / F.col("nu").cast("double")
            ).alias("frac_users"),
        )
    )


ACTIVITY_STREAKS_ORACLE = """
WITH days AS (
  SELECT DISTINCT user_id,
         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d
  FROM events
),
islands AS (
  SELECT user_id,
         d - row_number() OVER (PARTITION BY user_id ORDER BY d) AS grp
  FROM days
),
runs AS (
  SELECT user_id, grp, CAST(count(*) AS BIGINT) AS run_len
  FROM islands GROUP BY 1, 2
),
per_user AS (
  SELECT user_id, CAST(max(run_len) AS BIGINT) AS max_streak
  FROM runs GROUP BY 1
),
totals AS (SELECT CAST(count(*) AS BIGINT) AS nu FROM per_user)
SELECT p.max_streak, CAST(count(*) AS BIGINT) AS n_users,
       CAST(count(*) AS DOUBLE) / CAST(t.nu AS DOUBLE) AS frac_users
FROM per_user p CROSS JOIN totals t
GROUP BY 1, t.nu
"""

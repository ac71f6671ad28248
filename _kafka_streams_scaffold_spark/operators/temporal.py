"""Temporal table maintenance: SCD Type-2 history builds and
time-series gap repair.

The reference's KTable is a *Type-1* view — latest value per key,
history discarded (``operators/changelog.py`` is that operator;
reference site `streams/PurchasesTopology.java:57`). Warehouse
pipelines over the same changelog usually ALSO need the Type-2 form
(every value with its validity interval) and a dense time spine
(gap-filled, forward-filled series) for training-window extraction
and feature engineering. Both are single-shuffle window constructions
— no iteration, no UDFs.

Scale notes per operator in the docstrings; the common shape is: one
hash partition by entity key, one sort within partition, window
functions inside whole-stage codegen, then partial-aggregatable
groupBys. Nothing here widens rows beyond the input or crosses to the
driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import tables
from ..registry import query


# --------------------------------------------------------------------------
# SCD Type-2 history (changelog -> validity intervals)
# --------------------------------------------------------------------------

@query()
def scd2_history_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, event_type, valid_from, valid_to, is_current): the
    Type-2 dimension a changelog consumer materializes — each run of
    identical consecutive ``event_type`` values per user collapses to
    one row carrying the interval over which it was the user's
    current state; the open interval (``valid_to IS NULL``) is the
    live row.

    Construction: one window (lag) marks change points, a filter
    keeps them, a second window (lead) closes each interval with the
    next change's start. Both windows partition by user_id and order
    by (ts, event_id) — the deterministic total order the session
    operator also uses — so the result is bit-stable under any input
    order. One shuffle total; at 100 TB this is the standard
    hash-partition-by-entity + sort-within-partition plan, and the
    output is strictly smaller than the input (change points only).
    """
    ev = tables.table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changed = (
        ev.withColumn("prev_type", F.lag("event_type").over(order))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type"))
        )
        .select("user_id", "event_type", "ts", "event_id")
    )
    corder = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return changed.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(corder).alias("valid_to"),
    ).withColumn("is_current", F.col("valid_to").isNull())


SCD2_HISTORY_ORACLE = """
WITH marked AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER w AS prev_type
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
changes AS (
  SELECT user_id, event_type, ts, event_id FROM marked
  WHERE prev_type IS NULL OR prev_type <> event_type
)
SELECT user_id, event_type,
       ts AS valid_from,
       lead(ts) OVER w AS valid_to,
       lead(ts) OVER w IS NULL AS is_current
FROM changes
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


# --------------------------------------------------------------------------
# Gap fill + forward fill (dense daily spine)
# --------------------------------------------------------------------------

@query()
def gap_fill_daily_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, n_purchases, revenue_cents, ff_revenue_cents): purchase
    activity on a DENSE daily spine from the first to the last
    observed day — missing days appear with zero counts and the last
    observed day's revenue carried forward (the feature-engineering
    form: "most recent known value as of day D").

    Revenue is fixed-point cents (floor(value*100) per row, BIGINT
    sum) so the fill is exact on both engines. The spine is built by
    exploding ``sequence(min_day, max_day)`` off a one-row bounds
    aggregate — a broadcast-join of one row against ~days rows, never
    a cartesian risk. The forward fill is ``last(ignorenulls)`` over
    the globally-ordered spine; the spine is DAYS-sized (tiny even at
    100 TB of raw events — 30 years is ~11k rows), so the single-
    partition window on it is deliberate and bounded: the heavy,
    corpus-sized work (the daily aggregate) is partial-aggregated and
    hash-partitioned before ever touching the spine.
    """
    ev = tables.table(spark, sf_dir, "events")
    daily = ev.filter(F.col("event_type") == "purchase").groupBy(
        F.to_date("ts").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum(F.floor(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("revenue_cents"),
    )
    bounds = daily.agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    spine = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("day")
    )
    filled = spine.join(daily, "day", "left")
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return filled.select(
        "day",
        F.coalesce("n_purchases", F.lit(0)).cast("bigint").alias("n_purchases"),
        F.coalesce("revenue_cents", F.lit(0))
        .cast("bigint")
        .alias("revenue_cents"),
        F.coalesce(F.last("revenue_cents", ignorenulls=True).over(w), F.lit(0))
        .cast("bigint")
        .alias("ff_revenue_cents"),
    )


GAP_FILL_DAILY_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n_purchases,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
           AS revenue_cents
  FROM events
  WHERE event_type = 'purchase'
  GROUP BY 1
),
spine AS (
  SELECT CAST(unnest(generate_series(min_d, max_d, INTERVAL 1 DAY)) AS DATE)
           AS day
  FROM (SELECT min(day) AS min_d, max(day) AS max_d FROM daily)
)
SELECT s.day,
       COALESCE(d.n_purchases, 0) AS n_purchases,
       COALESCE(d.revenue_cents, 0) AS revenue_cents,
       COALESCE(last_value(d.revenue_cents IGNORE NULLS) OVER (
         ORDER BY s.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ), 0) AS ff_revenue_cents
FROM spine s LEFT JOIN daily d ON d.day = s.day
"""


# --------------------------------------------------------------------------
# Snapshot diff (batch CDC between two table states)
# --------------------------------------------------------------------------

def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key: str,
    cols: list[str],
    payload: bool = False,
) -> DataFrame:
    """Generic batch CDC: (key, change) for every row that differs
    between two snapshots — ``insert`` (key only in new), ``delete``
    (key only in old), ``update`` (key in both, any compared column
    differs). Unchanged rows are filtered out before anything leaves
    the join, so output size is the churn, not the table.

    ``payload=True`` additionally carries the NEW-side value of every
    compared column (NULL for deletes — a tombstone needs only its
    key), making the output directly applicable by a CDC consumer
    (``streaming.pipeline.run_apply_changes`` /
    ``ParquetChangelogStore.apply_cdc_batch``); the keys-only form is
    the audit/metrics shape.

    One full-outer join on the key: each side shuffles once (or not
    at all when both snapshots share a bucketed layout, the natural
    state for day-over-day snapshots of the same table). Column
    comparison is typed (null-safe equality), never stringified — no
    cross-engine rendering hazards and no hash collisions."""
    o = old.select(
        F.col(key).alias("k_old"),
        *[F.col(c).alias(f"o_{c}") for c in cols],
    )
    n = new.select(
        F.col(key).alias("k_new"),
        *[F.col(c).alias(f"n_{c}") for c in cols],
    )
    changed = [
        ~F.col(f"o_{c}").eqNullSafe(F.col(f"n_{c}")) for c in cols
    ]
    any_changed = changed[0]
    for c in changed[1:]:
        any_changed = any_changed | c
    change = (
        F.when(F.col("k_old").isNull(), F.lit("insert"))
        .when(F.col("k_new").isNull(), F.lit("delete"))
        .when(any_changed, F.lit("update"))
    )
    out_cols = [
        F.coalesce("k_old", "k_new").alias(key),
        change.alias("change"),
    ]
    if payload:
        out_cols += [F.col(f"n_{c}").alias(c) for c in cols]
    return (
        o.join(n, F.col("k_old") == F.col("k_new"), "full_outer")
        .select(*out_cols)
        .filter(F.col("change").isNotNull())
    )


@query()
def snapshot_diff_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o_orderkey, change): CDC between two deterministic synthetic
    snapshots of ``orders`` — old = keys not divisible by 10 with a
    simulated stale total on keys divisible by 7; new = keys not
    divisible by 13. Yields all three change kinds (inserts: %10
    keys, deletes: %13 keys, updates: %7 keys present in both) so
    the operator's full surface is hash-checked."""
    orders = tables.table(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 10 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1.0
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderstatus",
    )
    new = orders.filter(F.col("o_orderkey") % 13 != 0).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    return snapshot_diff(
        old, new, "o_orderkey", ["o_totalprice", "o_orderstatus"]
    )


@query()
def snapshot_diff_full_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o_orderkey, change, o_totalprice, o_orderstatus): the
    APPLY-ready CDC shape — same synthetic old/new pair as
    ``snapshot_diff_query`` but carrying the new-side row payload, so
    the output feeds ``run_apply_changes`` directly (inserts/updates
    upsert full rows; deletes are key-only tombstones). The round-3
    advisory noted the keys-only diff cannot be applied; this is the
    applicable twin, hash-checked end to end."""
    orders = tables.table(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 10 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1.0
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderstatus",
    )
    new = orders.filter(F.col("o_orderkey") % 13 != 0).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    return snapshot_diff(
        old, new, "o_orderkey", ["o_totalprice", "o_orderstatus"],
        payload=True,
    )


SNAPSHOT_DIFF_FULL_ORACLE = """
WITH old AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
              ELSE o_totalprice END AS o_totalprice,
         o_orderstatus
  FROM orders WHERE o_orderkey % 10 <> 0
),
new AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus
  FROM orders WHERE o_orderkey % 13 <> 0
),
d AS (
  SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
         CASE WHEN o.o_orderkey IS NULL THEN 'insert'
              WHEN n.o_orderkey IS NULL THEN 'delete'
              WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice
                OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
              THEN 'update' END AS change,
         n.o_totalprice, n.o_orderstatus
  FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
)
SELECT * FROM d WHERE change IS NOT NULL
"""


SNAPSHOT_DIFF_ORACLE = """
WITH old AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
              ELSE o_totalprice END AS o_totalprice,
         o_orderstatus
  FROM orders WHERE o_orderkey % 10 <> 0
),
new AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus
  FROM orders WHERE o_orderkey % 13 <> 0
)
SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
       CASE WHEN o.o_orderkey IS NULL THEN 'insert'
            WHEN n.o_orderkey IS NULL THEN 'delete'
            WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice
              OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
            THEN 'update' END AS change
FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
WHERE CASE WHEN o.o_orderkey IS NULL THEN 'insert'
           WHEN n.o_orderkey IS NULL THEN 'delete'
           WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice
             OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
           THEN 'update' END IS NOT NULL
"""


# --------------------------------------------------------------------------
# Incremental view maintenance from CDC (retraction-correct)
# --------------------------------------------------------------------------

@query()
def ivm_status_counts_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o_orderstatus, n_orders): per-status order counts of the NEW
    snapshot, computed WITHOUT scanning it — the old snapshot's
    counts plus retraction-correct deltas derived from the CDC diff
    (insert -> +1 on the new row's status, delete -> -1 on the old
    row's status, update -> -1 old status / +1 new status). The
    DuckDB oracle deliberately computes the OTHER formulation — a
    full recompute over the new snapshot — so the hash check proves
    the maintenance identity itself: incremental state + deltas ==
    recompute, the contract every streaming materialized view
    (KTable, Flink retract stream, Materialize) rests on.

    Scale: the delta path touches |churn| rows, not |table| — the
    point of IVM; the merge is a union of (status, signed count)
    partials into one partial-aggregatable groupBy. Snapshots reuse
    snapshot_diff's synthetic old/new pair, so all three change kinds
    exercise the retraction arithmetic."""
    orders = tables.table(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 10 != 0).select(
        "o_orderkey", "o_orderstatus"
    )
    new = orders.filter(F.col("o_orderkey") % 13 != 0).select(
        "o_orderkey", "o_orderstatus"
    )
    counts_old = old.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("d")
    )
    o = old.select(
        F.col("o_orderkey").alias("k"), F.col("o_orderstatus").alias("os")
    )
    n = new.select(
        F.col("o_orderkey").alias("k"), F.col("o_orderstatus").alias("ns")
    )
    joined = o.join(n, "k", "full_outer")
    minus = joined.filter(F.col("os").isNotNull() & (
        F.col("ns").isNull() | (F.col("ns") != F.col("os"))
    )).select(F.col("os").alias("o_orderstatus"), F.lit(-1).alias("d"))
    plus = joined.filter(F.col("ns").isNotNull() & (
        F.col("os").isNull() | (F.col("os") != F.col("ns"))
    )).select(F.col("ns").alias("o_orderstatus"), F.lit(1).alias("d"))
    return (
        counts_old.unionByName(minus).unionByName(plus)
        .groupBy("o_orderstatus")
        .agg(F.sum("d").cast("bigint").alias("n_orders"))
        .filter(F.col("n_orders") > 0)
    )


IVM_STATUS_COUNTS_ORACLE = """
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders
FROM orders
WHERE o_orderkey % 13 <> 0
GROUP BY o_orderstatus
"""


# --------------------------------------------------------------------------
# Point-in-time dimension join (leakage-free feature enrichment)
# --------------------------------------------------------------------------

def scd2_intervals(ev: DataFrame) -> DataFrame:
    """The SCD2 interval construction over any (user_id, event_type,
    ts, event_id) stream — factored out so PIT consumers can build
    dimensions from FILTERED streams (e.g. non-purchase activity)."""
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changed = (
        ev.withColumn("prev_type", F.lag("event_type").over(order))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type"))
        )
        .select("user_id", "event_type", "ts", "event_id")
    )
    return changed.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(order).alias("valid_to"),
    )


@query()
def pit_dimension_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(state_at_purchase, n_purchases, revenue_cents): every purchase
    joined to the user's ACTIVITY-state interval valid at its
    timestamp (``valid_from <= ts < valid_to``; dimension built from
    the NON-purchase event stream, so the answer is "what was the
    user doing when they bought", not the purchase itself) — the
    point-in-time-correct join a feature store runs to guarantee
    training features contain no future information. Using TODAY'S
    dimension value instead of the interval match is the classic
    silent leakage this operator exists to prevent.

    Intervals partition each user's timeline from their first
    non-purchase event, so every purchase matches at most one
    interval; purchases BEFORE any activity roll up under 'none'
    (left join — total revenue is conserved, asserted in tests).
    Scale: equi-join on user_id with the interval predicate as a
    residual — both sides hash-partition by user, the dimension side
    is change-points only, the rollup is partial-aggregatable over
    |states|+1 rows."""
    ev = tables.table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    dim = scd2_intervals(
        ev.filter(F.col("event_type") != "purchase").select(
            "user_id", "event_type", "ts", "event_id"
        )
    )
    j = purchases.join(
        dim,
        (F.col("p_user") == F.col("user_id"))
        & (F.col("valid_from") <= F.col("p_ts"))
        & (F.col("valid_to").isNull() | (F.col("p_ts") < F.col("valid_to"))),
        "left",
    )
    return j.groupBy(
        F.coalesce("event_type", F.lit("none")).alias("state_at_purchase")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
        F.sum("cents").cast("bigint").alias("revenue_cents"),
    )


def _pit_oracle() -> str:
    return """
WITH marked AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER w AS prev_type
  FROM events
  WHERE event_type <> 'purchase'
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
dim AS (
  SELECT user_id, event_type,
         ts AS valid_from,
         lead(ts) OVER w AS valid_to
  FROM marked
  WHERE prev_type IS NULL OR prev_type <> event_type
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
purchases AS (
  SELECT user_id AS p_user, ts AS p_ts,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
)
SELECT COALESCE(d.event_type, 'none') AS state_at_purchase,
       CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(sum(p.cents) AS BIGINT) AS revenue_cents
FROM purchases p
LEFT JOIN dim d
  ON d.user_id = p.p_user
 AND d.valid_from <= p.p_ts
 AND (d.valid_to IS NULL OR p.p_ts < d.valid_to)
GROUP BY 1
"""


PIT_DIMENSION_JOIN_ORACLE = _pit_oracle()


# --------------------------------------------------------------------------
# Incremental JOIN-view maintenance (the bilinear delta rule)
# --------------------------------------------------------------------------


@query()
def ivm_join_revenue_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(c_nationkey, n_pairs, revenue): the per-nation revenue view
    over orders JOIN customer, maintained INCREMENTALLY through a
    churn step via the bilinear delta rule every streaming join
    maintainer (Materialize, Flink changelog joins, DBSP) rests on:

        delta(A JOIN B) = dA JOIN B_old + A_old JOIN dB + dA JOIN dB

    with signed multiplicities (+1 insert, -1 delete; updates are a
    delete+insert pair — the attribute-update retraction arithmetic
    is ivm_status_counts' subject). The Spark side computes
    V_old + delta; the DuckDB oracle deliberately computes the OTHER
    formulation — a full recompute over the new snapshots — so the
    hash check machine-proves the maintenance identity itself, on an
    exact-integer money measure (``revenue_cents BIGINT`` via
    per-row ``floor(100 * o_totalprice)``, the repo-wide cents
    convention, cf. pit_dimension_join — no float drift to hide
    behind, and no DECIMAL at the gate boundary: r06's driver red
    was this query surfacing the registry's only DECIMAL output,
    which the driver's 9-sig-digit canonicalizer cannot carry at
    1e10 cents).

    Scale: the three delta joins touch |dA| and |dB| rows against the
    OTHER side's base (broadcast-able churn batches at real CDC
    rates), never |A| x |B|; the final merge is one
    partial-aggregatable rollup of (nation, signed decimal) partials.
    Snapshot churn: orders keyed out by %10/%13 (as in
    ivm_status_counts/snapshot_diff), customers by %7/%11 — both
    sides churn, so all three delta terms are non-trivially
    exercised."""
    orders = tables.table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    cust = tables.table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    v_old, delta_rows = ivm_pieces(orders, cust)
    delta = delta_rows.groupBy("c_nationkey").agg(
        F.sum("w").cast("bigint").alias("dp"),
        F.sum(F.col("w") * F.col("cents")).cast("bigint").alias("dr"),
    )
    merged = (
        v_old.join(delta, "c_nationkey", "full_outer")
        .select(
            "c_nationkey",
            (
                F.coalesce(F.col("p"), F.lit(0))
                + F.coalesce(F.col("dp"), F.lit(0))
            )
            .cast("bigint")
            .alias("n_pairs"),
            (
                F.coalesce(F.col("r"), F.lit(0))
                + F.coalesce(F.col("dr"), F.lit(0))
            )
            .cast("bigint")
            .alias("revenue_cents"),
        )
        .filter(F.col("n_pairs") > 0)
    )
    return merged.select("c_nationkey", "n_pairs", "revenue_cents")


def ivm_pieces(
    orders: DataFrame, cust: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """The (V_old, signed-delta-rows) decomposition behind
    ``ivm_join_revenue_query``, exposed so the STREAMING twin
    (tests/test_streaming_ivm.py, ``streaming/pipeline.py::
    streaming_ivm_deltas``) can feed the identical delta rows through
    a KTable-style update-mode aggregation and prove convergence to
    the batch view — the reference's continuously-updated aggregate
    contract (streams/PurchasesTopology.java:62-66) applied to a JOIN
    view. ``orders`` must carry (o_orderkey, o_custkey, cents BIGINT);
    ``cust`` (c_custkey, c_nationkey). Returns

    - v_old: (c_nationkey, p, r) — the maintained state pre-churn
    - delta_rows: (c_nationkey, w, cents) — one signed row per
      affected join pair across the three bilinear terms
      dA JOIN B_old, A_old JOIN dB, dA JOIN dB.
    """
    o_old = orders.filter(F.col("o_orderkey") % 10 != 0)
    o_new = orders.filter(F.col("o_orderkey") % 13 != 0)
    c_old = cust.filter(F.col("c_custkey") % 7 != 0)
    c_new = cust.filter(F.col("c_custkey") % 11 != 0)

    def _signed(new: DataFrame, old: DataFrame, key: str) -> DataFrame:
        ins = new.join(old.select(key), key, "left_anti").withColumn(
            "sgn", F.lit(1)
        )
        dels = old.join(new.select(key), key, "left_anti").withColumn(
            "sgn", F.lit(-1)
        )
        return ins.unionAll(dels)

    d_o = _signed(o_new, o_old, "o_orderkey")
    d_c = _signed(c_new, c_old, "c_custkey")

    # V_old: the maintained state before the churn step
    v_old = (
        o_old.join(c_old, o_old.o_custkey == c_old.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("p"),
            F.sum("cents").cast("bigint").alias("r"),
        )
    )
    do_b = d_o.join(c_old, d_o.o_custkey == c_old.c_custkey).select(
        "c_nationkey", F.col("sgn").alias("w"), "cents"
    )
    a_dc = o_old.join(d_c, o_old.o_custkey == d_c.c_custkey).select(
        "c_nationkey", F.col("sgn").alias("w"), "cents"
    )
    do_dc = (
        d_o.withColumnRenamed("sgn", "so")
        .join(
            d_c.withColumnRenamed("sgn", "sc"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            "c_nationkey",
            (F.col("so") * F.col("sc")).alias("w"),
            "cents",
        )
    )
    delta_rows = do_b.unionAll(a_dc).unionAll(do_dc)
    return v_old, delta_rows


# Full recompute over the NEW snapshots: equality with the Spark
# side's V_old + delta is the maintenance-identity proof.
IVM_JOIN_REVENUE_ORACLE = """
SELECT c.c_nationkey,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CAST(floor(100 * o.o_totalprice) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM orders o
JOIN customer c ON c.c_custkey = o.o_custkey
WHERE o.o_orderkey % 13 <> 0 AND c.c_custkey % 11 <> 0
GROUP BY c.c_nationkey
HAVING count(*) > 0
"""

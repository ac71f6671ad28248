"""Customer-value segmentation: RFM quartile scoring, per-segment
spend Gini, and inter-order cadence — the standard customer-analytics
trio over the orders/customer tables.

Exactness discipline matches stats.py: money in DECIMAL(12,2) until a
final cast, quartiles as explicit dual-rank selections (SQL-standard
percentile_disc written out so both engines execute the identical
rank formula), and the Gini computed from the closed-form sorted-rank
identity over exact integer cents so the only float is one final
division.

Scale posture: every window is partitioned by c_mktsegment (same as
the driver-green segment_spend_quantiles — at 100 TB the approximate
sketch twin is the first pass and these exact forms are the on-demand
audit); everything else is partial-aggregatable rollups and broadcast
joins of segment-count-sized cutoff frames.

North-star additions (no reference analog; the scaffold's nearest
surface is the purchases aggregation topology,
reference PurchasesService.java:45, which stops at per-key sums).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import tables
from ..registry import query
from .money import dec

# --------------------------------------------------------------------------
# RFM quartile segmentation
# --------------------------------------------------------------------------


def _rfm_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(c_custkey, c_mktsegment, r_days, f_cnt, m_cents): per-customer
    Recency (days from last order to the corpus' last order date —
    deterministic, no wall clock), Frequency (order count), Monetary
    (lifetime spend in exact integer cents). Orders pre-aggregate to
    one row per custkey before touching customer (Q13 discipline)."""
    cust = tables.table(spark, sf_dir, "customer")
    orders = tables.table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.max(F.to_date("o_orderdate")).alias("last_day"),
        F.count(F.lit(1)).cast("bigint").alias("f_cnt"),
        (F.sum(dec("o_totalprice")) * 100).cast("bigint").alias("m_cents"),
    )
    corpus_max = orders.agg(
        F.max(F.to_date("o_orderdate")).alias("max_day")
    )
    per_cust = per_cust.crossJoin(F.broadcast(corpus_max)).select(
        "o_custkey",
        F.datediff("max_day", "last_day").cast("bigint").alias("r_days"),
        "f_cnt",
        "m_cents",
    )
    return cust.join(per_cust, cust.c_custkey == per_cust.o_custkey).select(
        "c_custkey", "c_mktsegment", "r_days", "f_cnt", "m_cents"
    )


_RFM_BASE_CTE = """
base AS (
  SELECT c.c_custkey, c.c_mktsegment, t.r_days, t.f_cnt, t.m_cents
  FROM customer c
  JOIN (
    SELECT o_custkey,
           CAST(mx.max_day - CAST(max(o_orderdate) AS DATE) AS BIGINT)
             AS r_days,
           CAST(count(*) AS BIGINT) AS f_cnt,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT)
             AS m_cents
    FROM orders
    CROSS JOIN (SELECT CAST(max(o_orderdate) AS DATE) AS max_day
                FROM orders) mx
    GROUP BY o_custkey, mx.max_day
  ) t ON t.o_custkey = c.c_custkey
)
"""

_QS = (0.25, 0.5, 0.75)


@query()
def rfm_segments_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(c_mktsegment, r_score, f_score, m_score, n_cust, m_total_cents):
    customers bucketed into per-segment RFM quartile cells. Each
    metric's quartile cutoffs are the values at rank ceil(q·n) in the
    (metric, custkey) total order (explicit percentile_disc), and a
    customer's score is 1 + the number of cutoffs strictly below its
    value — identical arithmetic on both engines, no native quantile
    functions.

    Three per-segment window sorts produce the cutoffs; scoring is a
    broadcast join of the segment-count-sized cutoff frame; the output
    rollup is a combinable groupBy on a (segment, 3 small ints) key."""
    base = _rfm_base(spark, sf_dir)
    ranked = base.select(
        "c_mktsegment",
        "r_days",
        "f_cnt",
        "m_cents",
        *[
            F.row_number()
            .over(
                Window.partitionBy("c_mktsegment").orderBy(m, "c_custkey")
            )
            .alias(f"rn_{m}")
            for m in ("r_days", "f_cnt", "m_cents")
        ],
        F.count(F.lit(1))
        .over(Window.partitionBy("c_mktsegment"))
        .alias("n"),
    )
    cuts = ranked.groupBy("c_mktsegment").agg(
        *[
            F.max(
                F.when(
                    F.col(f"rn_{m}") == F.ceil(F.col("n") * F.lit(q)),
                    F.col(m),
                )
            ).alias(f"{m}_q{i + 1}")
            for m in ("r_days", "f_cnt", "m_cents")
            for i, q in enumerate(_QS)
        ]
    )

    def _score(m: str) -> F.Column:
        s = F.lit(1)
        for i in range(3):
            s = s + (F.col(m) > F.col(f"{m}_q{i + 1}")).cast("int")
        return s

    scored = base.join(
        F.broadcast(cuts.withColumnRenamed("c_mktsegment", "seg")),
        base.c_mktsegment == F.col("seg"),
    ).select(
        "c_mktsegment",
        "m_cents",
        _score("r_days").alias("r_score"),
        _score("f_cnt").alias("f_score"),
        _score("m_cents").alias("m_score"),
    )
    return scored.groupBy(
        "c_mktsegment", "r_score", "f_score", "m_score"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cust"),
        F.sum("m_cents").cast("bigint").alias("m_total_cents"),
    )


def _cut_cols() -> str:
    return ",\n         ".join(
        f"max(CASE WHEN rn_{m} = CAST(ceil(n * {q}) AS BIGINT)"
        f" THEN {m} END) AS {m}_q{i + 1}"
        for m in ("r_days", "f_cnt", "m_cents")
        for i, q in enumerate(_QS)
    )


def _score_sql(m: str) -> str:
    return " + ".join(
        ["1"]
        + [
            f"CASE WHEN b.{m} > c.{m}_q{i + 1} THEN 1 ELSE 0 END"
            for i in range(3)
        ]
    )


RFM_SEGMENTS_ORACLE = f"""
WITH {_RFM_BASE_CTE},
ranked AS (
  SELECT c_mktsegment, r_days, f_cnt, m_cents,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY r_days, c_custkey) AS rn_r_days,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY f_cnt, c_custkey) AS rn_f_cnt,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY m_cents, c_custkey) AS rn_m_cents,
         count(*) OVER (PARTITION BY c_mktsegment) AS n
  FROM base
),
cuts AS (
  SELECT c_mktsegment,
         {_cut_cols()}
  FROM ranked GROUP BY c_mktsegment
),
scored AS (
  SELECT b.c_mktsegment, b.m_cents,
         {_score_sql('r_days')} AS r_score,
         {_score_sql('f_cnt')} AS f_score,
         {_score_sql('m_cents')} AS m_score
  FROM base b JOIN cuts c ON b.c_mktsegment = c.c_mktsegment
)
SELECT c_mktsegment, CAST(r_score AS INT) AS r_score,
       CAST(f_score AS INT) AS f_score, CAST(m_score AS INT) AS m_score,
       CAST(count(*) AS BIGINT) AS n_cust,
       CAST(sum(m_cents) AS BIGINT) AS m_total_cents
FROM scored GROUP BY c_mktsegment, r_score, f_score, m_score
"""


# --------------------------------------------------------------------------
# Per-segment spend inequality (Gini)
# --------------------------------------------------------------------------

@query()
def spend_gini_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(c_mktsegment, n_cust, total_cents, gini): Gini coefficient of
    lifetime spend across customers, per market segment — the
    concentration report behind "N% of revenue comes from the top
    decile". Computed from the sorted-rank identity
    G = (2·Σ i·x_i − (n+1)·Σ x_i) / (n·Σ x_i) with x ascending: the
    rank products accumulate in DECIMAL(38,0) (exact in both engines,
    immune to BIGINT overflow at large n·cents), and the single final
    division is the only float. Σ i·x_i is invariant under
    permutations of tied values, so the (cents, custkey) tiebreak
    makes the result deterministic without affecting it.

    One per-segment window sort + a combinable rollup; nothing wider
    than (segment, two decimals) ever shuffles."""
    base = _rfm_base(spark, sf_dir).select("c_custkey", "c_mktsegment", "m_cents")
    w = Window.partitionBy("c_mktsegment").orderBy("m_cents", "c_custkey")
    ranked = base.select(
        "c_mktsegment",
        "m_cents",
        F.row_number().over(w).cast("bigint").alias("rn"),
    )
    agg = ranked.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("m_cents").cast("decimal(38,0)")).alias("sx"),
        F.sum(
            (F.col("rn") * F.col("m_cents")).cast("decimal(38,0)")
        ).alias("six"),
    )
    gini = F.when(
        (F.col("n") > 0) & (F.col("sx") > 0),
        (
            F.lit(2) * F.col("six").cast("double")
            - (F.col("n") + 1).cast("double") * F.col("sx").cast("double")
        )
        / (F.col("n").cast("double") * F.col("sx").cast("double")),
    )
    return agg.select(
        "c_mktsegment",
        F.col("n").alias("n_cust"),
        F.col("sx").cast("bigint").alias("total_cents"),
        gini.alias("gini"),
    )


SPEND_GINI_ORACLE = f"""
WITH {_RFM_BASE_CTE},
ranked AS (
  SELECT c_mktsegment, m_cents,
         CAST(row_number() OVER (PARTITION BY c_mktsegment
                                 ORDER BY m_cents, c_custkey) AS BIGINT)
           AS rn
  FROM base
),
agg AS (
  SELECT c_mktsegment,
         CAST(count(*) AS BIGINT) AS n,
         sum(CAST(m_cents AS DECIMAL(38,0))) AS sx,
         sum(CAST(rn * m_cents AS DECIMAL(38,0))) AS six
  FROM ranked GROUP BY c_mktsegment
)
SELECT c_mktsegment,
       n AS n_cust,
       CAST(sx AS BIGINT) AS total_cents,
       CASE WHEN n > 0 AND sx > 0 THEN
         (2 * CAST(six AS DOUBLE) - CAST(n + 1 AS DOUBLE) * CAST(sx AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)) END AS gini
FROM agg
"""


# --------------------------------------------------------------------------
# Inter-order cadence per segment
# --------------------------------------------------------------------------

@query()
def order_gap_stats_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(c_mktsegment, n_gaps, avg_gap_days, max_gap_days): the cadence
    between a customer's consecutive orders, rolled up per market
    segment — the re-engagement metric behind churn windows. Gaps are
    exact integer day differences from a per-customer lag (window
    partitioned by custkey: embarrassingly parallel); customers
    pre-aggregate before the customer-table join so the join carries
    one row per customer; avg is the single final division.

    Reuses the as-of/lag machinery posture of asof_prev_purchase but
    rolls up to segment level instead of emitting per-event rows."""
    cust = tables.table(spark, sf_dir, "customer")
    orders = tables.table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.to_date("o_orderdate"), "o_orderkey"
    )
    gaps = orders.select(
        "o_custkey",
        F.datediff(
            F.to_date("o_orderdate"),
            F.lag(F.to_date("o_orderdate")).over(w),
        )
        .cast("bigint")
        .alias("gap"),
    ).filter(F.col("gap").isNotNull())
    per_cust = gaps.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.sum("gap").alias("sum_gap"),
        F.max("gap").alias("max_gap"),
    )
    joined = cust.join(per_cust, cust.c_custkey == per_cust.o_custkey)
    return joined.groupBy("c_mktsegment").agg(
        F.sum("n_gaps").cast("bigint").alias("n_gaps"),
        (
            F.sum("sum_gap").cast("double") / F.sum("n_gaps").cast("double")
        ).alias("avg_gap_days"),
        F.max("max_gap").cast("bigint").alias("max_gap_days"),
    )


ORDER_GAP_STATS_ORACLE = """
WITH gaps AS (
  SELECT o_custkey,
         CAST(CAST(o_orderdate AS DATE)
              - lag(CAST(o_orderdate AS DATE)) OVER (
                  PARTITION BY o_custkey
                  ORDER BY CAST(o_orderdate AS DATE), o_orderkey
                ) AS BIGINT) AS gap
  FROM orders
),
per_cust AS (
  SELECT o_custkey,
         CAST(count(*) AS BIGINT) AS n_gaps,
         CAST(sum(gap) AS BIGINT) AS sum_gap,
         CAST(max(gap) AS BIGINT) AS max_gap
  FROM gaps WHERE gap IS NOT NULL GROUP BY o_custkey
)
SELECT c.c_mktsegment,
       CAST(sum(p.n_gaps) AS BIGINT) AS n_gaps,
       CAST(sum(p.sum_gap) AS DOUBLE) / CAST(sum(p.n_gaps) AS DOUBLE)
         AS avg_gap_days,
       CAST(max(p.max_gap) AS BIGINT) AS max_gap_days
FROM customer c JOIN per_cust p ON p.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
"""

# --------------------------------------------------------------------------
# Lorenz curve points (post-freeze: r09 material)
# --------------------------------------------------------------------------


@query()
def lorenz_curve_points_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(decile, n_users, cum_users_frac, cum_cents, cum_share): the
    Lorenz curve of per-user purchase spend at decile resolution —
    for the poorest d/10 of users (by total cents, ties on user_id),
    the fraction of total revenue they carry. The CURVE behind
    ``spend_gini``'s scalar: the gini says HOW concentrated, the
    Lorenz points say WHERE (a kinked curve at decile 9 is a whale
    economy; a smooth one is broad-based), which is what a sampling
    or monetization decision actually reads.

    Exactness: user totals and cumulative sums are exact BIGINT
    cents; decile membership is the exact rank cutoff
    ``((rank - 1) * 10) div n`` (the cochran_armitage bucketing);
    shares are final IEEE divisions.

    Scale: one partial-aggregatable per-user rollup; the rank window
    runs over |users| rows (id-width) — the same user-spine budget as
    rfm_segments; the curve is a 10-row frame."""
    ev = tables.table(spark, sf_dir, "events")
    totals = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(F.floor(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    w = Window.orderBy("cents", "user_id")
    n_w = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = totals.select(
        "cents",
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(n_w).cast("bigint").alias("n"),
    ).select(
        "cents",
        F.expr("((rn - 1) * 10) div n").cast("int").alias("decile"),
    )
    per_d = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("cents").cast("bigint").alias("d_cents"),
    )
    wc = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return per_d.select(
        "decile",
        "n_users",
        (
            F.sum("n_users").over(wc).cast("double")
            / F.sum("n_users").over(tot).cast("double")
        ).alias("cum_users_frac"),
        F.sum("d_cents").over(wc).cast("bigint").alias("cum_cents"),
        (
            F.sum("d_cents").over(wc).cast("double")
            / F.sum("d_cents").over(tot).cast("double")
        ).alias("cum_share"),
    )


LORENZ_CURVE_POINTS_ORACLE = """
WITH totals AS (
  SELECT user_id,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
ranked AS (
  SELECT cents,
         CAST(((row_number() OVER (ORDER BY cents, user_id) - 1) * 10)
           // count(*) OVER () AS INT) AS decile
  FROM totals
),
per_d AS (
  SELECT decile, CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(cents) AS BIGINT) AS d_cents
  FROM ranked GROUP BY 1
)
SELECT decile, n_users,
       CAST(sum(n_users) OVER (ORDER BY decile
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         / CAST(sum(n_users) OVER () AS DOUBLE) AS cum_users_frac,
       CAST(sum(d_cents) OVER (ORDER BY decile
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_cents,
       CAST(sum(d_cents) OVER (ORDER BY decile
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         / CAST(sum(d_cents) OVER () AS DOUBLE) AS cum_share
FROM per_d
"""

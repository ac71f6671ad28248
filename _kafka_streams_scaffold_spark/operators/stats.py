"""Deterministic statistical aggregates: variance, correlation,
regression slope, and exact group medians.

Native ``stddev``/``corr`` accumulate FLOATS in partition order, so
two runs of the same query can disagree in the last bits — and Spark
vs DuckDB certainly do (different accumulation algorithms). That is
fine for exploration, useless for a hash-checked gate or a
reproducible data audit. The fix is the classic power-sum
decomposition over EXACT arithmetic:

    n, Sx, Sy, Sxx, Syy, Sxy   as DECIMAL sums (associative, exact)
    var  = (n*Sxx - Sx^2) / (n*(n-1))
    corr = (n*Sxy - Sx*Sy) / sqrt((n*Sxx - Sx^2) * (n*Syy - Sy^2))
    slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2)

Every input has 2 decimals, so squares/products have 4 and DECIMAL
sums of them are exact; each sum is cast to DOUBLE once (correctly
rounded) and the closed-form arithmetic is written in the same order
on both engines — IEEE doubles through identical expression trees,
including sqrt (correctly rounded per IEEE-754), are bit-identical.

Scale: power sums are plain partial-aggregatable SUMs — one shuffle
of 6 scalars per group, the same cost as a COUNT. This is also the
ONLY formulation that works as a streaming aggregate (each
micro-batch adds to the sums); Welford-style single-pass variance
does not distribute deterministically.

Medians use the dual-row-number trick (rn ascending + rn descending;
the median rows are those with |asc - desc| <= 1), which is exact,
deterministic under the documented tie-break, and costs one window
shuffle — no interpolation-formula mismatch between engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import tables
from ..registry import query
from .money import dec as _dec

_P4 = "decimal(25,4)"


def _spend_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(c_custkey, c_mktsegment, c_acctbal, spend): lifetime order
    total per customer. Orders pre-aggregates to one row per custkey
    before the customer join (Q13 discipline: join |customer| rows,
    never |orders|)."""
    cust = tables.table(spark, sf_dir, "customer")
    orders = tables.table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(_dec("o_totalprice")).alias("spend")
    )
    return cust.join(per_cust, cust.c_custkey == per_cust.o_custkey).select(
        "c_custkey", "c_mktsegment", "c_acctbal", "spend"
    )


_SPEND_CTE = """
spend AS (
  SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal, t.spend
  FROM customer c
  JOIN (
    SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS spend
    FROM orders GROUP BY o_custkey
  ) t ON t.o_custkey = c.c_custkey
)
"""


@query()
def segment_spend_stats_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per market segment: spread of customer lifetime spend and its
    relationship to account balance (stddev, correlation, regression
    slope), all from exact power sums."""
    base = _spend_per_customer(spark, sf_dir)
    x = _dec("c_acctbal")  # balance
    # Re-narrow the per-customer total before squaring: the SUM's
    # inflated decimal precision would push x*y past the 38-digit cap
    # (the values themselves fit (12,2) comfortably).
    y = _dec("spend")
    agg = base.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum((x * x).cast(_P4)).alias("sxx"),
        F.sum((y * y).cast(_P4)).alias("syy"),
        F.sum((x * y).cast(_P4)).alias("sxy"),
    )
    n = F.col("n_cust").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    var_y = (n * syy - sy * sy) / (n * (n - F.lit(1.0)))
    cov_n = n * sxy - sx * sy
    return agg.select(
        "c_mktsegment",
        "n_cust",
        (sy / n).alias("avg_spend"),
        F.sqrt(var_y).alias("stddev_spend"),
        (cov_n / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))).alias(
            "corr_bal_spend"
        ),
        (cov_n / (n * sxx - sx * sx)).alias("slope_spend_per_bal"),
    )


SEGMENT_SPEND_STATS_ORACLE = f"""
WITH {_SPEND_CTE},
agg AS (
  SELECT c_mktsegment,
         COUNT(*) AS n_cust,
         SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS sx,
         SUM(CAST(spend AS DECIMAL(12,2))) AS sy,
         SUM(CAST(CAST(c_acctbal AS DECIMAL(12,2))
             * CAST(c_acctbal AS DECIMAL(12,2)) AS DECIMAL(25,4))) AS sxx,
         SUM(CAST(CAST(spend AS DECIMAL(12,2)) * CAST(spend AS DECIMAL(12,2))
             AS DECIMAL(25,4))) AS syy,
         SUM(CAST(CAST(c_acctbal AS DECIMAL(12,2)) * CAST(spend AS DECIMAL(12,2))
             AS DECIMAL(25,4))) AS sxy
  FROM spend GROUP BY c_mktsegment
)
SELECT c_mktsegment, n_cust,
       CAST(sy AS DOUBLE) / CAST(n_cust AS DOUBLE) AS avg_spend,
       sqrt((CAST(n_cust AS DOUBLE) * CAST(syy AS DOUBLE)
             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
            / (CAST(n_cust AS DOUBLE) * (CAST(n_cust AS DOUBLE) - 1.0)))
           AS stddev_spend,
       (CAST(n_cust AS DOUBLE) * CAST(sxy AS DOUBLE)
        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       / sqrt((CAST(n_cust AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * (CAST(n_cust AS DOUBLE) * CAST(syy AS DOUBLE)
                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
           AS corr_bal_spend,
       (CAST(n_cust AS DOUBLE) * CAST(sxy AS DOUBLE)
        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       / (CAST(n_cust AS DOUBLE) * CAST(sxx AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           AS slope_spend_per_bal
FROM agg
"""


@query()
def segment_spend_median_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-segment median lifetime spend via dual row numbers.

    Rows where the ascending and descending ranks differ by at most 1
    are the middle one (odd n) or middle two (even n); averaging their
    exact DECIMAL values gives the textbook median with no
    interpolation-formula ambiguity. Tie-break on the unique customer
    key makes both rank orders total, so the same physical rows are
    chosen on every engine and partitioning.
    """
    base = _spend_per_customer(spark, sf_dir)
    wa = Window.partitionBy("c_mktsegment").orderBy(
        F.col("spend"), F.col("c_custkey")
    )
    wd = Window.partitionBy("c_mktsegment").orderBy(
        F.col("spend").desc(), F.col("c_custkey").desc()
    )
    mid = (
        base.withColumn("ra", F.row_number().over(wa))
        .withColumn("rd", F.row_number().over(wd))
        .filter(F.abs(F.col("ra") - F.col("rd")) <= 1)
    )
    return mid.groupBy("c_mktsegment").agg(
        (F.sum("spend").cast("double") / F.count(F.lit(1))).alias(
            "median_spend"
        ),
        F.count(F.lit(1)).alias("n_median_rows"),
    )


SEGMENT_SPEND_MEDIAN_ORACLE = f"""
WITH {_SPEND_CTE},
ranked AS (
  SELECT c_mktsegment, spend,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                            ORDER BY spend, c_custkey) AS ra,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                            ORDER BY spend DESC, c_custkey DESC) AS rd
  FROM spend
)
SELECT c_mktsegment,
       CAST(SUM(spend) AS DOUBLE) / COUNT(*) AS median_spend,
       COUNT(*) AS n_median_rows
FROM ranked
WHERE abs(ra - rd) <= 1
GROUP BY c_mktsegment
"""


# --------------------------------------------------------------------------
# Winsorized statistics (exact-percentile clamping before aggregation)
# --------------------------------------------------------------------------


@query()
def winsorized_event_stats_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type mean of values clamped to the exact [p1, p99]
    range — the outlier-capping preprocessing step robust pipelines
    run before feeding metrics (or reward signals) downstream.

    The percentile is EXACT selection, not interpolation: rank rows
    with a total order (value, event_id), pick rank ceil(n/100) and
    ceil(99n/100) via pure integer arithmetic — both engines select
    the identical physical row, so the thresholds are bit-equal and
    the clamped DECIMAL mean hash-matches.

    Scale: one rank window per type (the same shuffle the exact
    median uses), thresholds are |types| rows broadcast back, clamp
    and mean are map-local + partial-aggregatable.
    """
    ev = tables.table(spark, sf_dir, "events").select(
        "event_type", "event_id", "value"
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("value"), F.col("event_id")
    )
    wn = Window.partitionBy("event_type")
    ranked = ev.withColumn("ra", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )
    lo = (
        ranked.filter(F.col("ra") == F.expr("(n + 99) div 100"))
        .groupBy("event_type")
        .agg(F.min("value").alias("p1"))
    )
    hi = (
        ranked.filter(F.col("ra") == F.expr("(99 * n + 99) div 100"))
        .groupBy("event_type")
        .agg(F.min("value").alias("p99"))
    )
    clamped = (
        ranked.join(F.broadcast(lo), "event_type")
        .join(F.broadcast(hi), "event_type")
        .withColumn(
            "cv",
            F.least(F.greatest(F.col("value"), F.col("p1")), F.col("p99")),
        )
    )
    return clamped.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("p1").alias("p1"),
        F.min("p99").alias("p99"),
        (
            F.sum(_dec("cv")).cast("double") / F.count(F.lit(1))
        ).alias("winsor_mean"),
    )


WINSORIZED_EVENT_STATS_ORACLE = """
WITH ranked AS (
  SELECT event_type, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS ra,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
lo AS (
  SELECT event_type, MIN(value) AS p1 FROM ranked
  WHERE ra = (n + 99) // 100 GROUP BY event_type
),
hi AS (
  SELECT event_type, MIN(value) AS p99 FROM ranked
  WHERE ra = (99 * n + 99) // 100 GROUP BY event_type
)
SELECT r.event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN(l.p1) AS p1,
       MIN(h.p99) AS p99,
       CAST(SUM(CAST(least(greatest(r.value, l.p1), h.p99)
                AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS winsor_mean
FROM ranked r
JOIN lo l ON l.event_type = r.event_type
JOIN hi h ON h.event_type = r.event_type
GROUP BY r.event_type
"""


# --------------------------------------------------------------------------
# Event anomaly detection (z-score against exact power-sum moments)
# --------------------------------------------------------------------------

ANOMALY_Z = 3.0


@query()
def event_anomalies_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events whose value sits more than 3 sample standard deviations
    from their type's mean — the outlier-surfacing twin of the
    winsorized mean (cap vs inspect).

    Mean and stddev come from the same exact DECIMAL power sums as
    segment_spend_stats, so the per-type moments are bit-stable; the
    z expression is structurally identical on both engines (each
    IEEE step correctly rounded), making even the float comparison at
    the 3-sigma boundary deterministic. Scale: one partial-
    aggregatable moment pass, |types| rows broadcast back over the
    scan, map-local flagging — the fact table shuffles zero times.
    """
    ev = tables.table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    v = _dec("value")
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_ev"),
        F.sum(v).alias("sv"),
        F.sum((v * v).cast(_P4)).alias("svv"),
    )
    n = F.col("n_ev").cast("double")
    sv = F.col("sv").cast("double")
    svv = F.col("svv").cast("double")
    # n == 1 would divide by zero (ANSI throws even for doubles); such
    # a group has no defined stddev and is dropped by the std_v > 0
    # filter below, so the guard changes nothing on healthy data.
    moments = agg.filter(F.col("n_ev") > 1).select(
        "event_type",
        (sv / n).alias("mean_v"),
        F.sqrt((n * svv - sv * sv) / (n * (n - F.lit(1.0)))).alias("std_v"),
    )
    z = (F.col("value") - F.col("mean_v")) / F.col("std_v")
    return (
        ev.join(F.broadcast(moments), "event_type")
        .filter(F.col("std_v") > 0)
        .withColumn("zscore", z)
        .filter(F.abs(F.col("zscore")) > ANOMALY_Z)
        .select("event_id", "event_type", "value", "zscore")
    )


EVENT_ANOMALIES_ORACLE = f"""
WITH agg AS (
  SELECT event_type,
         COUNT(*) AS n_ev,
         SUM(CAST(value AS DECIMAL(12,2))) AS sv,
         SUM(CAST(CAST(value AS DECIMAL(12,2))
             * CAST(value AS DECIMAL(12,2)) AS DECIMAL(25,4))) AS svv
  FROM events GROUP BY event_type
),
moments AS (
  SELECT event_type,
         CAST(sv AS DOUBLE) / CAST(n_ev AS DOUBLE) AS mean_v,
         sqrt((CAST(n_ev AS DOUBLE) * CAST(svv AS DOUBLE)
               - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
              / (CAST(n_ev AS DOUBLE) * (CAST(n_ev AS DOUBLE) - 1.0)))
             AS std_v
  FROM agg
)
SELECT e.event_id, e.event_type, e.value,
       (e.value - m.mean_v) / m.std_v AS zscore
FROM events e JOIN moments m ON m.event_type = e.event_type
WHERE m.std_v > 0
  AND abs((e.value - m.mean_v) / m.std_v) > {ANOMALY_Z}
"""


# --------------------------------------------------------------------------
# Robust (MAD-based) outlier audit — the z-score's heavy-tail-safe twin
# --------------------------------------------------------------------------

MAD_K = 3.0          # flag |x - med| > K * 1.4826 * MAD
MAD_CONSISTENCY = 1.4826  # normal-consistency constant


def _dual_rank_median(df: DataFrame, key: str, val: str, tiebreak: str) -> DataFrame:
    """Exact per-key median of ``val`` via dual row numbers (same
    contract as segment_spend_median: the middle row(s) are picked by
    POSITION in a total order, so there is no interpolation-formula
    ambiguity between engines)."""
    wa = Window.partitionBy(key).orderBy(F.col(val), F.col(tiebreak))
    wd = Window.partitionBy(key).orderBy(
        F.col(val).desc(), F.col(tiebreak).desc()
    )
    return (
        df.withColumn("ra", F.row_number().over(wa))
        .withColumn("rd", F.row_number().over(wd))
        .filter(F.abs(F.col("ra") - F.col("rd")) <= 1)
        .groupBy(key)
        .agg(
            (F.sum(val).cast("double") / F.count(F.lit(1))).alias("med")
        )
    )


@query()
def robust_event_outliers_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, median, mad, n_outliers, n): outliers by median /
    median-absolute-deviation — the robust twin of ``event_anomalies``.
    A single fat-tailed burst inflates the mean AND the stddev enough
    to hide itself from a z-score gate; the median/MAD pair is
    breakdown-point-0.5 robust, the difference an audit over crawled
    web data actually cares about.

    Shape: two dual-rank exact medians (value, then |value - med|) —
    each one per-key window sort, the same pattern and cost as
    segment_spend_median — then a broadcast of the per-type (median,
    mad) row back onto one counting scan. Event-type keyspace is tiny;
    the window sorts shuffle each row once per pass."""
    ev = tables.table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    med = _dual_rank_median(ev, "event_type", "value", "event_id")
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_id",
        "event_type",
        "value",
        F.abs(F.col("value") - F.col("med")).alias("dev"),
        "med",
    )
    mad = _dual_rank_median(dev, "event_type", "dev", "event_id").select(
        "event_type", F.col("med").alias("mad")
    )
    stats = med.join(mad, "event_type")
    return (
        dev.select("event_type", "dev")
        .join(F.broadcast(stats), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("med").alias("median"),
            F.max("mad").alias("mad"),
            F.sum(
                (
                    F.col("dev")
                    > F.lit(MAD_K) * (F.lit(MAD_CONSISTENCY) * F.col("mad"))
                ).cast("long")
            ).alias("n_outliers"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def _duck_dual_median(src: str, key: str, val: str, tiebreak: str, out: str) -> str:
    return f"""(
  SELECT {key},
         CAST(sum({val}) AS DOUBLE) / count(*) AS {out}
  FROM (
    SELECT {key}, {val},
           row_number() OVER (PARTITION BY {key}
                              ORDER BY {val}, {tiebreak}) AS ra,
           row_number() OVER (PARTITION BY {key}
                              ORDER BY {val} DESC, {tiebreak} DESC) AS rd
    FROM {src}
  )
  WHERE abs(ra - rd) <= 1
  GROUP BY {key}
)"""


ROBUST_EVENT_OUTLIERS_ORACLE = f"""
WITH med AS {_duck_dual_median("events", "event_type", "value", "event_id", "med")},
dev AS (
  SELECT e.event_id, e.event_type, abs(e.value - m.med) AS dev, m.med
  FROM events e JOIN med m USING (event_type)
),
mad AS {_duck_dual_median("dev", "event_type", "dev", "event_id", "mad")}
SELECT d.event_type,
       max(d.med) AS median,
       max(m.mad) AS mad,
       CAST(SUM(CASE WHEN d.dev > {MAD_K} * ({MAD_CONSISTENCY} * m.mad)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       CAST(count(*) AS BIGINT) AS n
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type
"""


# --------------------------------------------------------------------------
# Pairwise correlation matrix (one pass, exact power sums)
# --------------------------------------------------------------------------

_CM_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


@query()
def correlation_matrix_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(col_a, col_b, n_rows, corr): the full pairwise Pearson matrix
    over lineitem's numeric measures — the feature-correlation audit a
    training pipeline runs before model fitting — from ONE scan: all
    per-column sums/squares and all pairwise cross-products accumulate
    as exact DECIMAL power sums in a single partial-aggregatable
    aggregate (15 scalars total), then the closed forms evaluate on
    the one-row result. Adding columns grows the aggregate width
    O(k^2), never the number of passes."""
    li = tables.table(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in _CM_COLS:
        x = _dec(c)
        aggs.append(F.sum(x).alias(f"s_{c}"))
        aggs.append(F.sum((x * x).cast(_P4)).alias(f"ss_{c}"))
    for i, a in enumerate(_CM_COLS):
        for b in _CM_COLS[i + 1:]:
            aggs.append(
                F.sum((_dec(a) * _dec(b)).cast(_P4)).alias(f"sp_{a}_{b}")
            )
    one = li.agg(*aggs)
    n = F.col("n").cast("double")

    def corr(a: str, b: str) -> F.Column:
        sa = F.col(f"s_{a}").cast("double")
        sb = F.col(f"s_{b}").cast("double")
        saa = F.col(f"ss_{a}").cast("double")
        sbb = F.col(f"ss_{b}").cast("double")
        sab = F.col(f"sp_{a}_{b}").cast("double")
        den = F.sqrt((n * saa - sa * sa) * (n * sbb - sb * sb))
        # A constant column (or n = 1) zeroes the denominator; ANSI
        # throws even for double division, so gate on den > 0 and
        # report the undefined correlation as NULL (healthy lineitem
        # columns always vary, so this is a degenerate-input guard).
        return F.when(den > 0, (n * sab - sa * sb) / den)

    pairs = [
        F.struct(
            F.lit(a).alias("col_a"),
            F.lit(b).alias("col_b"),
            corr(a, b).alias("corr"),
        )
        for i, a in enumerate(_CM_COLS)
        for b in _CM_COLS[i + 1:]
    ]
    return one.select(
        F.col("n").alias("n_rows"), F.explode(F.array(*pairs)).alias("e")
    ).select("n_rows", "e.col_a", "e.col_b", "e.corr")


def _cm_oracle() -> str:
    d = "DECIMAL(12,2)"
    p4 = "DECIMAL(25,4)"
    sums = ["COUNT(*) AS n"]
    for c in _CM_COLS:
        sums.append(f"SUM(CAST({c} AS {d})) AS s_{c}")
        sums.append(
            f"SUM(CAST(CAST({c} AS {d}) * CAST({c} AS {d}) AS {p4})) AS ss_{c}"
        )
    for i, a in enumerate(_CM_COLS):
        for b in _CM_COLS[i + 1:]:
            sums.append(
                f"SUM(CAST(CAST({a} AS {d}) * CAST({b} AS {d}) AS {p4}))"
                f" AS sp_{a}_{b}"
            )
    selects = []
    for i, a in enumerate(_CM_COLS):
        for b in _CM_COLS[i + 1:]:
            corr = (
                f"(CAST(n AS DOUBLE) * CAST(sp_{a}_{b} AS DOUBLE)"
                f" - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE))"
                f" / sqrt((CAST(n AS DOUBLE) * CAST(ss_{a} AS DOUBLE)"
                f" - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE))"
                f" * (CAST(n AS DOUBLE) * CAST(ss_{b} AS DOUBLE)"
                f" - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE)))"
            )
            selects.append(
                f"SELECT CAST(n AS BIGINT) AS n_rows, '{a}' AS col_a,"
                f" '{b}' AS col_b, {corr} AS corr FROM agg"
            )
    u = " UNION ALL ".join(selects)
    return f"WITH agg AS (SELECT {', '.join(sums)} FROM lineitem)\n{u}"


CORRELATION_MATRIX_ORACLE = _cm_oracle()


# --------------------------------------------------------------------------
# Table profile (per-column null/distinct audit)
# --------------------------------------------------------------------------

_PROFILE_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]


@query()
def table_profile_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(column, n_rows, n_null, n_distinct): the per-column profile a
    data catalog materializes for every ingested table — here over
    ``orders``. One aggregate computes every column's null count and
    exact distinct count (Spark plans multi-distinct via EXPAND: one
    scan, k-way row replication). The exact form is the oracle-
    checkable one; at 100 TB swap the distinct counts for
    ``approx_count_distinct`` — the plan shape collapses back to one
    unreplicated pass and the profile stays one row per column."""
    orders = tables.table(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in _PROFILE_COLS:
        aggs.append(
            F.sum(F.col(c).isNull().cast("bigint")).alias(f"null_{c}")
        )
        aggs.append(F.countDistinct(F.col(c)).alias(f"dist_{c}"))
    one = orders.agg(*aggs)
    rows = [
        F.struct(
            F.lit(c).alias("column"),
            F.col(f"null_{c}").cast("bigint").alias("n_null"),
            F.col(f"dist_{c}").cast("bigint").alias("n_distinct"),
        )
        for c in _PROFILE_COLS
    ]
    return one.select(
        F.col("n").alias("n_rows"), F.explode(F.array(*rows)).alias("e")
    ).select("e.column", "n_rows", "e.n_null", "e.n_distinct")


def _profile_oracle() -> str:
    sums = ["COUNT(*) AS n"]
    for c in _PROFILE_COLS:
        sums.append(
            f"SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS null_{c}"
        )
        sums.append(f"COUNT(DISTINCT {c}) AS dist_{c}")
    selects = [
        f"SELECT '{c}' AS \"column\", CAST(n AS BIGINT) AS n_rows,"
        f" CAST(null_{c} AS BIGINT) AS n_null,"
        f" CAST(dist_{c} AS BIGINT) AS n_distinct FROM agg"
        for c in _PROFILE_COLS
    ]
    return (
        f"WITH agg AS (SELECT {', '.join(sums)} FROM orders)\n"
        + " UNION ALL ".join(selects)
    )


TABLE_PROFILE_ORACLE = _profile_oracle()


# --------------------------------------------------------------------------
# Exact discrete quantiles per group (generalized dual-rank)
# --------------------------------------------------------------------------

_DISC_QS = [50, 90, 99]  # percentiles materialized per group


@query()
def segment_spend_quantiles_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(c_mktsegment, n_cust, p50, p90, p99): exact DISCRETE
    quantiles of customer lifetime spend per segment — the value at
    rank ceil(p*n) in the (spend, custkey) total order, which is
    SQL-standard ``percentile_disc`` semantics written out explicitly
    so both engines execute the identical rank formula (native
    percentile implementations differ on interpolation and tie
    handling; a rank selection cannot). Generalizes the exact-median
    operator to arbitrary p.

    One per-segment window sort + one filter keeping the <=3 rank
    hits per group, then a pivot-style conditional aggregate back to
    one row per segment. Same single-shuffle cost as the median; at
    100 TB the approximate twin (approx_percentiles) is the first
    pass and this is the exact audit run on demand."""
    base = _spend_per_customer(spark, sf_dir)
    w = Window.partitionBy("c_mktsegment").orderBy("spend", "c_custkey")
    ranked = base.select(
        "c_mktsegment",
        F.col("spend").cast("double").alias("spend"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("c_mktsegment"))
        .alias("n"),
    )
    hits = [
        F.max(
            F.when(
                F.col("rn") == F.ceil(F.col("n") * F.lit(q / 100.0)),
                F.col("spend"),
            )
        ).alias(f"p{q}")
        for q in _DISC_QS
    ]
    return ranked.groupBy("c_mktsegment").agg(
        F.max("n").cast("bigint").alias("n_cust"), *hits
    )


SEGMENT_SPEND_QUANTILES_ORACLE = f"""
WITH {_SPEND_CTE},
ranked AS (
  SELECT c_mktsegment,
         CAST(spend AS DOUBLE) AS spend,
         row_number() OVER (
           PARTITION BY c_mktsegment ORDER BY spend, c_custkey
         ) AS rn,
         count(*) OVER (PARTITION BY c_mktsegment) AS n
  FROM spend
)
SELECT c_mktsegment,
       CAST(max(n) AS BIGINT) AS n_cust,
       {", ".join(
           f"max(CASE WHEN rn = CAST(ceil(n * {q / 100.0}) AS BIGINT)"
           f" THEN spend END) AS p{q}"
           for q in _DISC_QS
       )}
FROM ranked
GROUP BY c_mktsegment
"""


# --------------------------------------------------------------------------
# Seasonal (day-of-week) anomaly detection
# --------------------------------------------------------------------------

# |z| > 3 against the same-weekday baseline, evaluated WITHOUT floats:
# (n - S/N)^2 > 9 * ((SS - S^2/N)/N) cross-multiplied by N^2 gives
# (N*n - S)^2 > 9 * (N*SS - S^2) — exact integer arithmetic (no libm,
# no float boundary flicker in the hash-checked filter). Squares of
# N*n overflow BIGINT once daily counts pass ~1e9, so the squared
# terms run in DECIMAL(38,0) (the spectral-family precedent).
SEASONAL_SIGMA_SQ = 9  # (3 sigma)^2


@query()
def seasonal_anomalies_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, day, n_events, dow, n_days, sum_dow, sumsq_dow,
    is_anomaly): every (event type, day) with its weekday-baseline
    moments and an exact 3-sigma flag — the seasonality-aware outlier
    screen (a quiet Sunday is normal; a Sunday-sized Tuesday is not).
    Weekday baselines make this robust to the weekly cycle that a
    flat mean/std screen (event_anomalies) folds into its variance.
    Every day is emitted (not just anomalies): the all-clear result
    is then itself hash-checked instead of being an empty frame.

    Two partial-aggregatable passes over id-width rows: daily counts
    per (event_type, day), then per (event_type, dow) moment sums
    (N, S, SS) joined back — the baseline table is at most
    |event types| x 7 rows, always broadcast. All emitted columns and
    the filter itself are exact integers; mean/std are derivable by
    the reader from (S, N, SS)."""
    ev = tables.table(spark, sf_dir, "events")
    iso_dow = F.expr(
        "pmod(datediff(to_date(ts), DATE '1970-01-01') + 3, 7) + 1"
    ).cast("int")
    daily = (
        ev.select(
            "event_type", F.to_date("ts").alias("day"), iso_dow.alias("dow")
        )
        .groupBy("event_type", "day", "dow")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    )
    base = daily.groupBy(F.col("event_type").alias("et"), F.col("dow").alias("dw")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("n_events").cast("bigint").alias("sum_dow"),
        F.sum(F.col("n_events") * F.col("n_events"))
        .cast("bigint")
        .alias("sumsq_dow"),
    )
    j = daily.join(
        F.broadcast(base),
        (daily["event_type"] == base["et"]) & (daily["dow"] == base["dw"]),
    )
    dec = "decimal(38,0)"
    lhs = (
        (F.col("n_days") * F.col("n_events") - F.col("sum_dow")).cast(dec)
        * (F.col("n_days") * F.col("n_events") - F.col("sum_dow")).cast(dec)
    )
    rhs = F.lit(SEASONAL_SIGMA_SQ).cast(dec) * (
        (F.col("n_days") * F.col("sumsq_dow")).cast(dec)
        - (F.col("sum_dow").cast(dec) * F.col("sum_dow").cast(dec))
    )
    return j.select(
        "event_type", "day", "n_events", "dow", "n_days", "sum_dow",
        "sumsq_dow", (lhs > rhs).alias("is_anomaly"),
    )


SEASONAL_ANOMALIES_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST((CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) + 3) % 7
              + 1 AS INT) AS dow,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events
  GROUP BY 1, 2, 3
),
base AS (
  SELECT event_type, dow,
         CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(n_events) AS BIGINT) AS sum_dow,
         CAST(sum(n_events * n_events) AS BIGINT) AS sumsq_dow
  FROM daily GROUP BY 1, 2
)
SELECT d.event_type, d.day, d.n_events, d.dow, b.n_days, b.sum_dow,
       b.sumsq_dow,
       CAST(b.n_days * d.n_events - b.sum_dow AS DECIMAL(38,0))
       * CAST(b.n_days * d.n_events - b.sum_dow AS DECIMAL(38,0))
     > CAST({SEASONAL_SIGMA_SQ} AS DECIMAL(38,0))
       * (CAST(b.n_days * b.sumsq_dow AS DECIMAL(38,0))
          - CAST(b.sum_dow AS DECIMAL(38,0)) * CAST(b.sum_dow AS DECIMAL(38,0)))
       AS is_anomaly
FROM daily d
JOIN base b ON b.event_type = d.event_type AND b.dow = d.dow
"""


# --------------------------------------------------------------------------
# Exponentially weighted moving average (bounded window, exact)
# --------------------------------------------------------------------------

EWMA_WINDOW = 8  # events per user contributing to the average


@query()
def ewma_user_value_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, event_id, value, n_window, ewma): per-event
    exponentially weighted average of each user's last EWMA_WINDOW
    event values (half-life = one event) — the standard smoothed
    per-entity signal a feature store materializes for "recent
    engagement" features.

    Exactness: the true EWMA recurrence is unbounded history, which
    no engine can hash-check; this is the BOUNDED form — weights
    2^0, 2^-1, ... over the frame, folded oldest->newest as
    acc/2 + v. Every weight is a power of two (exact in binary
    floating point), the fold order is the frame order (the same
    deterministic (ts, event_id) order on both engines), and the
    normalizer 2 - 2^(1-n) is exact — so the result is
    bit-identical, not approximately equal.

    Scale: one per-user window sort (partition-parallel on user_id),
    frame capped at EWMA_WINDOW rows — state per row is constant, the
    shuffle carries (user, ts, id, value) only. The streaming twin is
    an applyInPandasWithState keyed store holding the same EWMA_WINDOW
    values."""
    ev = tables.table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(EWMA_WINDOW - 1), 0)
    )
    vals = F.collect_list(F.col("value").cast("double")).over(w)
    num = F.aggregate(
        "vals", F.lit(0.0), lambda acc, x: acc / F.lit(2.0) + x
    )
    # sum of weights 1 + 1/2 + ... + 2^(1-n) = 2 - 2^(1-n), exact
    denom = F.lit(2.0) - F.expr(f"power(2.0, 1 - n_window)")
    return (
        ev.select(
            "user_id",
            "event_id",
            F.col("value").cast("double").alias("value"),
            vals.alias("vals"),
        )
        .select(
            "user_id",
            "event_id",
            "value",
            F.size("vals").cast("int").alias("n_window"),
            num.alias("num"),
        )
        .select(
            "user_id",
            "event_id",
            "value",
            "n_window",
            (F.col("num") / denom).alias("ewma"),
        )
    )


EWMA_USER_VALUE_ORACLE = f"""
WITH framed AS (
  SELECT user_id, event_id, CAST(value AS DOUBLE) AS value,
         list(CAST(value AS DOUBLE)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN {EWMA_WINDOW - 1} PRECEDING AND CURRENT ROW
         ) AS vals
  FROM events
)
SELECT user_id, event_id, value,
       CAST(len(vals) AS INT) AS n_window,
       list_reduce(list_prepend(CAST(0.0 AS DOUBLE), vals),
                   (acc, x) -> acc / 2.0 + x)
       / (2.0 - power(2.0, 1 - len(vals))) AS ewma
FROM framed
"""


# --------------------------------------------------------------------------
# A/B experiment readout (2x2 chi-square, transcendental-free)
# --------------------------------------------------------------------------


AB_CONVERT_MIN_PURCHASES = 14  # "heavy purchaser" conversion bar


@query()
def ab_test_chi2_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(variant, n_users, n_converted, conv_rate, chi2): the
    experiment readout every product team runs — users hash-split
    into A/B (content-stable md5 bucket, the dataset_split
    convention, so assignment never depends on partitioning), a user
    "converts" by making at least AB_CONVERT_MIN_PURCHASES purchases
    (every synthetic user purchases once, so ever-purchased would be
    a degenerate 100% rate), and the 2x2 independence
    chi-square is computed from exact BIGINT cell counts with the
    closed form chi2 = N*(ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d)) — pure
    rational arithmetic, no sqrt/log in the hash-checked output
    (compare to 3.841 for p<0.05 at 1 dof). Squared products run in
    DECIMAL(38,0) (ad-bc can reach 1e18 at cluster scale); a
    degenerate table (any zero marginal) yields NULL chi2 on both
    engines rather than a division error.

    Scale: one partial-aggregatable per-user rollup (the only
    corpus-sized shuffle, id-width rows), then arithmetic on a 2-row
    frame joined to its own one-row cross-tab."""
    ev = tables.table(spark, sf_dir, "events")
    bucket = F.expr(
        "cast(conv(substring(md5(concat('ab1:', cast(user_id as string))),"
        " 1, 4), 16, 10) as bigint) % 2"
    )
    per_user = (
        ev.select("user_id", "event_type")
        .groupBy("user_id")
        .agg(
            (
                F.sum((F.col("event_type") == "purchase").cast("int"))
                >= AB_CONVERT_MIN_PURCHASES
            )
            .cast("int")
            .alias("converted")
        )
        .select(bucket.alias("variant"), "converted")
    )
    cells = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("converted").cast("bigint").alias("n_converted"),
    )
    # one-row cross-tab: a/b = converted/not in variant 0, c/d in 1
    tab = cells.agg(
        F.sum(F.when(F.col("variant") == 0, F.col("n_converted"))).alias("a"),
        F.sum(
            F.when(F.col("variant") == 0, F.col("n_users") - F.col("n_converted"))
        ).alias("b"),
        F.sum(F.when(F.col("variant") == 1, F.col("n_converted"))).alias("c"),
        F.sum(
            F.when(F.col("variant") == 1, F.col("n_users") - F.col("n_converted"))
        ).alias("d"),
    )
    dec = "decimal(38,0)"
    det = (
        F.col("a").cast(dec) * F.col("d").cast(dec)
        - F.col("b").cast(dec) * F.col("c").cast(dec)
    )
    n_tot = (F.col("a") + F.col("b") + F.col("c") + F.col("d")).cast("double")
    denom = (
        (F.col("a") + F.col("b")).cast("double")
        * (F.col("c") + F.col("d")).cast("double")
        * (F.col("a") + F.col("c")).cast("double")
        * (F.col("b") + F.col("d")).cast("double")
    )
    chi2 = F.when(
        denom != 0.0,
        n_tot * det.cast("double") * det.cast("double") / denom,
    )
    return cells.crossJoin(F.broadcast(tab)).select(
        "variant",
        "n_users",
        "n_converted",
        (
            F.col("n_converted").cast("double") / F.col("n_users").cast("double")
        ).alias("conv_rate"),
        chi2.alias("chi2"),
    )


AB_TEST_CHI2_ORACLE = """
WITH per_user AS (
  SELECT CAST('0x' || substring(md5('ab1:' || CAST(user_id AS VARCHAR)),
              1, 4) AS BIGINT) % 2 AS variant,
         CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   >= {mp} THEN 1 ELSE 0 END AS converted
  FROM events
  GROUP BY user_id
),
cells AS (
  SELECT variant, CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(converted) AS BIGINT) AS n_converted
  FROM per_user GROUP BY 1
),
tab AS (
  SELECT sum(CASE WHEN variant = 0 THEN n_converted END) AS a,
         sum(CASE WHEN variant = 0 THEN n_users - n_converted END) AS b,
         sum(CASE WHEN variant = 1 THEN n_converted END) AS c,
         sum(CASE WHEN variant = 1 THEN n_users - n_converted END) AS d
  FROM cells
)
SELECT variant, n_users, n_converted,
       CAST(n_converted AS DOUBLE) / CAST(n_users AS DOUBLE) AS conv_rate,
       CASE WHEN CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
                 * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE) = 0
            THEN NULL ELSE
       CAST(a + b + c + d AS DOUBLE)
       * CAST(CAST(a AS DECIMAL(38,0)) * CAST(d AS DECIMAL(38,0))
              - CAST(b AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0)) AS DOUBLE)
       * CAST(CAST(a AS DECIMAL(38,0)) * CAST(d AS DECIMAL(38,0))
              - CAST(b AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0)) AS DOUBLE)
       / (CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
          * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE)) END AS chi2
FROM cells CROSS JOIN tab
"""

AB_TEST_CHI2_ORACLE = AB_TEST_CHI2_ORACLE.replace(
    "{mp}", str(AB_CONVERT_MIN_PURCHASES)
)


# --------------------------------------------------------------------------
# CUSUM change-point detection (exact integer arithmetic)
# --------------------------------------------------------------------------


@query()
def cusum_changepoint_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, changepoint_day, n_days, cusum_scaled, direction):
    the classic CUSUM change-point locator per event type — the day
    where the cumulative deviation of daily counts from the series
    mean peaks in magnitude; a genuine level shift puts the peak at
    the shift boundary, a stable series puts a small peak anywhere
    (compare |cusum_scaled| across types to rank shift evidence).

    Exactness: CUSUM_i = prefix_i - i*mean has a rational mean, so
    everything is cross-multiplied by n: cusum_scaled = n*prefix_i -
    i*S — pure BIGINT, no division anywhere, and the argmax
    tie-breaks on the earlier day. Scale: daily counts are one
    partial-aggregatable pass; the prefix window partitions by
    event_type over the DAYS-sized series (a 30-year series is ~11k
    rows per type — the gap_fill spine argument), and the argmax is
    max_by over the same frame."""
    ev = tables.table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy("event_type")
    cur = daily.select(
        "event_type",
        "day",
        F.sum("d").over(w).alias("prefix"),
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("day"))
        .alias("i"),
        F.sum("d").over(wt).alias("s_total"),
        F.count(F.lit(1)).over(wt).alias("n_days"),
    ).select(
        "event_type",
        "day",
        "n_days",
        (
            F.col("n_days") * F.col("prefix") - F.col("i") * F.col("s_total")
        )
        .cast("bigint")
        .alias("c"),
    )
    best = cur.groupBy("event_type").agg(
        F.max_by(
            F.struct(F.abs("c").alias("a"), F.col("day"), F.col("c")),
            # max |c|, ties -> earlier day: order by (|c|, -epoch(day))
            F.struct(
                F.abs("c").alias("a"),
                (-F.unix_date(F.col("day"))).alias("nd"),
            ),
        ).alias("b"),
        F.max("n_days").cast("bigint").alias("n_days"),
    )
    return best.select(
        "event_type",
        F.col("b.day").alias("changepoint_day"),
        "n_days",
        F.col("b.c").alias("cusum_scaled"),
        F.when(F.col("b.c") > 0, F.lit("up"))
        .when(F.col("b.c") < 0, F.lit("down"))
        .otherwise(F.lit("flat"))
        .alias("direction"),
    )


CUSUM_CHANGEPOINT_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS d
  FROM events GROUP BY 1, 2
),
cur AS (
  SELECT event_type, day,
         CAST(count(*) OVER wt AS BIGINT)
           * CAST(sum(d) OVER wp AS BIGINT)
         - CAST(row_number() OVER wo AS BIGINT)
           * CAST(sum(d) OVER wt AS BIGINT) AS c,
         CAST(count(*) OVER wt AS BIGINT) AS n_days
  FROM daily
  WINDOW wp AS (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wo AS (PARTITION BY event_type ORDER BY day),
         wt AS (PARTITION BY event_type)
),
ranked AS (
  SELECT event_type, day, n_days, c,
         row_number() OVER (
           PARTITION BY event_type ORDER BY abs(c) DESC, day
         ) AS r
  FROM cur
)
SELECT event_type, day AS changepoint_day, n_days,
       c AS cusum_scaled,
       CASE WHEN c > 0 THEN 'up' WHEN c < 0 THEN 'down'
            ELSE 'flat' END AS direction
FROM ranked WHERE r = 1
"""


# --------------------------------------------------------------------------
# Weekly autocorrelation (seasonality strength, exact power sums)
# --------------------------------------------------------------------------

AUTOCORR_LAG = 7  # days


@query()
def weekly_autocorr_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n_pairs, autocorr): lag-7 Pearson autocorrelation
    of each type's daily counts — near +1 means a strong weekly
    cycle (justifying the seasonal_anomalies weekday baseline), near
    0 means none. Computed the correlation_matrix way: exact BIGINT
    power sums over the lagged pairs (sums, squares, cross-products),
    closed-form Pearson on the one row per type — the only floats are
    final correctly-rounded divisions, so the value cross-engine
    matches bit-for-bit; a type with < 2 pairs or zero variance
    yields NULL, not an error.

    Scale: daily rollup is partial-aggregatable; the lag join is an
    equi-join on (type, day+7) over DAYS-sized frames."""
    ev = tables.table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    lagged = daily.select(
        "event_type",
        F.date_add("day", AUTOCORR_LAG).alias("day"),
        F.col("d").alias("x"),
    )
    pairs = daily.join(lagged, ["event_type", "day"]).select(
        "event_type", F.col("d").alias("y"), "x"
    )
    sums = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    n = F.col("n").cast("double")
    cov = n * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy").cast("double")
    vx = n * F.col("sxx").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sx").cast("double")
    vy = n * F.col("syy").cast("double") - F.col("sy").cast(
        "double"
    ) * F.col("sy").cast("double")
    r = F.when((F.col("n") >= 2) & (vx > 0) & (vy > 0), cov / F.sqrt(vx * vy))
    return sums.select(
        "event_type", F.col("n").alias("n_pairs"), r.alias("autocorr")
    )


WEEKLY_AUTOCORR_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS d
  FROM events GROUP BY 1, 2
),
pairs AS (
  SELECT a.event_type, a.d AS y, b.d AS x
  FROM daily a
  JOIN daily b ON b.event_type = a.event_type
              AND b.day + {AUTOCORR_LAG} = a.day
),
sums AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM pairs GROUP BY 1
)
SELECT event_type, n AS n_pairs,
       CASE WHEN n >= 2
             AND CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx > 0
             AND CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy > 0
       THEN (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
            / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                   * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
       END AS autocorr
FROM sums
"""


# --------------------------------------------------------------------------
# Per-segment OLS trend (closed form, exact power sums)
# --------------------------------------------------------------------------


@query()
def segment_trend_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n_days, slope_per_day, intercept): ordinary least
    squares of daily event counts against the day index, per type —
    "is this stream growing and how fast", the trend line every
    metrics dashboard draws. Day index = days since the SERIES' own
    first day (deterministic; no wall-clock). Closed form over exact
    BIGINT power sums (n, Σx, Σy, Σxx, Σxy) exactly like
    correlation_matrix — the only floats are two final divisions.
    Types with < 2 days or zero x-variance emit NULL slope.

    Scale: one partial-aggregatable daily rollup; the per-type first
    day is a broadcast join; the regression itself is arithmetic on
    one row per type."""
    ev = tables.table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    first = daily.groupBy(F.col("event_type").alias("et")).agg(
        F.min("day").alias("d0")
    )
    xy = daily.join(
        F.broadcast(first), daily["event_type"] == first["et"]
    ).select(
        "event_type",
        F.datediff("day", "d0").cast("bigint").alias("x"),
        "y",
    )
    sums = xy.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    n = F.col("n").cast("double")
    det = n * F.col("sxx").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sx").cast("double")
    slope = F.when(
        (F.col("n") >= 2) & (det != 0.0),
        (
            n * F.col("sxy").cast("double")
            - F.col("sx").cast("double") * F.col("sy").cast("double")
        )
        / det,
    )
    intercept = F.when(
        slope.isNotNull(),
        (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
        / n,
    )
    return sums.select(
        "event_type",
        F.col("n").alias("n_days"),
        slope.alias("slope_per_day"),
        intercept.alias("intercept"),
    )


SEGMENT_TREND_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
first AS (SELECT event_type, min(day) AS d0 FROM daily GROUP BY 1),
xy AS (
  SELECT d.event_type,
         CAST(d.day - f.d0 AS BIGINT) AS x, d.y
  FROM daily d JOIN first f ON f.event_type = d.event_type
),
sums AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM xy GROUP BY 1
)
SELECT event_type, n AS n_days,
       CASE WHEN n >= 2
             AND CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx <> 0
       THEN (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
            / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
       END AS slope_per_day,
       CASE WHEN n >= 2
             AND CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx <> 0
       THEN (CAST(sy AS DOUBLE)
             - ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx))
               * CAST(sx AS DOUBLE))
            / CAST(n AS DOUBLE)
       END AS intercept
FROM sums
"""


# --------------------------------------------------------------------------
# Trimmed mean via a GROUPED_AGG pandas UDF (custom-aggregator parity)
# --------------------------------------------------------------------------

_TRIM_FP = 10**6  # fixed-point scale applied BEFORE the UDF


@query()
def trimmed_mean_by_type_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n_values, n_kept, trimmed_mean): the 25%-trimmed
    mean of event values per type — rank-based trimming (drop the
    floor(n/4) smallest and largest VALUES, average the rest), the
    robust location estimate quality dashboards prefer over the mean
    (outlier-proof) and the median (uses half the data, not one row).

    This is the repo's GROUPED_AGG pandas-UDF demonstration — the
    custom-aggregator escape hatch (SURVEY §2.4 A2) for reductions
    that genuinely need the whole group in memory (order-statistic
    trimming), Arrow-batched per group rather than per row. Made
    cross-engine exact the usual way: values are fixed-pointed in
    JVM SQL BEFORE the UDF, the UDF returns an integer SUM of the
    kept values (sorting ints and summing ints — no float
    accumulation order anywhere), and the single mean division
    happens once in SQL. The kept-count needs no UDF at all:
    n - 2*floor(n/4) is arithmetic.

    Scale: groups are event-type-sized — the natural unit a trimmed
    mean needs anyway (order statistics don't partial-aggregate);
    for groups too large for one Arrow batch the two-pass
    quantile-cutoff form (winsorized_event_stats) is the scale
    fallback, which is why both live in this module."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _trimmed_fp_sum_fn(v):
        s = v.sort_values(ignore_index=True)
        k = len(s) // 4
        kept = s.iloc[k : len(s) - k] if len(s) - 2 * k > 0 else s
        return int(kept.sum())

    # the module's postponed annotations would stringify a signature
    # written inline, and GROUPED_AGG inference needs real types
    _trimmed_fp_sum_fn.__annotations__ = {"v": pd.Series, "return": int}
    _trimmed_fp_sum = pandas_udf("long")(_trimmed_fp_sum_fn)

    ev = tables.table(spark, sf_dir, "events")
    fp = ev.filter(F.col("value").isNotNull()).select(
        "event_type",
        F.expr(f"cast(floor(value * {_TRIM_FP}) as bigint)").alias("v"),
    )
    # Spark disallows mixing a GROUPED_AGG pandas UDF with built-in
    # aggregates in one agg(); the count rides a separate (tiny,
    # event-type-keyed) rollup joined back.
    counts = fp.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_values")
    )
    sums = fp.groupBy("event_type").agg(
        _trimmed_fp_sum("v").alias("kept_sum")
    )
    return (
        counts.join(sums, "event_type")
        .select(
            "event_type",
            "n_values",
            (F.col("n_values") - 2 * F.expr("n_values div 4"))
            .cast("bigint")
            .alias("n_kept"),
            (
                F.col("kept_sum").cast("double")
                / (
                    (F.col("n_values") - 2 * F.expr("n_values div 4"))
                    * F.lit(_TRIM_FP)
                ).cast("double")
            ).alias("trimmed_mean"),
        )
    )


TRIMMED_MEAN_BY_TYPE_ORACLE = f"""
WITH fp AS (
  SELECT event_type, CAST(floor(value * {_TRIM_FP}) AS BIGINT) AS v
  FROM events WHERE value IS NOT NULL
),
ranked AS (
  SELECT event_type, v,
         row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM fp
)
SELECT event_type,
       CAST(max(n) AS BIGINT) AS n_values,
       CAST(max(n) - 2 * (max(n) // 4) AS BIGINT) AS n_kept,
       CAST(sum(v) AS DOUBLE)
         / CAST((max(n) - 2 * (max(n) // 4)) * {_TRIM_FP} AS DOUBLE)
         AS trimmed_mean
FROM ranked
WHERE rn > n // 4 AND rn <= n - n // 4
GROUP BY event_type
"""


# --------------------------------------------------------------------------
# Mutual information between two categorical columns (feature selection)
# --------------------------------------------------------------------------

_MI_FP = 10**6


@query()
def mutual_information_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row audit: (n_docs, mi_nats, h_source_nats, h_lang_nats,
    norm_mi) — the mutual information I(source; lang) over the
    document corpus, with both marginal entropies and the normalized
    MI / sqrt(H_x * H_y) coefficient. THE dependence measure feature
    selection and leakage hunting run on categorical pairs: chi-square
    (ab_test_chi2) answers "is there dependence?", MI answers "how
    many nats does knowing one save about the other?" — a
    near-1 norm_mi between source and language means the corpus's
    language mix is really a source mix (dedup/mixture decisions
    should then key on one, not both).

    Exactness: every probability is a ratio of exact BIGINT counts;
    each cell contributes n_xy * floor(1e6 * ln(n_xy*N/(n_x*n_y)))
    — the module's fixed-point ln contract — summed as exact
    integers, with single correctly-rounded divisions at the end
    (the entropies use the same contract on the marginals). The sqrt
    in norm_mi is IEEE-correctly-rounded on bit-identical inputs.

    Scale: one grid-sized rollup (|X| x |Y| cells) + two
    marginal rollups derived FROM the grid — partial-aggregatable;
    the corpus is scanned once."""
    docs = tables.table(spark, sf_dir, "documents")
    grid = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_xy")
    )
    mx = grid.groupBy("source").agg(F.sum("n_xy").alias("n_x"))
    my = grid.groupBy("lang").agg(F.sum("n_xy").alias("n_y"))
    tot = grid.agg(F.sum("n_xy").alias("n"))
    cells = (
        grid.join(F.broadcast(mx), "source")
        .join(F.broadcast(my), "lang")
        .crossJoin(F.broadcast(tot))
    )
    mi_fp = cells.agg(
        F.sum(
            F.col("n_xy")
            * F.expr(
                f"cast(floor({_MI_FP} * ln(cast(n_xy as double) * cast(n as double)"
                f" / (cast(n_x as double) * cast(n_y as double)))) as bigint)"
            )
        ).alias("mi_fp"),
        F.max("n").alias("n_docs"),
    )
    hx_fp = mx.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.col("n_x")
            * F.expr(
                f"cast(floor({_MI_FP} * ln(cast(n as double)"
                f" / cast(n_x as double))) as bigint)"
            )
        ).alias("hx_fp")
    )
    hy_fp = my.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.col("n_y")
            * F.expr(
                f"cast(floor({_MI_FP} * ln(cast(n as double)"
                f" / cast(n_y as double))) as bigint)"
            )
        ).alias("hy_fp")
    )
    den = f"(cast(n_docs as double) * {_MI_FP}.0d)"
    return (
        mi_fp.crossJoin(F.broadcast(hx_fp))
        .crossJoin(F.broadcast(hy_fp))
        .selectExpr(
            "n_docs",
            f"cast(mi_fp as double) / {den} as mi_nats",
            f"cast(hx_fp as double) / {den} as h_source_nats",
            f"cast(hy_fp as double) / {den} as h_lang_nats",
            f"case when hx_fp > 0 and hy_fp > 0 then cast(mi_fp as double)"
            f" / sqrt(cast(hx_fp as double) * cast(hy_fp as double))"
            f" else 0.0d end as norm_mi",
        )
    )


MUTUAL_INFORMATION_ORACLE = f"""
WITH grid AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS n_xy
  FROM documents GROUP BY 1, 2
),
mx AS (SELECT source, CAST(sum(n_xy) AS BIGINT) AS n_x FROM grid GROUP BY 1),
my AS (SELECT lang, CAST(sum(n_xy) AS BIGINT) AS n_y FROM grid GROUP BY 1),
tot AS (SELECT CAST(sum(n_xy) AS BIGINT) AS n FROM grid),
mi AS (
  SELECT CAST(sum(g.n_xy * CAST(floor({_MI_FP} * ln(
           CAST(g.n_xy AS DOUBLE) * CAST(t.n AS DOUBLE)
           / (CAST(mx.n_x AS DOUBLE) * CAST(my.n_y AS DOUBLE))))
           AS BIGINT)) AS BIGINT) AS mi_fp,
         max(t.n) AS n_docs
  FROM grid g
  JOIN mx ON mx.source = g.source
  JOIN my ON my.lang = g.lang
  CROSS JOIN tot t
),
hx AS (
  SELECT CAST(sum(n_x * CAST(floor({_MI_FP} * ln(
           CAST(t.n AS DOUBLE) / CAST(n_x AS DOUBLE))) AS BIGINT))
           AS BIGINT) AS hx_fp
  FROM mx CROSS JOIN tot t
),
hy AS (
  SELECT CAST(sum(n_y * CAST(floor({_MI_FP} * ln(
           CAST(t.n AS DOUBLE) / CAST(n_y AS DOUBLE))) AS BIGINT))
           AS BIGINT) AS hy_fp
  FROM my CROSS JOIN tot t
)
SELECT n_docs,
       CAST(mi_fp AS DOUBLE) / (CAST(n_docs AS DOUBLE) * {_MI_FP}.0)
         AS mi_nats,
       CAST(hx_fp AS DOUBLE) / (CAST(n_docs AS DOUBLE) * {_MI_FP}.0)
         AS h_source_nats,
       CAST(hy_fp AS DOUBLE) / (CAST(n_docs AS DOUBLE) * {_MI_FP}.0)
         AS h_lang_nats,
       CASE WHEN hx_fp > 0 AND hy_fp > 0
            THEN CAST(mi_fp AS DOUBLE)
                 / sqrt(CAST(hx_fp AS DOUBLE) * CAST(hy_fp AS DOUBLE))
            ELSE 0.0 END AS norm_mi
FROM mi CROSS JOIN hx CROSS JOIN hy
"""


# --------------------------------------------------------------------------
# Poisson-bootstrap standard errors (single-pass, seeded, deterministic)
# --------------------------------------------------------------------------

BOOT_B = 32  # bootstrap replicates

# Poisson(1) inverse-CDF thresholds, computed once in Python and
# embedded as identical double literals in both engines (the ndcg
# trick): a dyadic uniform u maps to the weight w = #{thresholds < u}.
# Truncated at w = 6 (P[X > 6] ~ 8e-5) — identically on both sides,
# so the truncation is part of the (hash-checked) definition.
import math as _m

_POIS_CDF = []
_acc, _term = 0.0, _m.exp(-1.0)
for _k in range(6):
    _acc += _term
    _POIS_CDF.append(_acc)
    _term /= _k + 1

_BOOT_FP = 10**6


def _boot_w(u_expr: str, engine: str) -> str:
    """Piecewise weight from cumulative thresholds; CASE chains are
    identical modulo dialect keywords."""
    cases = " ".join(
        f"WHEN {u_expr} < {c!r} THEN {i}" for i, c in enumerate(_POIS_CDF)
    )
    return f"(CASE {cases} ELSE 6 END)"


@query()
def bootstrap_se_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n, mean_value, boot_se): the per-type mean event
    value with its POISSON-BOOTSTRAP standard error — the one-pass
    bootstrap used at scale (each row draws an independent
    Poisson(1) weight per replicate instead of resampling the
    dataset, so B resamples cost B extra map-side columns, not B
    shuffles of the corpus). The draw is seeded from
    md5(event_id | replicate) exactly like dp_laplace_counts' noise:
    a dyadic uniform hits embedded Poisson(1) CDF literals, so every
    weight — and therefore the whole interval — is a pure function of
    the data, reproducible across engines and partitionings.

    Exactness: values fixed-point to BIGINT before weighting; each
    replicate mean is ONE division of exact integers, re-floored to
    1e-6 before the across-replicate variance, which then runs on
    exact integer power sums (no float accumulation anywhere). The
    final sqrt is correctly rounded on bit-identical input.

    Scale: explode by B is map-local fan-out; both rollups are
    partial-aggregatable; output is |types| rows. B is the accuracy
    dial (SE of the SE ~ 1/sqrt(2(B-1)))."""
    ev = tables.table(spark, sf_dir, "events")
    u = (
        "(2 * cast(conv(substring(md5(concat('boot|',"
        " cast(event_id as string), '|', cast(b as string))), 1, 8),"
        " 16, 10) as bigint) + 1) / 8589934592.0d"
    )
    w = _boot_w(u, "spark")
    rep = (
        ev.select(
            "event_type",
            "event_id",
            F.expr(f"cast(floor(value * {_BOOT_FP}) as bigint)").alias("vfp"),
            F.explode(F.expr(f"sequence(0, {BOOT_B - 1})")).alias("b"),
        )
        .select(
            "event_type",
            "b",
            F.expr(w).alias("w"),
            "vfp",
        )
        .groupBy("event_type", "b")
        .agg(
            F.sum("w").cast("bigint").alias("sw"),
            F.sum(F.col("w") * F.col("vfp")).cast("bigint").alias("swv"),
        )
        .filter(F.col("sw") > 0)
        .select(
            "event_type",
            F.expr(
                f"cast(floor(cast(swv as double) / cast(sw as double))"
                f" as bigint)"
            ).alias("m_fp"),
        )
    )
    reps = rep.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("nb"),
        F.sum("m_fp").cast("bigint").alias("s1"),
        F.sum(F.col("m_fp") * F.col("m_fp")).cast("decimal(38,0)").alias("s2"),
    )
    base = ev.groupBy(F.col("event_type").alias("et")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.expr(f"cast(floor(value * {_BOOT_FP}) as bigint)"))
        .cast("bigint")
        .alias("sv"),
    )
    var = (
        "(cast(s2 as double) - cast(s1 as double) * cast(s1 as double)"
        " / cast(nb as double)) / cast(nb - 1 as double)"
    )
    return (
        reps.join(F.broadcast(base), reps.event_type == base.et)
        .filter(F.col("nb") > 1)
        .selectExpr(
            "event_type",
            "n",
            f"cast(sv as double) / (cast(n as double) * {_BOOT_FP}.0d)"
            " as mean_value",
            f"sqrt(greatest({var}, 0.0d)) / {_BOOT_FP}.0d as boot_se",
        )
    )


def _bootstrap_oracle() -> str:
    u = (
        "(2 * CAST('0x' || substring(md5('boot|' ||"
        " CAST(event_id AS VARCHAR) || '|' || CAST(b AS VARCHAR)), 1, 8)"
        " AS BIGINT) + 1) / 8589934592.0"
    )
    w = _boot_w(u, "duck")
    var = (
        "(CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
        " / CAST(nb AS DOUBLE)) / CAST(nb - 1 AS DOUBLE)"
    )
    return f"""
WITH fan AS (
  SELECT event_type, event_id,
         CAST(floor(value * {_BOOT_FP}) AS BIGINT) AS vfp,
         CAST(x.range AS INT) AS b
  FROM events CROSS JOIN range({BOOT_B}) x
),
rep AS (
  SELECT event_type,
         CAST(floor(CAST(sum({w} * vfp) AS DOUBLE)
              / CAST(sum({w}) AS DOUBLE)) AS BIGINT) AS m_fp
  FROM fan
  GROUP BY event_type, b
  HAVING sum({w}) > 0
),
reps AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS nb,
         CAST(sum(m_fp) AS BIGINT) AS s1,
         CAST(sum(CAST(m_fp AS DECIMAL(38,0)) * m_fp) AS DECIMAL(38,0)) AS s2
  FROM rep GROUP BY event_type
),
base AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(floor(value * {_BOOT_FP}) AS BIGINT)) AS BIGINT) AS sv
  FROM events GROUP BY event_type
)
SELECT r.event_type, b.n,
       CAST(b.sv AS DOUBLE) / (CAST(b.n AS DOUBLE) * {_BOOT_FP}.0)
         AS mean_value,
       sqrt(greatest({var}, 0.0)) / {_BOOT_FP}.0 AS boot_se
FROM reps r JOIN base b ON b.event_type = r.event_type
WHERE r.nb > 1
"""


BOOTSTRAP_SE_ORACLE = _bootstrap_oracle()


# --------------------------------------------------------------------------
# Kaplan-Meier user-lifetime survival (log-space exact)
# --------------------------------------------------------------------------

KM_CENSOR_DAYS = 7  # still-active horizon: last event this close to
#                     corpus end = censored, not churned

_US_PER_DAY = 86_400_000_000


@query()
def km_user_survival_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(t_days, n_risk, n_deaths, n_censored, log_survival): the
    Kaplan-Meier estimate of user retention over observed lifetimes
    (days between a user's first and last event), with users whose
    last event falls within KM_CENSOR_DAYS of the corpus end treated
    as CENSORED (still active) rather than churned — the survival-
    analysis churn readout, the right-censoring-aware upgrade of a
    naive lifetime histogram.

    Emitted in LOG space: survival S(t) is a cumulative PRODUCT of
    rationals, whose float evaluation would be order-sensitive and
    whose exact rational evaluation overflows; instead each factor
    fixes to floor(1e6 * ln((n_risk - d)/n_risk)) on exact integer
    counts and the curve is the exact integer CUMSUM of those —
    bit-stable cross-engine (S(t) = exp(log_survival) downstream if a
    probability is wanted; exp is deliberately NOT taken inside the
    hashed output).

    Scale: one partial-aggregatable per-user rollup (first/last event
    — the only corpus-sized stage), then everything lives on the
    lifetime-day domain: a frame bounded by the time span in days,
    never by users. The cumulative windows run on that constant-
    bounded frame (document: single-partition by construction, ~span
    rows). Integer day arithmetic via unix_micros div (the
    engine-agnostic form; see cross-engine notes)."""
    ev = tables.table(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.expr("min(unix_micros(ts))").alias("f_us"),
        F.expr("max(unix_micros(ts))").alias("l_us"),
    )
    horizon = ev.agg(F.expr("max(unix_micros(ts))").alias("max_us"))
    lived = users.crossJoin(F.broadcast(horizon)).select(
        F.expr(f"(l_us - f_us) div {_US_PER_DAY}").alias("t_days"),
        F.expr(
            f"(max_us - l_us) div {_US_PER_DAY} < {KM_CENSOR_DAYS}"
        ).cast("int").alias("censored"),
    )
    per_t = lived.groupBy("t_days").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_at_t"),
        F.sum(F.lit(1) - F.col("censored")).cast("bigint").alias("n_deaths"),
        F.sum("censored").cast("bigint").alias("n_censored"),
    )
    from pyspark.sql import Window as W

    w_prior = (
        W.orderBy("t_days").rowsBetween(W.unboundedPreceding, -1)
    )
    total = per_t.agg(F.sum("n_at_t").alias("n_total"))
    risky = per_t.crossJoin(F.broadcast(total)).select(
        "t_days",
        "n_deaths",
        "n_censored",
        (
            F.col("n_total")
            - F.coalesce(F.sum("n_at_t").over(w_prior), F.lit(0))
        ).cast("bigint").alias("n_risk"),
    )
    factor = F.expr(
        "case when n_deaths > 0 then cast(floor(1e6 * ln("
        "cast(n_risk - n_deaths as double) / cast(n_risk as double)))"
        " as bigint) else cast(0 as bigint) end"
    )
    w_cum = W.orderBy("t_days").rowsBetween(W.unboundedPreceding, 0)
    return (
        risky.filter(F.col("n_risk") > F.col("n_deaths"))
        .withColumn("f_fp", factor)
        .select(
            "t_days",
            "n_risk",
            "n_deaths",
            "n_censored",
            (
                F.sum("f_fp").over(w_cum).cast("double") / F.lit(1000000.0)
            ).alias("log_survival"),
        )
    )


KM_USER_SURVIVAL_ORACLE = f"""
WITH users AS (
  SELECT user_id, min(epoch_us(ts)) AS f_us, max(epoch_us(ts)) AS l_us
  FROM events GROUP BY 1
),
horizon AS (SELECT max(epoch_us(ts)) AS max_us FROM events),
lived AS (
  SELECT (l_us - f_us) // {_US_PER_DAY} AS t_days,
         CAST((max_us - l_us) // {_US_PER_DAY} < {KM_CENSOR_DAYS} AS INT)
           AS censored
  FROM users CROSS JOIN horizon
),
per_t AS (
  SELECT t_days, CAST(count(*) AS BIGINT) AS n_at_t,
         CAST(sum(1 - censored) AS BIGINT) AS n_deaths,
         CAST(sum(censored) AS BIGINT) AS n_censored
  FROM lived GROUP BY 1
),
total AS (SELECT sum(n_at_t) AS n_total FROM per_t),
risky AS (
  SELECT t_days, n_deaths, n_censored,
         CAST(n_total - coalesce(sum(n_at_t) OVER (
           ORDER BY t_days ROWS BETWEEN UNBOUNDED PRECEDING
           AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
  FROM per_t CROSS JOIN total
),
fp AS (
  SELECT t_days, n_risk, n_deaths, n_censored,
         CASE WHEN n_deaths > 0 THEN CAST(floor(1e6 * ln(
           CAST(n_risk - n_deaths AS DOUBLE) / CAST(n_risk AS DOUBLE)))
           AS BIGINT) ELSE CAST(0 AS BIGINT) END AS f_fp
  FROM risky
  WHERE n_risk > n_deaths
)
SELECT t_days, n_risk, n_deaths, n_censored,
       CAST(sum(f_fp) OVER (ORDER BY t_days ROWS BETWEEN UNBOUNDED
         PRECEDING AND CURRENT ROW) AS DOUBLE) / 1000000.0
         AS log_survival
FROM fp
"""


# --------------------------------------------------------------------------
# Split-conformal prediction-interval coverage audit
# --------------------------------------------------------------------------

CONF_ALPHA_NUM = 1  # alpha = 1/10 -> target coverage 90%
CONF_ALPHA_DEN = 10

_CONF_BUCKET_SPARK = (
    "cast(conv(substring(md5(concat('conf-v1|', cast(event_id as string))),"
    " 1, 4), 16, 10) as bigint) % 100"
)
_CONF_BUCKET_DUCK = (
    "CAST('0x' || substring(md5('conf-v1|' || CAST(event_id AS VARCHAR)),"
    " 1, 4) AS BIGINT) % 100"
)


@query()
def conformal_coverage_audit_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(event_type, n_cal, q_hat, n_test, n_covered, coverage): SPLIT
    CONFORMAL prediction intervals, audited. Model = per-type mean of
    ``value`` fit on a hash train split (80%); q_hat = the
    ceil((n+1)(1-alpha))-th smallest absolute residual on a disjoint
    calibration split (10%); coverage = the fraction of the held-out
    test split (10%) falling inside mean +/- q_hat. The
    distribution-free guarantee says coverage >= 1 - alpha in
    expectation REGARDLESS of the model — the audit every
    ML-adjacent pipeline should run on its uncertainty estimates,
    and the finite-sample companion to calibration_audit (which
    checks probabilities; this checks intervals).

    The conformal quantile is the EXACT order statistic — selected
    by rank, never interpolated — with deterministic (residual,
    event_id) tie-breaks; k = ceil((1-alpha)(n+1)) in integer
    arithmetic, clamped to n (tiny calibration sets).

    Scale: three disjoint hash-split scans of one table; the model
    is |types| rows broadcast back; the order statistic is one
    per-type window (each type sorts its calibration residuals —
    at extreme per-type volume swap in the two-pass
    histogram-cutoff recipe of token_budget_selection_2p)."""
    ev = tables.table(spark, sf_dir, "events")
    b = F.expr(_CONF_BUCKET_SPARK)
    evb = ev.select("event_id", "event_type", "value", b.alias("bkt"))
    train = evb.filter(F.col("bkt") < 80)
    calib = evb.filter((F.col("bkt") >= 80) & (F.col("bkt") < 90))
    test = evb.filter(F.col("bkt") >= 90)
    model = train.groupBy("event_type").agg(F.avg("value").alias("mu"))
    resid = calib.join(model, "event_type").select(
        "event_type",
        "event_id",
        F.abs(F.col("value") - F.col("mu")).alias("r"),
    )
    w = Window.partitionBy("event_type").orderBy("r", "event_id")
    ranked = resid.select(
        "event_type",
        "r",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("event_type"))
        .cast("bigint")
        .alias("n_cal"),
    )
    keep = CONF_ALPHA_DEN - CONF_ALPHA_NUM  # (1-alpha) numerator
    k = F.least(
        F.expr(f"({keep}L * (n_cal + 1) + {CONF_ALPHA_DEN - 1}L)"
               f" div {CONF_ALPHA_DEN}L"),
        F.col("n_cal"),
    )
    qhat = ranked.filter(F.col("rn") == k).select(
        "event_type", F.col("r").alias("q_hat"), "n_cal"
    )
    cov = (
        test.join(model, "event_type")
        .join(qhat, "event_type")
        .groupBy("event_type", "n_cal", "q_hat")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("mu")) <= F.col("q_hat"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_covered"),
        )
    )
    return cov.select(
        "event_type",
        "n_cal",
        "q_hat",
        "n_test",
        "n_covered",
        (F.col("n_covered").cast("double") / F.col("n_test").cast("double"))
        .alias("coverage"),
    )


def _conformal_oracle() -> str:
    keep = CONF_ALPHA_DEN - CONF_ALPHA_NUM
    return f"""
WITH evb AS (
  SELECT event_id, event_type, value, {_CONF_BUCKET_DUCK} AS bkt
  FROM events
),
model AS (
  SELECT event_type, avg(value) AS mu FROM evb WHERE bkt < 80 GROUP BY 1
),
resid AS (
  SELECT e.event_type, e.event_id, abs(e.value - m.mu) AS r
  FROM evb e JOIN model m USING (event_type)
  WHERE e.bkt >= 80 AND e.bkt < 90
),
ranked AS (
  SELECT event_type, r,
         row_number() OVER (PARTITION BY event_type ORDER BY r, event_id)
           AS rn,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_cal
  FROM resid
),
qhat AS (
  SELECT event_type, r AS q_hat, n_cal
  FROM ranked
  WHERE rn = least(({keep} * (n_cal + 1) + {CONF_ALPHA_DEN - 1})
                     // {CONF_ALPHA_DEN}, n_cal)
)
SELECT e.event_type, q.n_cal, q.q_hat,
       CAST(count(*) AS BIGINT) AS n_test,
       CAST(sum(CASE WHEN abs(e.value - m.mu) <= q.q_hat
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
       CAST(sum(CASE WHEN abs(e.value - m.mu) <= q.q_hat
                     THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS coverage
FROM evb e
JOIN model m USING (event_type)
JOIN qhat q USING (event_type)
WHERE e.bkt >= 90
GROUP BY 1, 2, 3
"""


CONFORMAL_COVERAGE_AUDIT_ORACLE = _conformal_oracle()


# --------------------------------------------------------------------------
# Theil-Sen robust trend (median of pairwise slopes)
# --------------------------------------------------------------------------


@query()
def theil_sen_trend_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_days, n_pairs, ts_slope): the Theil-Sen estimator of the
    daily purchase-revenue trend — the MEDIAN over all day pairs
    (i < j) of (cents_j - cents_i) / (x_j - x_i). The robust
    counterpart of the OLS slope in ``simpson_reversal_audit`` /
    ``segment_trend``: up to ~29% of the days can be arbitrarily
    corrupted (an outage, a backfill spike) without moving it, which
    is why it is the trend gate of choice on operational series.

    Exactness: each slope is ONE IEEE division of exact integers
    (cents BIGINT, day-index BIGINT) — identical on both engines —
    and the median picks the middle element(s) by row_number (the
    even-n case averages two values; a single two-operand float add
    is commutative and deterministic, unlike multi-row float SUMs).

    Scale: the corpus collapses to the day spine first (partial-
    aggregatable rollup); the O(days^2) pair frame and its global
    rank window live on that bounded spine (a decade is ~7 M pairs),
    never on raw events. The single-partition window is deliberate
    and bounded, as in ``gap_fill_daily``."""
    ev = tables.table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.floor(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    base = daily.groupBy().agg(F.min("day").alias("d0"))
    pts = daily.crossJoin(F.broadcast(base)).select(
        F.datediff(F.col("day"), F.col("d0")).cast("bigint").alias("x"),
        "cents",
    )
    a = pts.select(F.col("x").alias("xi"), F.col("cents").alias("ci"))
    b = pts.select(F.col("x").alias("xj"), F.col("cents").alias("cj"))
    slopes = (
        a.join(b, F.col("xi") < F.col("xj"))
        .select(
            (
                (F.col("cj") - F.col("ci")).cast("double")
                / (F.col("xj") - F.col("xi")).cast("double")
            ).alias("slope"),
            "xi",
            "xj",
        )
    )
    w = Window.orderBy("slope", "xi", "xj")
    ranked = slopes.select(
        "slope",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).cast("bigint").alias("n_pairs"),
    )
    days_n = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    med = ranked.filter(
        (F.col("rn") == F.expr("(n_pairs + 1) div 2"))
        | (F.col("rn") == F.expr("n_pairs div 2 + 1"))
    ).groupBy("n_pairs").agg(
        ((F.min("slope") + F.max("slope")) / 2.0).alias("ts_slope")
    )
    return days_n.crossJoin(F.broadcast(med)).select(
        "n_days", "n_pairs", "ts_slope"
    )


THEIL_SEN_TREND_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
base AS (SELECT min(day) AS d0 FROM daily),
pts AS (
  SELECT CAST(date_diff('day', b.d0, day) AS BIGINT) AS x, cents
  FROM daily, base b
),
slopes AS (
  SELECT CAST(b.cents - a.cents AS DOUBLE) / CAST(b.x - a.x AS DOUBLE)
           AS slope,
         a.x AS xi, b.x AS xj
  FROM pts a JOIN pts b ON a.x < b.x
),
ranked AS (
  SELECT slope,
         row_number() OVER (ORDER BY slope, xi, xj) AS rn,
         CAST(count(*) OVER () AS BIGINT) AS n_pairs
  FROM slopes
),
med AS (
  SELECT n_pairs, (min(slope) + max(slope)) / 2.0 AS ts_slope
  FROM ranked
  WHERE rn = (n_pairs + 1) // 2 OR rn = n_pairs // 2 + 1
  GROUP BY n_pairs
)
SELECT d.n_days, m.n_pairs, m.ts_slope
FROM (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily) d, med m
"""


# --------------------------------------------------------------------------
# Nelson-Aalen cumulative hazard (integer-exact twin of Kaplan-Meier)
# --------------------------------------------------------------------------

_NA_FP = 1_000_000_000


@query()
def nelson_aalen_hazard_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(t_days, n_risk, n_deaths, n_censored, cumhaz_fp): the
    Nelson-Aalen cumulative-hazard estimate over the same censored
    user-lifetime construction as ``km_user_survival`` — H(t) =
    sum_{s <= t} d_s / n_s. Where KM's survival is a cumulative
    PRODUCT (emitted in quantized log space), NA's hazard is a
    cumulative SUM of rationals, so it admits a fully EXACT integer
    form: each increment fixes to (1e9 * d) div n — exact integer
    division, no transcendental anywhere — and the curve is the exact
    BIGINT cumsum. The preferred estimator when hazards are later
    smoothed or compared across cohorts.

    Scale: identical to KM — one per-user corpus rollup, then
    constant-bounded lifetime-day frames; the cumulative window runs
    single-partition over ~span-in-days rows by construction."""
    ev = tables.table(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.expr("min(unix_micros(ts))").alias("f_us"),
        F.expr("max(unix_micros(ts))").alias("l_us"),
    )
    horizon = ev.agg(F.expr("max(unix_micros(ts))").alias("max_us"))
    lived = users.crossJoin(F.broadcast(horizon)).select(
        F.expr(f"(l_us - f_us) div {_US_PER_DAY}").alias("t_days"),
        F.expr(
            f"(max_us - l_us) div {_US_PER_DAY} < {KM_CENSOR_DAYS}"
        ).cast("int").alias("censored"),
    )
    per_t = lived.groupBy("t_days").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_at_t"),
        F.sum(F.lit(1) - F.col("censored")).cast("bigint").alias("n_deaths"),
        F.sum("censored").cast("bigint").alias("n_censored"),
    )
    w_prior = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, -1
    )
    total = per_t.agg(F.sum("n_at_t").alias("n_total"))
    risky = per_t.crossJoin(F.broadcast(total)).select(
        "t_days",
        "n_deaths",
        "n_censored",
        (
            F.col("n_total")
            - F.coalesce(F.sum("n_at_t").over(w_prior), F.lit(0))
        ).cast("bigint").alias("n_risk"),
    )
    w_cum = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        risky.filter(F.col("n_risk") > 0)
        .withColumn(
            "h_fp",
            F.expr(f"({_NA_FP}L * n_deaths) div n_risk").cast("bigint"),
        )
        .select(
            "t_days",
            "n_risk",
            "n_deaths",
            "n_censored",
            F.sum("h_fp").over(w_cum).cast("bigint").alias("cumhaz_fp"),
        )
    )


NELSON_AALEN_HAZARD_ORACLE = f"""
WITH users AS (
  SELECT user_id, min(epoch_us(ts)) AS f_us, max(epoch_us(ts)) AS l_us
  FROM events GROUP BY 1
),
horizon AS (SELECT max(epoch_us(ts)) AS max_us FROM events),
lived AS (
  SELECT (l_us - f_us) // {_US_PER_DAY} AS t_days,
         CAST((max_us - l_us) // {_US_PER_DAY} < {KM_CENSOR_DAYS} AS INT)
           AS censored
  FROM users, horizon
),
per_t AS (
  SELECT t_days,
         CAST(count(*) AS BIGINT) AS n_at_t,
         CAST(sum(1 - censored) AS BIGINT) AS n_deaths,
         CAST(sum(censored) AS BIGINT) AS n_censored
  FROM lived GROUP BY 1
),
risky AS (
  SELECT t_days, n_deaths, n_censored,
         CAST((SELECT sum(n_at_t) FROM per_t)
              - COALESCE(sum(n_at_t) OVER (
                  ORDER BY t_days
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ), 0) AS BIGINT) AS n_risk
  FROM per_t
)
SELECT t_days, n_risk, n_deaths, n_censored,
       CAST(sum(({_NA_FP} * n_deaths) // n_risk) OVER (
         ORDER BY t_days ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS cumhaz_fp
FROM risky
WHERE n_risk > 0
"""


# --------------------------------------------------------------------------
# Wald-Wolfowitz runs test (randomness of the daily-revenue sign series)
# --------------------------------------------------------------------------


@query()
def runs_test_randomness_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_pos, n_neg, n_runs, z): the Wald-Wolfowitz runs test on the
    sign sequence of daily purchase revenue around its median — too
    FEW runs means the series is trending/sticky (residual
    autocorrelation), too MANY means oscillation; |z| > ~2 rejects
    "the days are exchangeable". The cheap pre-flight before trusting
    any i.i.d.-assuming estimator (bootstrap_se, conformal intervals)
    on a time series.

    Exactness: the median compare is integer-exact (2*cents vs the
    sum of the two middle cents — no float midpoint), days equal to
    the median are dropped (the standard convention), runs are
    counted with a lag over the day order, and z is one fixed IEEE
    expression over exact integer counts, guarded to 0 when the
    variance degenerates (all one sign, or < 2 days).

    Scale: corpus -> day spine rollup; everything else is spine-sized
    with one bounded single-partition window (as gap_fill_daily)."""
    ev = tables.table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.floor(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    w = Window.orderBy("cents", "day")
    ranked = daily.select(
        "day",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).cast("bigint").alias("n"),
    )
    med2 = ranked.filter(
        (F.col("rn") == F.expr("(n + 1) div 2"))
        | (F.col("rn") == F.expr("n div 2 + 1"))
    ).agg((F.min("cents") + F.max("cents")).cast("bigint").alias("med2"))
    signed = (
        daily.crossJoin(F.broadcast(med2))
        .filter(2 * F.col("cents") != F.col("med2"))
        .select(
            "day", (2 * F.col("cents") > F.col("med2")).cast("int").alias("s")
        )
    )
    wd = Window.orderBy("day")
    runs = signed.select(
        "s",
        F.when(
            F.lag("s").over(wd).isNull()
            | (F.lag("s").over(wd) != F.col("s")),
            1,
        ).otherwise(0).alias("new_run"),
    )
    agg = runs.agg(
        F.sum("s").cast("bigint").alias("n_pos"),
        F.sum(F.lit(1) - F.col("s")).cast("bigint").alias("n_neg"),
        F.sum("new_run").cast("bigint").alias("n_runs"),
    )
    n1 = F.col("n_pos").cast("double")
    n2 = F.col("n_neg").cast("double")
    mu = 2.0 * n1 * n2 / (n1 + n2) + 1.0
    var = (
        2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))
    )
    return agg.filter(F.col("n_pos") + F.col("n_neg") > 0).select(
        "n_pos",
        "n_neg",
        "n_runs",
        F.when(
            (F.col("n_pos") > 0)
            & (F.col("n_neg") > 0)
            & (F.col("n_pos") + F.col("n_neg") > 1),
            (F.col("n_runs").cast("double") - mu) / F.sqrt(var),
        ).otherwise(F.lit(0.0)).alias("z"),
    )


RUNS_TEST_RANDOMNESS_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
ranked AS (
  SELECT day, cents,
         row_number() OVER (ORDER BY cents, day) AS rn,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM daily
),
med AS (
  SELECT CAST(min(cents) + max(cents) AS BIGINT) AS med2
  FROM ranked WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1
),
signed AS (
  SELECT day, CAST(2 * cents > m.med2 AS INT) AS s
  FROM daily, med m
  WHERE 2 * cents <> m.med2
),
runs AS (
  SELECT s,
         CASE WHEN lag(s) OVER (ORDER BY day) IS NULL
                   OR lag(s) OVER (ORDER BY day) <> s
              THEN 1 ELSE 0 END AS new_run
  FROM signed
),
agg AS (
  SELECT CAST(sum(s) AS BIGINT) AS n_pos,
         CAST(sum(1 - s) AS BIGINT) AS n_neg,
         CAST(sum(new_run) AS BIGINT) AS n_runs
  FROM runs
)
SELECT n_pos, n_neg, n_runs,
       CASE WHEN n_pos > 0 AND n_neg > 0 AND n_pos + n_neg > 1 THEN
         (CAST(n_runs AS DOUBLE)
          - (2.0 * n_pos * n_neg / (n_pos + n_neg) + 1.0))
         / sqrt(2.0 * n_pos * n_neg * (2.0 * n_pos * n_neg - n_pos - n_neg)
                / ((n_pos + n_neg) * (n_pos + n_neg)
                   * (n_pos + n_neg - 1.0)))
       ELSE 0.0 END AS z
FROM agg
WHERE n_pos + n_neg > 0
"""


# --------------------------------------------------------------------------
# Poisson dispersion audit (burstiness of daily event arrivals)
# --------------------------------------------------------------------------


@query()
def poisson_dispersion_audit_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(event_type, n_days, sum_c, sum_c2, dispersion): the index of
    dispersion (variance-to-mean ratio) of DAILY event counts per
    type — 1 under a Poisson arrival process, > 1 when arrivals are
    bursty (campaign spikes, retry storms), < 1 when they are
    throttled/regularized. The standard pre-flight before using any
    Poisson-assuming rate model or alerting threshold on the stream,
    and a shape audit ``seasonal_anomalies`` (which looks for
    specific outliers) does not cover.

    dispersion = (n * sum_c2 - sum_c^2) / ((n - 1) * sum_c) — the
    sample-variance-over-mean closed form as ONE division of exact
    BIGINT aggregates (counts are integers, so sum_c2 is exact; no
    float sums form). Degenerate guard: emitted only for types with
    n_days > 1 and sum_c > 0 (ANSI-safe).

    Scale: one partial-aggregatable per-(type, day) rollup, then a
    |types| x |days| frame reduced to |types| rows."""
    ev = tables.table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    agg = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("c").cast("bigint").alias("sum_c"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sum_c2"),
    )
    return agg.filter((F.col("n_days") > 1) & (F.col("sum_c") > 0)).select(
        "event_type",
        "n_days",
        "sum_c",
        "sum_c2",
        (
            (
                F.col("n_days") * F.col("sum_c2")
                - F.col("sum_c") * F.col("sum_c")
            ).cast("double")
            / ((F.col("n_days") - 1) * F.col("sum_c")).cast("double")
        ).alias("dispersion"),
    )


POISSON_DISPERSION_AUDIT_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
agg AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(c) AS BIGINT) AS sum_c,
         CAST(sum(c * c) AS BIGINT) AS sum_c2
  FROM daily GROUP BY 1
)
SELECT event_type, n_days, sum_c, sum_c2,
       CAST(n_days * sum_c2 - sum_c * sum_c AS DOUBLE)
         / CAST((n_days - 1) * sum_c AS DOUBLE) AS dispersion
FROM agg
WHERE n_days > 1 AND sum_c > 0
"""


# --------------------------------------------------------------------------
# Depth-2 binary segmentation of the daily purchase series
# --------------------------------------------------------------------------


@query()
def binseg_changepoints_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(level, segment, changepoint_day, n_days, cusum_scaled,
    direction): binary segmentation at depth 2 over the daily
    purchase-count series — the root CUSUM changepoint (level 1,
    cusum_changepoint's exact integer form on one series), then the
    best changepoint WITHIN each resulting half (level 2, 'left' /
    'right'). One changepoint describes a single level shift;
    real pipelines see staged rollouts and partial regressions —
    the two-level tree is the cheapest structure that separates "one
    shift" (children's |cusum| collapses) from "multiple regimes"
    (a child peak rivals the root), which is the decision between
    re-baselining once and investigating a sequence.

    Exactness: within every segment the statistic is the same
    cross-multiplied pure-BIGINT form (n_s * prefix_i - i * S_s),
    argmax ties to the earlier day via a deterministic rank window;
    the root day enters the level-2 plan as a broadcast scalar.

    Scale: daily counts are one partial-aggregatable pass; both
    levels run windows over the |days| spine (segment-partitioned at
    level 2) — the cusum_changepoint budget twice."""
    ev = tables.table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    from pyspark.sql import Window as W

    def _best(frame, part_cols):
        pw = (
            W.partitionBy(*part_cols).orderBy("day")
            if part_cols
            else W.orderBy("day")
        )
        tot = (
            W.partitionBy(*part_cols)
            if part_cols
            else W.partitionBy(F.lit(1))
        )
        cur = frame.select(
            *part_cols,
            "day",
            F.sum("d").over(
                pw.rowsBetween(W.unboundedPreceding, 0)
            ).alias("prefix"),
            F.row_number().over(pw).alias("i"),
            F.sum("d").over(tot).alias("s_total"),
            F.count(F.lit(1)).over(tot).alias("n_days"),
        ).select(
            *part_cols,
            "day",
            "n_days",
            (
                F.col("n_days") * F.col("prefix")
                - F.col("i") * F.col("s_total")
            ).cast("bigint").alias("c"),
        )
        rw = (
            W.partitionBy(*part_cols)
            if part_cols
            else W.partitionBy(F.lit(1))
        ).orderBy(F.abs("c").desc(), F.asc("day"))
        return cur.withColumn("rn", F.row_number().over(rw)).filter(
            F.col("rn") == 1
        )

    root = _best(daily, []).select(
        F.lit(1).alias("level"),
        F.lit("root").alias("segment"),
        F.col("day").alias("changepoint_day"),
        F.col("n_days").cast("bigint").alias("n_days"),
        F.col("c").alias("cusum_scaled"),
    )
    cp = root.select(F.col("changepoint_day").alias("cp_day"))
    halves = daily.crossJoin(F.broadcast(cp)).withColumn(
        "segment",
        F.when(F.col("day") <= F.col("cp_day"), F.lit("left")).otherwise(
            F.lit("right")
        ),
    ).select("segment", "day", "d")
    children = _best(halves, ["segment"]).select(
        F.lit(2).alias("level"),
        "segment",
        F.col("day").alias("changepoint_day"),
        F.col("n_days").cast("bigint").alias("n_days"),
        F.col("c").alias("cusum_scaled"),
    )
    out = root.unionByName(children)
    return out.select(
        "level",
        "segment",
        "changepoint_day",
        "n_days",
        "cusum_scaled",
        F.when(F.col("cusum_scaled") > 0, F.lit("up"))
        .when(F.col("cusum_scaled") < 0, F.lit("down"))
        .otherwise(F.lit("flat"))
        .alias("direction"),
    )


BINSEG_CHANGEPOINTS_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS d
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
root_cur AS (
  SELECT day,
         sum(d) OVER (ORDER BY day) AS prefix,
         row_number() OVER (ORDER BY day) AS i,
         sum(d) OVER () AS s_total,
         count(*) OVER () AS n_days
  FROM daily
),
root_c AS (
  SELECT day, n_days,
         CAST(n_days * prefix - i * s_total AS BIGINT) AS c
  FROM root_cur
),
root_best AS (
  SELECT day, n_days, c,
         row_number() OVER (ORDER BY abs(c) DESC, day ASC) AS rn
  FROM root_c
),
root AS (
  SELECT 1 AS level, 'root' AS segment, day AS changepoint_day,
         CAST(n_days AS BIGINT) AS n_days, c AS cusum_scaled
  FROM root_best WHERE rn = 1
),
halves AS (
  SELECT CASE WHEN d0.day <= r.changepoint_day THEN 'left'
              ELSE 'right' END AS segment,
         d0.day, d0.d
  FROM daily d0 CROSS JOIN root r
),
child_cur AS (
  SELECT segment, day,
         sum(d) OVER (PARTITION BY segment ORDER BY day) AS prefix,
         row_number() OVER (PARTITION BY segment ORDER BY day) AS i,
         sum(d) OVER (PARTITION BY segment) AS s_total,
         count(*) OVER (PARTITION BY segment) AS n_days
  FROM halves
),
child_c AS (
  SELECT segment, day, n_days,
         CAST(n_days * prefix - i * s_total AS BIGINT) AS c
  FROM child_cur
),
child_best AS (
  SELECT segment, day, n_days, c,
         row_number() OVER (
           PARTITION BY segment ORDER BY abs(c) DESC, day ASC
         ) AS rn
  FROM child_c
),
children AS (
  SELECT 2 AS level, segment, day AS changepoint_day,
         CAST(n_days AS BIGINT) AS n_days, c AS cusum_scaled
  FROM child_best WHERE rn = 1
),
unioned AS (
  SELECT * FROM root UNION ALL SELECT * FROM children
)
SELECT level, segment, changepoint_day, n_days, cusum_scaled,
       CASE WHEN cusum_scaled > 0 THEN 'up'
            WHEN cusum_scaled < 0 THEN 'down'
            ELSE 'flat' END AS direction
FROM unioned
"""


# --------------------------------------------------------------------------
# Exact weighted median (quantity-weighted price per return flag)
# --------------------------------------------------------------------------

@query()
def weighted_median_price_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(l_returnflag, w_total, median_price_cents, median_price): the
    exact QUANTITY-WEIGHTED median extended price per return flag —
    the smallest price whose cumulative quantity mass reaches half
    the flag's total (the lower weighted median). The unweighted
    median (segment_spend_median) answers "the typical row"; this
    answers "the typical UNIT", the version pricing/mix analyses
    actually want when line items carry different volumes.

    Exactness: prices as floor-cents BIGINT, weights as exact BIGINT
    quantities; the crossing row satisfies the pure integer predicate
    2*(cum - w) < W <= 2*cum, so selection never touches a float and
    exactly one row survives per flag.

    Scale: the corpus pays ONE partial-aggregatable (flag, cents)
    rollup — the running-sum window then runs over DISTINCT price
    points per flag (bounded by the price domain, ~1e6 cents values,
    not by |lineitem|), which is the same frame-compression trick the
    equi-depth histogram uses. No corpus-sized window or sort."""
    li = tables.table(spark, sf_dir, "lineitem")
    pts = (
        li.select(
            "l_returnflag",
            F.floor(F.col("l_extendedprice") * 100).cast("bigint").alias(
                "cents"
            ),
            F.floor(F.col("l_quantity")).cast("bigint").alias("w"),
        )
        .groupBy("l_returnflag", "cents")
        .agg(F.sum("w").cast("bigint").alias("w"))
    )
    win = (
        Window.partitionBy("l_returnflag")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = pts.withColumn("cum", F.sum("w").over(win).cast("bigint"))
    tot = pts.groupBy("l_returnflag").agg(
        F.sum("w").cast("bigint").alias("w_total")
    )
    return (
        cum.join(F.broadcast(tot), "l_returnflag")
        .filter(
            (F.lit(2) * F.col("cum") >= F.col("w_total"))
            & (F.lit(2) * (F.col("cum") - F.col("w")) < F.col("w_total"))
        )
        .select(
            "l_returnflag",
            "w_total",
            F.col("cents").alias("median_price_cents"),
            (F.col("cents").cast("double") / F.lit(100.0)).alias(
                "median_price"
            ),
        )
    )


WEIGHTED_MEDIAN_PRICE_ORACLE = """
WITH pts AS (
  SELECT l_returnflag,
         CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents,
         CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS w
  FROM lineitem GROUP BY 1, 2
),
cum AS (
  SELECT l_returnflag, cents, w,
         CAST(sum(w) OVER (PARTITION BY l_returnflag ORDER BY cents
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum
  FROM pts
),
tot AS (
  SELECT l_returnflag, CAST(sum(w) AS BIGINT) AS w_total
  FROM pts GROUP BY 1
)
SELECT c.l_returnflag, t.w_total,
       c.cents AS median_price_cents,
       CAST(c.cents AS DOUBLE) / 100.0 AS median_price
FROM cum c JOIN tot t USING (l_returnflag)
WHERE 2 * c.cum >= t.w_total AND 2 * (c.cum - c.w) < t.w_total
"""


# --------------------------------------------------------------------------
# Durbin-Watson: serial correlation of daily order volume (r11 add)
# --------------------------------------------------------------------------


@query()
def durbin_watson_daily_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_days, total_orders, dw_num, dw_den, dw): the Durbin-Watson
    statistic of mean-centered daily order counts — the classic
    lag-1 serial-correlation gate (dw ~ 2 means no autocorrelation,
    -> 0 positive, -> 4 negative). weekly_autocorr reports the
    correlogram; DW is the single-number audit a freshness monitor
    thresholds: ingestion that batches multi-day backfills into
    bursts drives dw far below 2 long before any mean shifts.

    Exactness: residuals from the mean never touch floats — with D
    observed days and S total orders, the D-scaled residual s_t =
    D*x_t - S is exact BIGINT (the n-scaling trick), and DW =
    sum(s_t - s_{t-1})^2 / sum(s_t^2) is invariant to the common D
    factor. Numerator skips the spine's first day (no lag); both
    sums are BIGINT; dw is one final IEEE division. Degenerate
    guard: constant daily volume (all s_t = 0) emits NULL.

    Scale: one per-day rollup touches orders; the lag window runs on
    the bounded day spine (|days|, not |rows|)."""
    orders = tables.table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.to_date("o_orderdate").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    tot = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("d"),
        F.sum("x").cast("bigint").alias("s"),
    )
    scaled = daily.crossJoin(F.broadcast(tot)).select(
        "day",
        "d",
        "s",
        (F.col("d") * F.col("x") - F.col("s"))
        .cast("bigint")
        .alias("sv"),
    )
    w = Window.orderBy("day")
    lagged = scaled.select(
        "d", "s", "sv", F.lag("sv").over(w).alias("pv")
    )
    agg = lagged.agg(
        F.max("d").cast("bigint").alias("n_days"),
        F.max("s").cast("bigint").alias("total_orders"),
        F.sum(
            F.when(
                F.col("pv").isNotNull(),
                (F.col("sv") - F.col("pv")) * (F.col("sv") - F.col("pv")),
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("dw_num"),
        F.sum(F.col("sv") * F.col("sv")).cast("bigint").alias("dw_den"),
    )
    return agg.select(
        "n_days",
        "total_orders",
        "dw_num",
        "dw_den",
        F.when(
            F.col("dw_den") > 0,
            F.col("dw_num").cast("double")
            / F.col("dw_den").cast("double"),
        ).alias("dw"),
    )


DURBIN_WATSON_DAILY_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM orders GROUP BY 1
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS d, CAST(sum(x) AS BIGINT) AS s
  FROM daily
),
scaled AS (
  SELECT day, t.d, t.s, CAST(t.d * x - t.s AS BIGINT) AS sv
  FROM daily CROSS JOIN tot t
),
lagged AS (
  SELECT d, s, sv, lag(sv) OVER (ORDER BY day) AS pv FROM scaled
),
agg AS (
  SELECT CAST(max(d) AS BIGINT) AS n_days,
         CAST(max(s) AS BIGINT) AS total_orders,
         CAST(sum(CASE WHEN pv IS NOT NULL
                       THEN (sv - pv) * (sv - pv) ELSE 0 END)
              AS BIGINT) AS dw_num,
         CAST(sum(sv * sv) AS BIGINT) AS dw_den
  FROM lagged
)
SELECT n_days, total_orders, dw_num, dw_den,
       CASE WHEN dw_den > 0
            THEN CAST(dw_num AS DOUBLE) / CAST(dw_den AS DOUBLE)
       END AS dw
FROM agg
"""

"""Nonparametric / rank-based inference tier (round 8): Mann-Whitney
AUC per source, Kendall and Spearman rank trends, a Cramér-von Mises
two-sample drift audit, and the Pettitt changepoint test.

The reference's analytics surface stops at windowed counts and sums
(`streams/PurchasesTopology.java:43`); a training-data pipeline
operating at 100 TB needs distribution-level gates that are robust to
outliers and make no normality assumption — rank statistics are the
standard toolkit (a backfill spike moves a mean arbitrarily but moves
a rank by one). Everything here is exact: ranks and midranks are
carried as 2x-scaled BIGINTs (so .5-step midranks stay integers),
cross-engine float work is either a single IEEE division/sqrt of
exact integers or a fixed-point floor taken per term BEFORE any
unordered sum (the neyman_allocation pattern).

Scale posture: every operator reduces the corpus ONCE with a
partial-aggregatable rollup (per-(source,value) counts, the day
spine) and does all pairwise/rank work on that bounded frame —
|sources| x |distinct lengths| grids, O(days^2) pair frames on a
bounded spine — never on raw rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import tables
from ..registry import query

# --------------------------------------------------------------------------
# Mann-Whitney U / AUC: each source's doc-length shift vs the rest
# --------------------------------------------------------------------------


@query()
def mann_whitney_audit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_src, n_rest, u2, auc): the exact Mann-Whitney U of
    each source's ``n_chars`` sample against the REST of the corpus,
    carried as ``u2 = 2*U`` (BIGINT, exact under ties via midranks)
    and the rank-biserial readable form ``auc = U / (n_src *
    n_rest)`` — the probability a random doc from this source is
    longer than a random doc from elsewhere (0.5 = no shift). The
    location-shift gate that, unlike a t-test on means, a single
    truncated-upload batch cannot fake.

    Exactness: pooled midranks are computed on the (value -> pooled
    count) rollup as ``2*midrank = 2*cum_before + cnt + 1`` (integer;
    the 2x scale keeps .5-step midranks exact), rank sums are BIGINT
    sums of count*midrank2 products, and ``2U = 2R - n_src*(n_src+1)``
    never touches a float until the final division. Bound: R2 <=
    2*N^2, so N up to ~2e9 pooled rows fits 2^63 — beyond that the
    rollup itself is the shard boundary.

    Scale: ONE per-(source, n_chars) count rollup touches the corpus;
    midranks live on the |distinct n_chars|-sized pooled spine
    (window over a domain-sized frame), rank sums on the
    |sources| x |values| grid. Nothing pairwise, nothing per-row."""
    docs = tables.table(spark, sf_dir, "documents")
    counts = docs.groupBy("source", "n_chars").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    pooled = counts.groupBy("n_chars").agg(
        F.sum("c").cast("bigint").alias("p")
    )
    wv = Window.orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, -1
    )
    mid = pooled.select(
        "n_chars",
        "p",
        (
            F.lit(2) * F.coalesce(F.sum("p").over(wv), F.lit(0))
            + F.col("p")
            + F.lit(1)
        ).cast("bigint").alias("midrank2"),
    )
    n_total = pooled.agg(F.sum("p").cast("bigint").alias("n_all"))
    r2 = (
        counts.join(mid.select("n_chars", "midrank2"), "n_chars")
        .groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_src"),
            F.sum(F.col("c") * F.col("midrank2"))
            .cast("bigint")
            .alias("r2"),
        )
    )
    return r2.crossJoin(F.broadcast(n_total)).select(
        "source",
        "n_src",
        (F.col("n_all") - F.col("n_src")).cast("bigint").alias("n_rest"),
        (
            F.col("r2") - F.col("n_src") * (F.col("n_src") + F.lit(1))
        ).cast("bigint").alias("u2"),
        F.when(
            (F.col("n_all") - F.col("n_src")) > 0,
            (F.col("r2") - F.col("n_src") * (F.col("n_src") + 1))
            .cast("double")
            / (
                F.lit(2.0)
                * F.col("n_src").cast("double")
                * (F.col("n_all") - F.col("n_src")).cast("double")
            ),
        ).alias("auc"),
    )


MANN_WHITNEY_AUDIT_ORACLE = """
WITH counts AS (
  SELECT source, n_chars, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2
),
pooled AS (
  SELECT n_chars, CAST(sum(c) AS BIGINT) AS p FROM counts GROUP BY 1
),
mid AS (
  SELECT n_chars, p,
         CAST(2 * COALESCE(sum(p) OVER (
             ORDER BY n_chars
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) + p + 1 AS BIGINT) AS midrank2
  FROM pooled
),
tot AS (SELECT CAST(sum(p) AS BIGINT) AS n_all FROM pooled),
r2 AS (
  SELECT c.source,
         CAST(sum(c.c) AS BIGINT) AS n_src,
         CAST(sum(c.c * m.midrank2) AS BIGINT) AS r2
  FROM counts c JOIN mid m ON m.n_chars = c.n_chars
  GROUP BY 1
)
SELECT r.source, r.n_src,
       CAST(t.n_all - r.n_src AS BIGINT) AS n_rest,
       CAST(r.r2 - r.n_src * (r.n_src + 1) AS BIGINT) AS u2,
       CASE WHEN t.n_all - r.n_src > 0 THEN
         CAST(r.r2 - r.n_src * (r.n_src + 1) AS DOUBLE)
           / (2.0 * CAST(r.n_src AS DOUBLE)
              * CAST(t.n_all - r.n_src AS DOUBLE))
       END AS auc
FROM r2 r, tot t
"""


# --------------------------------------------------------------------------
# Kendall tau-a on the daily purchase-revenue trend
# --------------------------------------------------------------------------


@query()
def kendall_tau_trend_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_days, n_pairs, n_concordant, n_discordant, n_ties, tau_a):
    Kendall's tau over the (day-index, daily purchase cents) series —
    the fraction of day pairs moving WITH the trend minus the
    fraction moving against it. The monotone-trend twin of
    ``theil_sen_trend`` (same day spine, same pair frame): tau reads
    direction-consistency where Theil-Sen reads magnitude, and
    together they are the standard robust pair for "is revenue
    actually growing".

    Exactness: concordant/discordant/tied are exact BIGINT counts of
    integer comparisons (cents BIGINT, day-index BIGINT); ``tau_a =
    (nc - nd) / (n(n-1)/2)`` is one IEEE division at the end. Ties
    count toward neither (tau-a; documented rather than the
    sqrt-denominator tau-b so the denominator stays exact).

    Scale: the corpus collapses to the day spine first; the
    O(days^2) pair frame lives on that bounded spine (the
    ``theil_sen_trend`` posture — a decade is ~7M pairs)."""
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
    a = daily.select(F.col("day").alias("di"), F.col("cents").alias("ci"))
    b = daily.select(F.col("day").alias("dj"), F.col("cents").alias("cj"))
    pairs = a.join(b, F.col("di") < F.col("dj"))
    agg = pairs.agg(
        F.sum((F.col("cj") > F.col("ci")).cast("bigint"))
        .cast("bigint")
        .alias("n_concordant"),
        F.sum((F.col("cj") < F.col("ci")).cast("bigint"))
        .cast("bigint")
        .alias("n_discordant"),
        F.sum((F.col("cj") == F.col("ci")).cast("bigint"))
        .cast("bigint")
        .alias("n_ties"),
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
    )
    n = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    return n.crossJoin(F.broadcast(agg)).select(
        "n_days",
        "n_pairs",
        "n_concordant",
        "n_discordant",
        "n_ties",
        F.when(
            F.col("n_pairs") > 0,
            (F.col("n_concordant") - F.col("n_discordant")).cast("double")
            / F.col("n_pairs").cast("double"),
        ).alias("tau_a"),
    )


KENDALL_TAU_TREND_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
pairs AS (
  SELECT CAST(sum(CASE WHEN b.cents > a.cents THEN 1 ELSE 0 END)
           AS BIGINT) AS n_concordant,
         CAST(sum(CASE WHEN b.cents < a.cents THEN 1 ELSE 0 END)
           AS BIGINT) AS n_discordant,
         CAST(sum(CASE WHEN b.cents = a.cents THEN 1 ELSE 0 END)
           AS BIGINT) AS n_ties,
         CAST(count(*) AS BIGINT) AS n_pairs
  FROM daily a JOIN daily b ON a.day < b.day
)
SELECT n.n_days, p.n_pairs, p.n_concordant, p.n_discordant, p.n_ties,
       CASE WHEN p.n_pairs > 0 THEN
         CAST(p.n_concordant - p.n_discordant AS DOUBLE)
           / CAST(p.n_pairs AS DOUBLE)
       END AS tau_a
FROM (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily) n, pairs p
"""


# --------------------------------------------------------------------------
# Spearman rank correlation on the daily trend (midranks, exact sums)
# --------------------------------------------------------------------------


@query()
def spearman_trend_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_days, num, den_x, den_y, rho): Spearman's rank correlation
    of daily purchase cents against time — Pearson on (2x-scaled)
    ranks, with cents ties handled by midranks. The third leg of the
    robust-trend triad (Theil-Sen magnitude, Kendall direction,
    Spearman strength).

    Exactness: day ranks are row_number (days are distinct), cents
    midranks are ``2*midrank = 2*rank() + count_eq - 1`` (exact
    integers at 2x scale); num/den are the exact BIGINT Pearson
    moment forms ``num = n*S_ab - S_a*S_b``, ``den_x = n*S_aa -
    S_a^2``; rho = num / (sqrt(den_x)*sqrt(den_y)) is two correctly-
    rounded IEEE sqrts and one division. Bound: the moment sums grow
    as 4*n^4 on the DAY spine — exact up to ~38k days (a century);
    the spine, not corpus rows, is the n.

    Scale: corpus -> day spine (partial-aggregatable), ranks via two
    windows on the bounded spine, one scalar aggregate."""
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
    ranked = daily.select(
        (F.lit(2) * F.row_number().over(Window.orderBy("day")))
        .cast("bigint")
        .alias("rx2"),
        (
            F.lit(2) * F.rank().over(Window.orderBy("cents"))
            + F.count(F.lit(1)).over(Window.partitionBy("cents"))
            - F.lit(1)
        ).cast("bigint").alias("ry2"),
    )
    m = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("rx2").cast("bigint").alias("sa"),
        F.sum("ry2").cast("bigint").alias("sb"),
        F.sum(F.col("rx2") * F.col("rx2")).cast("bigint").alias("saa"),
        F.sum(F.col("ry2") * F.col("ry2")).cast("bigint").alias("sbb"),
        F.sum(F.col("rx2") * F.col("ry2")).cast("bigint").alias("sab"),
    )
    return m.select(
        F.col("n").alias("n_days"),
        (F.col("n") * F.col("sab") - F.col("sa") * F.col("sb"))
        .cast("bigint")
        .alias("num"),
        (F.col("n") * F.col("saa") - F.col("sa") * F.col("sa"))
        .cast("bigint")
        .alias("den_x"),
        (F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb"))
        .cast("bigint")
        .alias("den_y"),
        F.when(
            (F.col("n") * F.col("saa") - F.col("sa") * F.col("sa") > 0)
            & (F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb") > 0),
            (F.col("n") * F.col("sab") - F.col("sa") * F.col("sb"))
            .cast("double")
            / (
                F.sqrt(
                    (F.col("n") * F.col("saa") - F.col("sa") * F.col("sa"))
                    .cast("double")
                )
                * F.sqrt(
                    (F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb"))
                    .cast("double")
                )
            ),
        ).alias("rho"),
    )


SPEARMAN_TREND_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
ranked AS (
  SELECT CAST(2 * row_number() OVER (ORDER BY day) AS BIGINT) AS rx2,
         CAST(2 * rank() OVER (ORDER BY cents)
              + count(*) OVER (PARTITION BY cents) - 1 AS BIGINT) AS ry2
  FROM daily
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(rx2) AS BIGINT) AS sa,
         CAST(sum(ry2) AS BIGINT) AS sb,
         CAST(sum(rx2 * rx2) AS BIGINT) AS saa,
         CAST(sum(ry2 * ry2) AS BIGINT) AS sbb,
         CAST(sum(rx2 * ry2) AS BIGINT) AS sab
  FROM ranked
)
SELECT n AS n_days,
       CAST(n * sab - sa * sb AS BIGINT) AS num,
       CAST(n * saa - sa * sa AS BIGINT) AS den_x,
       CAST(n * sbb - sb * sb AS BIGINT) AS den_y,
       CASE WHEN n * saa - sa * sa > 0 AND n * sbb - sb * sb > 0 THEN
         CAST(n * sab - sa * sb AS DOUBLE)
           / (sqrt(CAST(n * saa - sa * sa AS DOUBLE))
              * sqrt(CAST(n * sbb - sb * sb AS DOUBLE)))
       END AS rho
FROM m
"""


# --------------------------------------------------------------------------
# Cramér-von Mises two-sample drift between source pairs
# --------------------------------------------------------------------------

_CVM_FP = 1_000_000_000  # per-term fixed-point scale (1e9)


@query()
def cvm_drift_audit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src_a, src_b, n_a, n_b, t_fp, cvm): the Cramér-von Mises
    two-sample statistic between every pair of sources on ``n_chars``
    — the INTEGRATED squared CDF gap, where ``ks_drift_audit`` reads
    only the maximum gap. CvM is the gate that catches a
    distribution that drifts a little EVERYWHERE (re-encoded corpus,
    shifted tokenizer) which KS's single supremum under-weights.
    T = (n_a*n_b)/(n_a+n_b)^2 * sum over pooled observations of
    (F_a - F_b)^2, computed on the pooled value grid with the pair's
    pooled count at each value as the weight.

    Exactness: each grid term is fixed-pointed INDEPENDENTLY —
    ``floor(1e9 * (cum_a/n_a - cum_b/n_b)^2)`` is a deterministic
    IEEE expression on exact integers — and then integer-weighted
    and integer-summed (the neyman_allocation pattern: never an
    unordered float SUM). ``t_fp`` is that exact BIGINT; ``cvm``
    re-scales it in one float expression. Bound: t_fp <= N * 1e9,
    exact to N ~ 9e9 pooled rows per pair.

    Scale: same frame plan as ``ks_drift_audit`` — ONE corpus rollup,
    then grids sized |sources| x |distinct values|; the pair join is
    ON the grid value, never on rows."""
    docs = tables.table(spark, sf_dir, "documents")
    counts = docs.groupBy("source", "n_chars").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    vals = counts.select("n_chars").distinct()
    srcs = counts.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tot")
    )
    grid = srcs.crossJoin(vals).join(counts, ["source", "n_chars"], "left")
    w = (
        Window.partitionBy("source")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = grid.select(
        "source",
        "n_chars",
        "n_tot",
        F.coalesce("c", F.lit(0)).cast("bigint").alias("cnt"),
        F.sum(F.coalesce("c", F.lit(0))).over(w).cast("bigint").alias("cum"),
    )
    a = cum.select(
        F.col("source").alias("src_a"),
        F.col("n_chars").alias("v"),
        F.col("n_tot").alias("n_a"),
        F.col("cnt").alias("c_a"),
        F.col("cum").alias("cum_a"),
    )
    b = cum.select(
        F.col("source").alias("src_b"),
        F.col("n_chars").alias("v"),
        F.col("n_tot").alias("n_b"),
        F.col("cnt").alias("c_b"),
        F.col("cum").alias("cum_b"),
    )
    d = (
        a.join(b, "v")
        .filter(F.col("src_a") < F.col("src_b"))
        .select(
            "src_a",
            "src_b",
            "n_a",
            "n_b",
            (
                (F.col("c_a") + F.col("c_b"))
                * F.floor(
                    F.lit(float(_CVM_FP))
                    * (
                        F.col("cum_a").cast("double")
                        / F.col("n_a").cast("double")
                        - F.col("cum_b").cast("double")
                        / F.col("n_b").cast("double")
                    )
                    * (
                        F.col("cum_a").cast("double")
                        / F.col("n_a").cast("double")
                        - F.col("cum_b").cast("double")
                        / F.col("n_b").cast("double")
                    )
                ).cast("bigint")
            ).alias("term_fp"),
        )
    )
    return d.groupBy("src_a", "src_b", "n_a", "n_b").agg(
        F.sum("term_fp").cast("bigint").alias("t_fp")
    ).select(
        "src_a",
        "src_b",
        "n_a",
        "n_b",
        "t_fp",
        (
            F.col("n_a").cast("double")
            * F.col("n_b").cast("double")
            / (
                (F.col("n_a") + F.col("n_b")).cast("double")
                * (F.col("n_a") + F.col("n_b")).cast("double")
            )
            * (F.col("t_fp").cast("double") / F.lit(float(_CVM_FP)))
        ).alias("cvm"),
    )


CVM_DRIFT_AUDIT_ORACLE = f"""
WITH counts AS (
  SELECT source, n_chars, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2
),
vals AS (SELECT DISTINCT n_chars FROM counts),
srcs AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS n_tot FROM counts GROUP BY 1
),
cum AS (
  SELECT s.source, v.n_chars, s.n_tot,
         CAST(COALESCE(c.c, 0) AS BIGINT) AS cnt,
         CAST(sum(COALESCE(c.c, 0)) OVER (
           PARTITION BY s.source ORDER BY v.n_chars
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS cum
  FROM srcs s CROSS JOIN vals v
  LEFT JOIN counts c ON c.source = s.source AND c.n_chars = v.n_chars
),
terms AS (
  SELECT a.source AS src_a, b.source AS src_b,
         a.n_tot AS n_a, b.n_tot AS n_b,
         CAST((a.cnt + b.cnt)
           * CAST(floor(CAST({_CVM_FP} AS DOUBLE)
               * (CAST(a.cum AS DOUBLE) / CAST(a.n_tot AS DOUBLE)
                  - CAST(b.cum AS DOUBLE) / CAST(b.n_tot AS DOUBLE))
               * (CAST(a.cum AS DOUBLE) / CAST(a.n_tot AS DOUBLE)
                  - CAST(b.cum AS DOUBLE) / CAST(b.n_tot AS DOUBLE)))
             AS BIGINT) AS BIGINT) AS term_fp
  FROM cum a JOIN cum b ON a.n_chars = b.n_chars AND a.source < b.source
)
SELECT src_a, src_b, n_a, n_b,
       CAST(sum(term_fp) AS BIGINT) AS t_fp,
       CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
         / (CAST(n_a + n_b AS DOUBLE) * CAST(n_a + n_b AS DOUBLE))
         * (CAST(sum(term_fp) AS DOUBLE) / CAST({_CVM_FP} AS DOUBLE))
         AS cvm
FROM terms GROUP BY 1, 2, 3, 4
"""


# --------------------------------------------------------------------------
# Pettitt changepoint test on the daily revenue series
# --------------------------------------------------------------------------


@query()
def pettitt_changepoint_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(n_days, t_index, day, u2_signed, k2): the Pettitt rank
    changepoint test over daily purchase cents — the day t that
    maximizes |U_t| where ``U_t = sum_{i<=t} 2*midrank_i - t*(n+1)``
    (the Mann-Whitney statistic of "before t" vs "after t", swept
    over every split point). The nonparametric complement to
    ``cusum_changepoint``: CUSUM reads mean shifts in VALUE space
    (sensitive to outliers), Pettitt reads them in RANK space.

    Exactness: midranks at 2x scale (exact integers under ties),
    cumulative sums and ``u2`` pure BIGINT; the argmax tie-breaks on
    the earliest day, so the emitted row is deterministic. Note
    ``u2_signed``/``k2`` carry the 2x scale of the textbook U
    (U = u2/2 when ranks are integral).

    Scale: corpus -> day spine; two windows (midrank, running sum)
    and one ordered limit on the bounded spine. The single-partition
    windows are deliberate and bounded, as in ``theil_sen_trend``."""
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
    ranked = daily.select(
        "day",
        (
            F.lit(2) * F.rank().over(Window.orderBy("cents"))
            + F.count(F.lit(1)).over(Window.partitionBy("cents"))
            - F.lit(1)
        ).cast("bigint").alias("r2"),
    )
    wd = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    n = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    u = (
        ranked.crossJoin(F.broadcast(n))
        .select(
            "n_days",
            "day",
            F.row_number().over(Window.orderBy("day")).cast("bigint")
            .alias("t_index"),
            F.sum("r2").over(wd).cast("bigint").alias("cum_r2"),
        )
        .select(
            "n_days",
            "t_index",
            "day",
            (
                F.col("cum_r2") - F.col("t_index") * (F.col("n_days") + 1)
            ).cast("bigint").alias("u2_signed"),
        )
        .filter(F.col("t_index") < F.col("n_days"))
    )
    return (
        u.orderBy(F.abs(F.col("u2_signed")).desc(), "day")
        .limit(1)
        .select(
            "n_days",
            "t_index",
            F.col("day").cast("string").alias("day"),
            "u2_signed",
            F.abs(F.col("u2_signed")).cast("bigint").alias("k2"),
        )
    )


PETTITT_CHANGEPOINT_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
ranked AS (
  SELECT day,
         CAST(2 * rank() OVER (ORDER BY cents)
              + count(*) OVER (PARTITION BY cents) - 1 AS BIGINT) AS r2
  FROM daily
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily),
u AS (
  SELECT n.n_days,
         CAST(row_number() OVER (ORDER BY r.day) AS BIGINT) AS t_index,
         r.day,
         CAST(sum(r.r2) OVER (
             ORDER BY r.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) - row_number() OVER (ORDER BY r.day) * (n.n_days + 1)
           AS BIGINT) AS u2_signed
  FROM ranked r, n
)
SELECT n_days, t_index, CAST(day AS VARCHAR) AS day, u2_signed,
       CAST(abs(u2_signed) AS BIGINT) AS k2
FROM u
WHERE t_index < n_days
ORDER BY abs(u2_signed) DESC, day
LIMIT 1
"""

# --------------------------------------------------------------------------
# Wilson score interval per source (lang='en' proportion)
# --------------------------------------------------------------------------

_WILSON_Z = 1.96  # 95% two-sided normal quantile, baked literal


@query()
def wilson_ci_segments_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_docs, n_en, p_hat, ci_lo, ci_hi): each source's
    English-document proportion with its Wilson score 95% interval —
    the proportion CI that stays inside [0,1] and behaves at k=0 /
    k=n, which is why ingest dashboards use it over the Wald interval
    for per-shard acceptance rates (a 25-doc source with 0 English
    docs gets a sane upper bound instead of [0,0]).

    Exactness: k and n are exact BIGINTs from one rollup; the
    interval is a fixed IEEE expression (one sqrt, the baked z
    literal) over those integers — identical across engines, no
    unordered float sums anywhere.

    Scale: ONE partial-aggregatable groupBy(source); the interval
    math is per-group scalar arithmetic."""
    docs = tables.table(spark, sf_dir, "documents")
    agg = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum((F.col("lang") == "en").cast("int"))
        .cast("bigint")
        .alias("n_en"),
    )
    z = F.lit(float(_WILSON_Z))
    n = F.col("n_docs").cast("double")
    p = F.col("n_en").cast("double") / n
    z2n = z * z / n
    center = (p + z2n / 2.0) / (1.0 + z2n)
    half = (
        z
        / (1.0 + z2n)
        * F.sqrt(p * (1.0 - p) / n + z * z / (4.0 * n * n))
    )
    return agg.select(
        "source",
        "n_docs",
        "n_en",
        p.alias("p_hat"),
        (center - half).alias("ci_lo"),
        (center + half).alias("ci_hi"),
    )


WILSON_CI_SEGMENTS_ORACLE = f"""
WITH agg AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_en
  FROM documents GROUP BY 1
)
SELECT source, n_docs, n_en,
       CAST(n_en AS DOUBLE) / CAST(n_docs AS DOUBLE) AS p_hat,
       (CAST(n_en AS DOUBLE) / CAST(n_docs AS DOUBLE)
          + CAST({_WILSON_Z} AS DOUBLE) * CAST({_WILSON_Z} AS DOUBLE)
            / CAST(n_docs AS DOUBLE) / 2.0)
         / (1.0 + CAST({_WILSON_Z} AS DOUBLE) * CAST({_WILSON_Z} AS DOUBLE)
              / CAST(n_docs AS DOUBLE))
       - CAST({_WILSON_Z} AS DOUBLE)
         / (1.0 + CAST({_WILSON_Z} AS DOUBLE) * CAST({_WILSON_Z} AS DOUBLE)
              / CAST(n_docs AS DOUBLE))
         * sqrt(CAST(n_en AS DOUBLE) / CAST(n_docs AS DOUBLE)
                * (1.0 - CAST(n_en AS DOUBLE) / CAST(n_docs AS DOUBLE))
                / CAST(n_docs AS DOUBLE)
                + CAST({_WILSON_Z} AS DOUBLE) * CAST({_WILSON_Z} AS DOUBLE)
                  / (4.0 * CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE)))
         AS ci_lo,
       (CAST(n_en AS DOUBLE) / CAST(n_docs AS DOUBLE)
          + CAST({_WILSON_Z} AS DOUBLE) * CAST({_WILSON_Z} AS DOUBLE)
            / CAST(n_docs AS DOUBLE) / 2.0)
         / (1.0 + CAST({_WILSON_Z} AS DOUBLE) * CAST({_WILSON_Z} AS DOUBLE)
              / CAST(n_docs AS DOUBLE))
       + CAST({_WILSON_Z} AS DOUBLE)
         / (1.0 + CAST({_WILSON_Z} AS DOUBLE) * CAST({_WILSON_Z} AS DOUBLE)
              / CAST(n_docs AS DOUBLE))
         * sqrt(CAST(n_en AS DOUBLE) / CAST(n_docs AS DOUBLE)
                * (1.0 - CAST(n_en AS DOUBLE) / CAST(n_docs AS DOUBLE))
                / CAST(n_docs AS DOUBLE)
                + CAST({_WILSON_Z} AS DOUBLE) * CAST({_WILSON_Z} AS DOUBLE)
                  / (4.0 * CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE)))
         AS ci_hi
FROM agg
"""

# --------------------------------------------------------------------------
# Empirical-Bayes shrinkage of per-source rates (beta-binomial MoM)
# --------------------------------------------------------------------------


@query()
def eb_rate_shrinkage_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_docs, n_en, raw_rate, m_strength, shrunk_rate): each
    source's English-doc rate shrunk toward the cross-source mean by
    the beta-binomial method-of-moments — the standard fix for
    "the 25-doc source shows 0% English" small-sample noise when
    ranking shards by a quality rate. Strength M = m(1-m)/v - 1
    (m, v = mean/variance of the raw per-source rates); shrunk =
    (k + m*M) / (n + M), so small-n sources move most.

    Determinism: the cross-source moments are sums over ~|sources|
    DOUBLE rates — an unordered float SUM would be engine-dependent,
    so both engines fold a SOURCE-SORTED list (Spark ``aggregate``
    over ``array_sort(collect_list(struct))``, DuckDB ``list_reduce``
    over ``list(... ORDER BY source)``) — identical IEEE add order.
    Degenerate guard: v = 0 or M <= 0 emits M = 0 and shrunk = raw.

    Scale: ONE corpus rollup to |sources| rows; the fold runs on a
    catalog-sized list inside one scalar row; the final join
    broadcasts that row back across the rate frame."""
    docs = tables.table(spark, sf_dir, "documents")
    rates = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum((F.col("lang") == "en").cast("int"))
        .cast("bigint")
        .alias("n_en"),
    ).select(
        "source",
        "n_docs",
        "n_en",
        (F.col("n_en").cast("double") / F.col("n_docs").cast("double"))
        .alias("raw_rate"),
    )
    packed = rates.agg(
        F.array_sort(
            F.collect_list(F.struct("source", "raw_rate"))
        ).alias("lst"),
        F.count(F.lit(1)).cast("bigint").alias("n_src"),
    ).select(
        "n_src",
        F.expr(
            "aggregate(transform(lst, x -> x.raw_rate), "
            "cast(0.0 as double), (a, x) -> a + x)"
        ).alias("s1"),
        F.col("lst"),
    ).select(
        "n_src",
        (F.col("s1") / F.col("n_src").cast("double")).alias("m"),
        F.col("lst"),
    ).select(
        "n_src",
        "m",
        F.expr(
            "aggregate(transform(lst, x -> (x.raw_rate - m) "
            "* (x.raw_rate - m)), cast(0.0 as double), (a, x) -> a + x)"
        ).alias("ss"),
    ).select(
        "m",
        F.when(
            F.col("n_src") > 1,
            F.col("ss") / (F.col("n_src") - 1).cast("double"),
        ).otherwise(F.lit(0.0)).alias("v"),
    ).select(
        "m",
        F.when(
            (F.col("v") > 0)
            & (F.col("m") * (1.0 - F.col("m")) / F.col("v") - 1.0 > 0),
            F.col("m") * (1.0 - F.col("m")) / F.col("v") - 1.0,
        ).otherwise(F.lit(0.0)).alias("m_strength"),
    )
    return rates.crossJoin(F.broadcast(packed)).select(
        "source",
        "n_docs",
        "n_en",
        "raw_rate",
        "m_strength",
        (
            (F.col("n_en").cast("double") + F.col("m") * F.col("m_strength"))
            / (F.col("n_docs").cast("double") + F.col("m_strength"))
        ).alias("shrunk_rate"),
    )


EB_RATE_SHRINKAGE_ORACLE = """
WITH rates AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_en,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS raw_rate
  FROM documents GROUP BY 1
),
packed AS (
  SELECT list(raw_rate ORDER BY source) AS lst,
         CAST(count(*) AS BIGINT) AS n_src
  FROM rates
),
mom1 AS (
  SELECT n_src, lst,
         list_reduce(lst, (a, x) -> a + x) / CAST(n_src AS DOUBLE) AS m
  FROM packed
),
mom2 AS (
  SELECT m,
         CASE WHEN n_src > 1 THEN
           list_reduce(list_transform(lst, x -> (x - m) * (x - m)),
                       (a, x) -> a + x) / CAST(n_src - 1 AS DOUBLE)
         ELSE 0.0 END AS v
  FROM mom1
),
strength AS (
  SELECT m,
         CASE WHEN v > 0 AND m * (1.0 - m) / v - 1.0 > 0
              THEN m * (1.0 - m) / v - 1.0 ELSE 0.0 END AS m_strength
  FROM mom2
)
SELECT r.source, r.n_docs, r.n_en, r.raw_rate, s.m_strength,
       (CAST(r.n_en AS DOUBLE) + s.m * s.m_strength)
         / (CAST(r.n_docs AS DOUBLE) + s.m_strength) AS shrunk_rate
FROM rates r, strength s
"""


# --------------------------------------------------------------------------
# Cramér's V: event_type x weekday association strength
# --------------------------------------------------------------------------


@query()
def cramers_v_association_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(n_rows, n_types, n_dows, chi2, cramers_v): the chi-squared
    association between event_type and weekday with Cramér's V
    normalization — the [0,1] "does behavior depend on the day"
    effect size a seasonality-aware sampler checks before stratifying
    on weekday at all (V ~ 0 means the stratification buys nothing).
    Weekday is computed as ``datediff(day, 1970-01-05) mod 7``
    (0 = Monday) — the engine-neutral form, since Spark's dayofweek
    (1 = Sunday) and DuckDB's (0 = Sunday) disagree.

    Exactness: observed/margin counts are exact BIGINTs; each cell's
    chi2 term is a fixed IEEE expression over them (the N*O and R*C
    products are taken in DOUBLE — their BIGINT squares would
    overflow first); the sum over the |types| x 7 grid folds a
    CELL-SORTED list on both engines (no unordered float sum). V's
    sqrt is correctly-rounded IEEE.

    Scale: ONE partial-aggregatable rollup to the |types| x 7 cell
    grid; margins and the fold live on that bounded frame."""
    ev = tables.table(spark, sf_dir, "events")
    cells = ev.select(
        "event_type",
        (
            F.datediff(F.to_date("ts"), F.lit("1970-01-05").cast("date"))
            % 7
        ).cast("int").alias("dow"),
    ).groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("o")
    )
    wr = Window.partitionBy("event_type")
    wc = Window.partitionBy("dow")
    wall = Window.partitionBy()
    terms = cells.select(
        "event_type",
        "dow",
        "o",
        F.sum("o").over(wr).cast("bigint").alias("r_m"),
        F.sum("o").over(wc).cast("bigint").alias("c_m"),
        F.sum("o").over(wall).cast("bigint").alias("n"),
    ).select(
        "event_type",
        "dow",
        "n",
        (
            (
                F.col("n").cast("double") * F.col("o").cast("double")
                - F.col("r_m").cast("double") * F.col("c_m").cast("double")
            )
            * (
                F.col("n").cast("double") * F.col("o").cast("double")
                - F.col("r_m").cast("double") * F.col("c_m").cast("double")
            )
            / (
                F.col("n").cast("double")
                * F.col("r_m").cast("double")
                * F.col("c_m").cast("double")
            )
        ).alias("term"),
    )
    agg = terms.groupBy("n").agg(
        F.expr(
            "aggregate(transform(array_sort(collect_list("
            "struct(event_type, dow, term))), x -> x.term), "
            "cast(0.0 as double), (a, x) -> a + x)"
        ).alias("chi2"),
        F.countDistinct("event_type").cast("bigint").alias("n_types"),
        F.countDistinct("dow").cast("bigint").alias("n_dows"),
    )
    return agg.select(
        F.col("n").alias("n_rows"),
        "n_types",
        "n_dows",
        "chi2",
        F.when(
            F.least(F.col("n_types") - 1, F.col("n_dows") - 1) > 0,
            F.sqrt(
                F.col("chi2")
                / (
                    F.col("n").cast("double")
                    * F.least(F.col("n_types") - 1, F.col("n_dows") - 1)
                    .cast("double")
                )
            ),
        ).otherwise(F.lit(0.0)).alias("cramers_v"),
    )


CRAMERS_V_ASSOCIATION_ORACLE = """
WITH cells AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '1970-01-05', CAST(ts AS DATE)) % 7
           AS INT) AS dow,
         CAST(count(*) AS BIGINT) AS o
  FROM events GROUP BY 1, 2
),
terms AS (
  SELECT event_type, dow,
         CAST(sum(o) OVER () AS BIGINT) AS n,
         (CAST(sum(o) OVER () AS DOUBLE) * CAST(o AS DOUBLE)
            - CAST(sum(o) OVER (PARTITION BY event_type) AS DOUBLE)
              * CAST(sum(o) OVER (PARTITION BY dow) AS DOUBLE))
         * (CAST(sum(o) OVER () AS DOUBLE) * CAST(o AS DOUBLE)
            - CAST(sum(o) OVER (PARTITION BY event_type) AS DOUBLE)
              * CAST(sum(o) OVER (PARTITION BY dow) AS DOUBLE))
         / (CAST(sum(o) OVER () AS DOUBLE)
            * CAST(sum(o) OVER (PARTITION BY event_type) AS DOUBLE)
            * CAST(sum(o) OVER (PARTITION BY dow) AS DOUBLE)) AS term
  FROM cells
),
agg AS (
  SELECT n,
         list_reduce(list(term ORDER BY event_type, dow),
                     (a, x) -> a + x) AS chi2,
         CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
         CAST(count(DISTINCT dow) AS BIGINT) AS n_dows
  FROM terms GROUP BY n
)
SELECT n AS n_rows, n_types, n_dows, chi2,
       CASE WHEN least(n_types - 1, n_dows - 1) > 0 THEN
         sqrt(chi2 / (CAST(n AS DOUBLE)
                      * CAST(least(n_types - 1, n_dows - 1) AS DOUBLE)))
       ELSE 0.0 END AS cramers_v
FROM agg
"""


# --------------------------------------------------------------------------
# Hodges-Lehmann shift: weekend vs weekday daily revenue
# --------------------------------------------------------------------------


@query()
def hodges_lehmann_shift_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(n_weekend, n_weekday, n_pairs, hl_shift_cents): the
    Hodges-Lehmann estimator of the weekend-vs-weekday shift in daily
    purchase revenue — the MEDIAN over all (weekend day, weekday day)
    pairs of the cents difference. The location-shift companion to
    ``mann_whitney_audit``: U says WHETHER the distributions differ,
    HL says BY HOW MUCH, with the same ~29% breakdown robustness as
    Theil-Sen (whose pair-median construction this mirrors).

    Weekday parity via ``datediff(day, 1970-01-05) mod 7`` (see
    ``cramers_v_association`` for why not dayofweek). Exactness:
    differences are exact BIGINT cents; the median picks middle
    element(s) by row_number with a deterministic (diff, days) order;
    the even-pair average is a single two-operand float expression.

    Scale: corpus -> day spine; the pair frame is |weekend| x
    |weekday| rows of that bounded spine (a decade ~ 2.7M pairs)."""
    ev = tables.table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.floor(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
        .select(
            "day",
            "cents",
            (
                (
                    F.datediff(
                        F.col("day"), F.lit("1970-01-05").cast("date")
                    )
                    % 7
                )
                >= 5
            ).alias("is_weekend"),
        )
    )
    we = daily.filter(F.col("is_weekend")).select(
        F.col("day").alias("dw"), F.col("cents").alias("cw")
    )
    wd = daily.filter(~F.col("is_weekend")).select(
        F.col("day").alias("dd"), F.col("cents").alias("cd")
    )
    diffs = we.crossJoin(wd).select(
        (F.col("cw") - F.col("cd")).cast("bigint").alias("diff"),
        "dw",
        "dd",
    )
    w = Window.orderBy("diff", "dw", "dd")
    ranked = diffs.select(
        "diff",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).cast("bigint").alias("n_pairs"),
    )
    med = ranked.filter(
        (F.col("rn") == F.expr("(n_pairs + 1) div 2"))
        | (F.col("rn") == F.expr("n_pairs div 2 + 1"))
    ).groupBy("n_pairs").agg(
        ((F.min("diff") + F.max("diff")) / 2.0).alias("hl_shift_cents")
    )
    counts = daily.agg(
        F.sum(F.col("is_weekend").cast("int")).cast("bigint")
        .alias("n_weekend"),
        F.sum((~F.col("is_weekend")).cast("int")).cast("bigint")
        .alias("n_weekday"),
    )
    return counts.crossJoin(F.broadcast(med)).select(
        "n_weekend", "n_weekday", "n_pairs", "hl_shift_cents"
    )


HODGES_LEHMANN_SHIFT_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents,
         date_diff('day', DATE '1970-01-05', CAST(ts AS DATE)) % 7 >= 5
           AS is_weekend
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 3
),
we AS (SELECT day AS dw, cents AS cw FROM daily WHERE is_weekend),
wd AS (SELECT day AS dd, cents AS cd FROM daily WHERE NOT is_weekend),
diffs AS (
  SELECT CAST(cw - cd AS BIGINT) AS diff, dw, dd FROM we CROSS JOIN wd
),
ranked AS (
  SELECT diff,
         row_number() OVER (ORDER BY diff, dw, dd) AS rn,
         CAST(count(*) OVER () AS BIGINT) AS n_pairs
  FROM diffs
),
med AS (
  SELECT n_pairs, (min(diff) + max(diff)) / 2.0 AS hl_shift_cents
  FROM ranked
  WHERE rn = (n_pairs + 1) // 2 OR rn = n_pairs // 2 + 1
  GROUP BY n_pairs
)
SELECT c.n_weekend, c.n_weekday, m.n_pairs, m.hl_shift_cents
FROM (
  SELECT CAST(sum(CASE WHEN is_weekend THEN 1 ELSE 0 END) AS BIGINT)
           AS n_weekend,
         CAST(sum(CASE WHEN is_weekend THEN 0 ELSE 1 END) AS BIGINT)
           AS n_weekday
  FROM daily
) c, med m
"""


# --------------------------------------------------------------------------
# Source concentration audit (HHI / effective source count)
# --------------------------------------------------------------------------


@query()
def source_concentration_audit_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(n_sources, total_chars, top_source, top_share, hhi,
    effective_sources): how concentrated the corpus' character mass
    is across sources — the Herfindahl-Hirschman index over
    char-mass shares, its inverse (the "effective number of sources"
    a mixture sampler actually has), and the largest share. The
    one-row governance gate before mixture-weight tuning: an HHI
    near 1 means the "20-source corpus" is really one source with
    passengers, and per-source quality stats are mostly noise.

    Exactness: char masses are exact BIGINTs; shares are single IEEE
    divisions; the HHI sum folds a SOURCE-SORTED share list on both
    engines (the eb_rate_shrinkage pattern — never an unordered
    float SUM). top picks by (share, source) order, deterministic.

    Scale: ONE partial-aggregatable rollup to |sources| rows; fold
    and argmax on that catalog-sized frame."""
    docs = tables.table(spark, sf_dir, "documents")
    mass = docs.groupBy("source").agg(
        F.sum("n_chars").cast("bigint").alias("chars")
    )
    return mass.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sources"),
        F.sum("chars").cast("bigint").alias("total_chars"),
        F.max(F.struct("chars", "source")).alias("top"),
        F.array_sort(F.collect_list(F.struct("source", "chars")))
        .alias("lst"),
    ).select(
        "n_sources",
        "total_chars",
        F.col("top.source").alias("top_source"),
        (
            F.col("top.chars").cast("double")
            / F.col("total_chars").cast("double")
        ).alias("top_share"),
        F.expr(
            "aggregate(transform(lst, x -> (cast(x.chars as double) "
            "/ cast(total_chars as double)) * (cast(x.chars as double) "
            "/ cast(total_chars as double))), cast(0.0 as double), "
            "(a, x) -> a + x)"
        ).alias("hhi"),
    ).select(
        "n_sources",
        "total_chars",
        "top_source",
        "top_share",
        "hhi",
        F.when(F.col("hhi") > 0, F.lit(1.0) / F.col("hhi"))
        .otherwise(F.lit(0.0))
        .alias("effective_sources"),
    )


SOURCE_CONCENTRATION_AUDIT_ORACLE = """
WITH mass AS (
  SELECT source, CAST(sum(n_chars) AS BIGINT) AS chars
  FROM documents GROUP BY 1
),
top AS (
  -- mirrors Spark's max(struct(chars, source)): max chars, then max
  -- source as the tie-break
  SELECT source AS top_source, CAST(chars AS BIGINT) AS top_chars
  FROM mass ORDER BY chars DESC, source DESC LIMIT 1
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_sources,
         CAST(sum(chars) AS BIGINT) AS total_chars,
         list(chars ORDER BY source) AS lst
  FROM mass
)
SELECT n_sources, total_chars, top_source,
       CAST(top_chars AS DOUBLE) / CAST(total_chars AS DOUBLE)
         AS top_share,
       list_reduce(list_transform(lst,
           x -> (CAST(x AS DOUBLE) / CAST(total_chars AS DOUBLE))
              * (CAST(x AS DOUBLE) / CAST(total_chars AS DOUBLE))),
         (a, x) -> a + x) AS hhi,
       CASE WHEN list_reduce(list_transform(lst,
           x -> (CAST(x AS DOUBLE) / CAST(total_chars AS DOUBLE))
              * (CAST(x AS DOUBLE) / CAST(total_chars AS DOUBLE))),
         (a, x) -> a + x) > 0 THEN
         1.0 / list_reduce(list_transform(lst,
             x -> (CAST(x AS DOUBLE) / CAST(total_chars AS DOUBLE))
                * (CAST(x AS DOUBLE) / CAST(total_chars AS DOUBLE))),
           (a, x) -> a + x)
       ELSE 0.0 END AS effective_sources
FROM agg, top
"""

# --------------------------------------------------------------------------
# Quantile normalization map: per-source deciles onto the pooled scale
# --------------------------------------------------------------------------


@query()
def quantile_normalize_map_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(source, decile, src_q, pooled_q, shift): the quantile-
    normalization lookup table — for each source and decile d/10, the
    source's exact type-1 decile of ``n_chars`` next to the POOLED
    corpus decile at the same level, with the additive shift a
    calibration pass would apply. Quantile normalization is the
    standard cross-source score/feature calibration (identical rank
    profiles after mapping); emitting the MAP rather than the mapped
    corpus keeps the audit bounded and is what the downstream join
    actually consumes.

    Exactness: type-1 (lower) quantiles — the smallest value whose
    cumulative count reaches ceil(d * n / 10) — all integer
    arithmetic on the per-(source,value) count rollup; no
    interpolation, no floats anywhere.

    Scale: ONE corpus rollup; deciles come off cumulative windows on
    the |sources| x |distinct values| grid and a 9-row literal decile
    axis (broadcast)."""
    docs = tables.table(spark, sf_dir, "documents")
    counts = docs.groupBy("source", "n_chars").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    wsrc = (
        Window.partitionBy("source")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    src_cum = counts.select(
        "source",
        "n_chars",
        F.sum("c").over(wsrc).cast("bigint").alias("cum"),
        F.sum("c").over(Window.partitionBy("source"))
        .cast("bigint")
        .alias("n"),
    )
    pooled = counts.groupBy("n_chars").agg(
        F.sum("c").cast("bigint").alias("c")
    )
    wp = Window.orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, 0
    )
    pool_cum = pooled.select(
        "n_chars",
        F.sum("c").over(wp).cast("bigint").alias("cum"),
        F.sum("c").over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).cast("bigint").alias("n"),
    )
    deciles = spark.range(1, 10).select(
        F.col("id").cast("int").alias("decile")
    )
    src_q = (
        src_cum.crossJoin(F.broadcast(deciles))
        .filter(
            F.col("cum") >= F.expr("(decile * n + 9) div 10")
        )
        .groupBy("source", "decile")
        .agg(F.min("n_chars").cast("bigint").alias("src_q"))
    )
    pool_q = (
        pool_cum.crossJoin(F.broadcast(deciles))
        .filter(F.col("cum") >= F.expr("(decile * n + 9) div 10"))
        .groupBy("decile")
        .agg(F.min("n_chars").cast("bigint").alias("pooled_q"))
    )
    return src_q.join(F.broadcast(pool_q), "decile").select(
        "source",
        "decile",
        "src_q",
        "pooled_q",
        (F.col("pooled_q") - F.col("src_q")).cast("bigint").alias("shift"),
    )


QUANTILE_NORMALIZE_MAP_ORACLE = """
WITH counts AS (
  SELECT source, n_chars, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2
),
src_cum AS (
  SELECT source, n_chars,
         CAST(sum(c) OVER (PARTITION BY source ORDER BY n_chars
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum,
         CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n
  FROM counts
),
pool_cum AS (
  SELECT n_chars,
         CAST(sum(c) OVER (ORDER BY n_chars
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum,
         CAST(sum(c) OVER () AS BIGINT) AS n
  FROM (SELECT n_chars, CAST(sum(c) AS BIGINT) AS c
        FROM counts GROUP BY 1)
),
deciles AS (SELECT unnest(generate_series(1, 9)) AS decile),
src_q AS (
  SELECT s.source, d.decile, CAST(min(s.n_chars) AS BIGINT) AS src_q
  FROM src_cum s CROSS JOIN deciles d
  WHERE s.cum >= (d.decile * s.n + 9) // 10
  GROUP BY 1, 2
),
pool_q AS (
  SELECT d.decile, CAST(min(p.n_chars) AS BIGINT) AS pooled_q
  FROM pool_cum p CROSS JOIN deciles d
  WHERE p.cum >= (d.decile * p.n + 9) // 10
  GROUP BY 1
)
SELECT s.source, CAST(s.decile AS INT) AS decile, s.src_q, p.pooled_q,
       CAST(p.pooled_q - s.src_q AS BIGINT) AS shift
FROM src_q s JOIN pool_q p ON p.decile = s.decile
"""


# --------------------------------------------------------------------------
# Benjamini-Hochberg FDR over the pairwise KS drift gates
# --------------------------------------------------------------------------

_BH_Q_INV = 20      # FDR level q = 1/20 = 0.05 as an exact integer
_BH_FP = 10**12     # p-value fixed-point scale


@query()
def bh_fdr_drift_gates_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src_a, src_b, p_fp, p_value, p_rank, rejected): the
    Benjamini-Hochberg step-up procedure at FDR q = 0.05 over the
    190 pairwise KS drift tests — the multiple-testing control a
    drift DASHBOARD must run before paging anyone: at 190
    simultaneous gates, naive p < 0.05 fires ~10 false alarms per
    healthy snapshot. p-values use the standard two-term-free
    asymptotic tail p = min(1, 2 exp(-2 m D^2)) with m = n_a n_b /
    (n_a + n_b) (Smirnov; exact enough above m ~ 35, which every
    pair here clears).

    Determinism: each p is fixed-pointed INDEPENDENTLY (floor(1e12 p)
    — the zipf_fit transcendental precedent) before ranking, the
    step-up comparison p_(i) <= i q / M is the pure-integer predicate
    ``20 * p_fp * M <= i * 1e12``, and k* = max qualifying rank comes
    off one window max — no float comparisons anywhere after the
    floor.

    Scale: rides the ks_drift_audit grid (corpus touched once); the
    BH pass is |pairs| rows with one bounded sort window."""
    ks = ks_drift_fn(spark, sf_dir)
    scored = ks.select(
        "src_a",
        "src_b",
        F.least(
            F.lit(_BH_FP).cast("bigint"),
            F.floor(
                F.lit(float(_BH_FP))
                * 2.0
                * F.exp(
                    F.lit(-2.0)
                    * (
                        F.col("n_a").cast("double")
                        * F.col("n_b").cast("double")
                        / (F.col("n_a") + F.col("n_b")).cast("double")
                    )
                    * F.col("ks")
                    * F.col("ks")
                )
            ).cast("bigint"),
        ).alias("p_fp"),
    )
    w = Window.orderBy("p_fp", "src_a", "src_b")
    m = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = scored.select(
        "src_a",
        "src_b",
        "p_fp",
        F.row_number().over(w).cast("bigint").alias("p_rank"),
        F.count(F.lit(1)).over(m).cast("bigint").alias("n_tests"),
    ).select(
        "src_a",
        "src_b",
        "p_fp",
        "p_rank",
        "n_tests",
        (
            F.lit(_BH_Q_INV) * F.col("p_fp") * F.col("n_tests")
            <= F.col("p_rank") * F.lit(_BH_FP)
        ).alias("qual"),
    )
    kstar = ranked.select(
        "src_a",
        "src_b",
        "p_fp",
        "p_rank",
        F.max(F.when(F.col("qual"), F.col("p_rank")).otherwise(F.lit(0)))
        .over(m)
        .cast("bigint")
        .alias("k_star"),
    )
    return kstar.select(
        "src_a",
        "src_b",
        "p_fp",
        (F.col("p_fp").cast("double") / F.lit(float(_BH_FP)))
        .alias("p_value"),
        "p_rank",
        (F.col("p_rank") <= F.col("k_star")).alias("rejected"),
    )


def _bh_oracle() -> str:
    from .drift import KS_DRIFT_AUDIT_ORACLE

    inner = KS_DRIFT_AUDIT_ORACLE.strip()
    return f"""
WITH ks AS (
  {inner}
),
scored AS (
  SELECT src_a, src_b,
         least(CAST({_BH_FP} AS BIGINT),
           CAST(floor(CAST({_BH_FP} AS DOUBLE) * 2.0
             * exp(-2.0 * (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                           / CAST(n_a + n_b AS DOUBLE)) * ks * ks))
           AS BIGINT)) AS p_fp
  FROM ks
),
ranked AS (
  SELECT src_a, src_b, p_fp,
         CAST(row_number() OVER (ORDER BY p_fp, src_a, src_b) AS BIGINT)
           AS p_rank,
         CAST(count(*) OVER () AS BIGINT) AS n_tests
  FROM scored
),
flagged AS (
  SELECT src_a, src_b, p_fp, p_rank,
         max(CASE WHEN {_BH_Q_INV} * p_fp * n_tests
                       <= p_rank * {_BH_FP}
                  THEN p_rank ELSE 0 END) OVER () AS k_star
  FROM ranked
)
SELECT src_a, src_b, p_fp,
       CAST(p_fp AS DOUBLE) / CAST({_BH_FP} AS DOUBLE) AS p_value,
       p_rank,
       p_rank <= k_star AS rejected
FROM flagged
"""


# Resolved lazily to avoid a circular import at module load.
def ks_drift_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .drift import ks_drift_audit_query

    return ks_drift_audit_query(spark, sf_dir)


BH_FDR_DRIFT_GATES_ORACLE = _bh_oracle()


# --------------------------------------------------------------------------
# Ljung-Box portmanteau statistic on the daily revenue series
# --------------------------------------------------------------------------

LJUNG_LAGS = 7


@query()
def ljung_box_stat_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lag, n_days, r, q_cum): lag-1..7 autocorrelations of daily
    purchase cents with the cumulative Ljung-Box Q — the portmanteau
    "is there ANY autocorrelation structure up to a week" test that
    generalizes ``weekly_autocorr``'s single lag-7 read. Q at lag 7
    against a chi2(7) bar is the standard pre-whiteness check before
    trusting an anomaly detector tuned on iid residuals.

    Determinism: the day series is collected into ONE day-sorted
    bounded list (the day-spine contract) and every sum — mean,
    variance, each lag's covariance — is an ORDERED fold over that
    list or an index sequence, so all float work is the identical
    IEEE sequence on both engines. Q accumulates r_k^2/(n-k) in lag
    order.

    Scale: corpus -> day spine (partial-aggregatable); everything
    after is scalar math over a list bounded by the calendar."""
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
    packed = daily.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(day, cents))), "
            "x -> cast(x.cents as double))"
        ).alias("ys"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    ).select(
        "ys",
        "n",
        F.expr(
            "aggregate(ys, cast(0.0 as double), (a, x) -> a + x)"
        ).alias("s1"),
    ).select(
        "ys",
        "n",
        (F.col("s1") / F.col("n").cast("double")).alias("m"),
    ).select(
        "ys",
        "n",
        "m",
        F.expr(
            "aggregate(ys, cast(0.0 as double), "
            "(a, x) -> a + (x - m) * (x - m))"
        ).alias("den"),
    )
    lags = spark.range(1, LJUNG_LAGS + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    per_lag = packed.crossJoin(F.broadcast(lags)).filter(
        (F.col("n") > F.col("lag")) & (F.col("den") > 0)
    ).select(
        "lag",
        F.col("n").alias("n_days"),
        (
            F.expr(
                "aggregate(sequence(1, cast(n - lag as int)), "
                "cast(0.0 as double), (a, i) -> a + "
                "(element_at(ys, i) - m) "
                "* (element_at(ys, i + lag) - m))"
            )
            / F.col("den")
        ).alias("r"),
    )
    wq = Window.orderBy("lag").rowsBetween(Window.unboundedPreceding, 0)
    return per_lag.select(
        "lag",
        "n_days",
        "r",
        (
            F.col("n_days").cast("double")
            * (F.col("n_days") + 2).cast("double")
            * F.sum(
                F.col("r") * F.col("r")
                / (F.col("n_days") - F.col("lag")).cast("double")
            ).over(wq)
        ).alias("q_cum"),
    )


LJUNG_BOX_STAT_ORACLE = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
packed AS (
  SELECT list_transform(list(cents ORDER BY day),
                        x -> CAST(x AS DOUBLE)) AS ys,
         CAST(count(*) AS BIGINT) AS n
  FROM daily
),
m1 AS (
  SELECT ys, n,
         list_reduce(ys, (a, x) -> a + x) / CAST(n AS DOUBLE) AS m
  FROM packed
),
m2 AS (
  SELECT ys, n, m,
         list_reduce(list_transform(ys, x -> (x - m) * (x - m)),
                     (a, x) -> a + x) AS den
  FROM m1
),
lags AS (SELECT unnest(generate_series(1, {LJUNG_LAGS})) AS lag),
per_lag AS (
  SELECT CAST(l.lag AS INT) AS lag, p.n AS n_days,
         list_reduce(list_transform(
             generate_series(1, CAST(p.n - l.lag AS INT)),
             i -> (p.ys[i] - p.m) * (p.ys[i + l.lag] - p.m)),
           (a, x) -> a + x) / p.den AS r
  FROM m2 p CROSS JOIN lags l
  WHERE p.n > l.lag AND p.den > 0
)
SELECT lag, n_days, r,
       CAST(n_days AS DOUBLE) * CAST(n_days + 2 AS DOUBLE)
         * sum(r * r / CAST(n_days - lag AS DOUBLE)) OVER (
             ORDER BY lag ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS q_cum
FROM per_lag
"""

# --------------------------------------------------------------------------
# Mann-Kendall trend test (S statistic with exact tie-corrected variance)
# --------------------------------------------------------------------------


@query()
def mann_kendall_trend_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_days, s_stat, var18, z): the Mann-Kendall trend TEST on
    daily purchase cents — S = #concordant - #discordant day pairs
    (the un-normalized Kendall numerator), its exact tie-corrected
    variance var = [n(n-1)(2n+5) - sum_g t_g(t_g-1)(2t_g+5)] / 18,
    and the continuity-corrected z = (S -/+ 1)/sqrt(var). Where
    ``kendall_tau_trend`` reports effect SIZE, this reports
    SIGNIFICANCE — the standard pairing in hydrology/operations
    trend monitoring (|z| > 1.96 is the page-worthy read).

    Exactness: S and the un-divided ``var18`` (18x the variance) are
    pure BIGINT on the day spine; z is one IEEE sqrt + division on
    them. Day-spine bounds keep n(n-1)(2n+5) ~ 2n^3 exact to
    millions of days.

    Scale: the theil_sen/kendall posture — corpus to day spine, pair
    frame and tie rollup on the bounded spine."""
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
    a = daily.select(F.col("day").alias("di"), F.col("cents").alias("ci"))
    b = daily.select(F.col("day").alias("dj"), F.col("cents").alias("cj"))
    s = a.join(b, F.col("di") < F.col("dj")).agg(
        (
            F.sum((F.col("cj") > F.col("ci")).cast("bigint"))
            - F.sum((F.col("cj") < F.col("ci")).cast("bigint"))
        ).cast("bigint").alias("s_stat")
    )
    ties = daily.groupBy("cents").agg(
        F.count(F.lit(1)).cast("bigint").alias("t")
    )
    corr = ties.agg(
        F.sum(
            F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
        ).cast("bigint").alias("tie_term"),
        F.sum("t").cast("bigint").alias("n"),
    )
    return s.crossJoin(F.broadcast(corr)).select(
        F.col("n").alias("n_days"),
        "s_stat",
        (
            F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
            - F.col("tie_term")
        ).cast("bigint").alias("var18"),
    ).select(
        "n_days",
        "s_stat",
        "var18",
        F.when(
            F.col("var18") > 0,
            F.when(
                F.col("s_stat") > 0,
                (F.col("s_stat") - 1).cast("double"),
            )
            .when(
                F.col("s_stat") < 0,
                (F.col("s_stat") + 1).cast("double"),
            )
            .otherwise(F.lit(0.0))
            / F.sqrt(F.col("var18").cast("double") / 18.0),
        ).otherwise(F.lit(0.0)).alias("z"),
    )


MANN_KENDALL_TREND_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
s AS (
  SELECT CAST(sum(CASE WHEN b.cents > a.cents THEN 1 ELSE 0 END)
              - sum(CASE WHEN b.cents < a.cents THEN 1 ELSE 0 END)
           AS BIGINT) AS s_stat
  FROM daily a JOIN daily b ON a.day < b.day
),
corr AS (
  SELECT CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term,
         CAST(sum(t) AS BIGINT) AS n
  FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY cents)
),
v AS (
  SELECT c.n AS n_days, s.s_stat,
         CAST(c.n * (c.n - 1) * (2 * c.n + 5) - c.tie_term AS BIGINT)
           AS var18
  FROM s, corr c
)
SELECT n_days, s_stat, var18,
       CASE WHEN var18 > 0 THEN
         (CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
               WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
               ELSE 0.0 END)
           / sqrt(CAST(var18 AS DOUBLE) / 18.0)
       ELSE 0.0 END AS z
FROM v
"""


# --------------------------------------------------------------------------
# Leave-one-source-out sensitivity of the corpus quality mean
# --------------------------------------------------------------------------

_LOO_FP = 1_000_000_000


@query()
def loo_source_sensitivity_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(source, n_docs, mean_q, loo_mean, delta): the jackknife
    leave-one-source-out sensitivity of the corpus mean quality
    score — for each source, what the corpus-wide mean becomes with
    that source removed, and the shift it causes. The governance
    read before trusting any corpus-level quality number: a single
    source moving the pooled mean by more than the cross-source
    spread means the "corpus quality" metric is really that source's
    metric.

    Determinism: per-doc quality is fixed-pointed independently
    (floor(1e9 * q), the neyman pattern) so every sum is an exact
    BIGINT — no unordered float sums; the means/delta are final IEEE
    divisions. Scale: ONE corpus pass computes the fixed-point
    score; one |sources|-rollup plus a broadcast scalar."""
    from .textops import quality_score_query

    q = quality_score_query(spark, sf_dir).select(
        "doc_id", "quality_score"
    )
    docs = tables.table(spark, sf_dir, "documents").select(
        "doc_id", "source"
    )
    scored = docs.join(q, "doc_id").select(
        "source",
        F.floor(F.lit(float(_LOO_FP)) * F.col("quality_score"))
        .cast("bigint")
        .alias("q_fp"),
    )
    per_src = scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("q_fp").cast("bigint").alias("s_fp"),
    )
    tot = per_src.agg(
        F.sum("n_docs").cast("bigint").alias("n_all"),
        F.sum("s_fp").cast("bigint").alias("s_all"),
    )
    return per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        (
            F.col("s_all").cast("double")
            / F.col("n_all").cast("double")
            / F.lit(float(_LOO_FP))
        ).alias("mean_q"),
        F.when(
            F.col("n_all") > F.col("n_docs"),
            (F.col("s_all") - F.col("s_fp")).cast("double")
            / (F.col("n_all") - F.col("n_docs")).cast("double")
            / F.lit(float(_LOO_FP)),
        ).alias("loo_mean"),
    ).select(
        "source",
        "n_docs",
        "mean_q",
        "loo_mean",
        (F.col("loo_mean") - F.col("mean_q")).alias("delta"),
    )


def _loo_oracle() -> str:
    from .textops import _EN_STOPWORDS, _sql_list

    return f"""
WITH sq_base AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(lower(text), '\\W+'),
                     x -> x <> '') AS toks,
         length(text) AS n_chars_actual,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha_chars
  FROM documents
),
scored AS (
  SELECT source,
         CAST(floor(CAST({_LOO_FP} AS DOUBLE) * (
           0.4 * least(1.0, CAST(len(toks) AS DOUBLE) / 50.0)
             + 0.3 * (CAST(alpha_chars AS DOUBLE) / n_chars_actual)
             + 0.3 * (1.0 - CAST(len(list_filter(toks,
                   x -> x IN ({_sql_list(_EN_STOPWORDS)}))) AS DOUBLE)
                 / len(toks)))) AS BIGINT) AS q_fp
  FROM sq_base
),
per_src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(q_fp) AS BIGINT) AS s_fp
  FROM scored GROUP BY 1
),
tot AS (
  SELECT CAST(sum(n_docs) AS BIGINT) AS n_all,
         CAST(sum(s_fp) AS BIGINT) AS s_all
  FROM per_src
)
SELECT p.source, p.n_docs,
       CAST(t.s_all AS DOUBLE) / CAST(t.n_all AS DOUBLE)
         / CAST({_LOO_FP} AS DOUBLE) AS mean_q,
       CASE WHEN t.n_all > p.n_docs THEN
         CAST(t.s_all - p.s_fp AS DOUBLE)
           / CAST(t.n_all - p.n_docs AS DOUBLE)
           / CAST({_LOO_FP} AS DOUBLE)
       END AS loo_mean,
       CASE WHEN t.n_all > p.n_docs THEN
         CAST(t.s_all - p.s_fp AS DOUBLE)
           / CAST(t.n_all - p.n_docs AS DOUBLE)
           / CAST({_LOO_FP} AS DOUBLE)
         - CAST(t.s_all AS DOUBLE) / CAST(t.n_all AS DOUBLE)
           / CAST({_LOO_FP} AS DOUBLE)
       END AS delta
FROM per_src p, tot t
"""


LOO_SOURCE_SENSITIVITY_ORACLE = _loo_oracle()

# --------------------------------------------------------------------------
# Welch's t audit: per-source parametric length shift vs the rest
# --------------------------------------------------------------------------


@query()
def welch_t_audit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_src, n_rest, mean_src, mean_rest, welch_t,
    cohens_d): Welch's unequal-variance t statistic and Cohen's d for
    each source's ``n_chars`` against the rest of the corpus — the
    PARAMETRIC companion to ``mann_whitney_audit``: the rank test
    answers "is there a shift", Welch answers "how many standard
    errors is the mean shift" and d gives the unit-free effect size
    reviewers actually compare across corpora. Running both is the
    standard guard against each one's blind spot (ranks saturate,
    means chase outliers).

    Exactness: every moment (n, sum x, sum x^2) is an exact BIGINT
    off ONE rollup (n_chars <= ~1e5 keeps sum x^2 exact past 1e8
    docs); means/variances/t/d are fixed IEEE expressions over those
    integers, with n >= 2 guards on both sides.

    Scale: one partial-aggregatable per-source moment rollup; the
    rest-side moments are the broadcast global minus the source's."""
    docs = tables.table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n1"),
        F.sum("n_chars").cast("bigint").alias("s1"),
        F.sum(F.col("n_chars") * F.col("n_chars"))
        .cast("bigint")
        .alias("ss1"),
    )
    tot = per.agg(
        F.sum("n1").cast("bigint").alias("nt"),
        F.sum("s1").cast("bigint").alias("st"),
        F.sum("ss1").cast("bigint").alias("sst"),
    )
    j = per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n1",
        (F.col("nt") - F.col("n1")).cast("bigint").alias("n2"),
        "s1",
        "ss1",
        (F.col("st") - F.col("s1")).cast("bigint").alias("s2"),
        (F.col("sst") - F.col("ss1")).cast("bigint").alias("ss2"),
    ).filter((F.col("n1") >= 2) & (F.col("n2") >= 2))
    m1 = F.col("s1").cast("double") / F.col("n1").cast("double")
    m2 = F.col("s2").cast("double") / F.col("n2").cast("double")
    v1 = (
        F.col("ss1").cast("double")
        - F.col("s1").cast("double") * m1
    ) / (F.col("n1") - 1).cast("double")
    v2 = (
        F.col("ss2").cast("double")
        - F.col("s2").cast("double") * m2
    ) / (F.col("n2") - 1).cast("double")
    se2 = v1 / F.col("n1").cast("double") + v2 / F.col("n2").cast("double")
    pooled = (
        (F.col("n1") - 1).cast("double") * v1
        + (F.col("n2") - 1).cast("double") * v2
    ) / (F.col("n1") + F.col("n2") - 2).cast("double")
    return j.select(
        "source",
        F.col("n1").alias("n_src"),
        F.col("n2").alias("n_rest"),
        m1.alias("mean_src"),
        m2.alias("mean_rest"),
        F.when(se2 > 0, (m1 - m2) / F.sqrt(se2)).alias("welch_t"),
        F.when(pooled > 0, (m1 - m2) / F.sqrt(pooled)).alias("cohens_d"),
    )


WELCH_T_AUDIT_ORACLE = """
WITH per AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n1,
         CAST(sum(n_chars) AS BIGINT) AS s1,
         CAST(sum(n_chars * n_chars) AS BIGINT) AS ss1
  FROM documents GROUP BY 1
),
tot AS (
  SELECT CAST(sum(n1) AS BIGINT) AS nt,
         CAST(sum(s1) AS BIGINT) AS st,
         CAST(sum(ss1) AS BIGINT) AS sst
  FROM per
),
j AS (
  SELECT p.source, p.n1,
         CAST(t.nt - p.n1 AS BIGINT) AS n2,
         p.s1, p.ss1,
         CAST(t.st - p.s1 AS BIGINT) AS s2,
         CAST(t.sst - p.ss1 AS BIGINT) AS ss2
  FROM per p, tot t
  WHERE p.n1 >= 2 AND t.nt - p.n1 >= 2
),
m AS (
  SELECT source, n1 AS n_src, n2 AS n_rest,
         CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
         CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2,
         (CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE)
            * (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)))
           / CAST(n1 - 1 AS DOUBLE) AS v1,
         (CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE)
            * (CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)))
           / CAST(n2 - 1 AS DOUBLE) AS v2,
         n1, n2
  FROM j
)
SELECT source, n_src, n_rest, m1 AS mean_src, m2 AS mean_rest,
       CASE WHEN v1 / CAST(n1 AS DOUBLE) + v2 / CAST(n2 AS DOUBLE) > 0
         THEN (m1 - m2)
              / sqrt(v1 / CAST(n1 AS DOUBLE) + v2 / CAST(n2 AS DOUBLE))
       END AS welch_t,
       CASE WHEN (CAST(n1 - 1 AS DOUBLE) * v1 + CAST(n2 - 1 AS DOUBLE)
                  * v2) / CAST(n1 + n2 - 2 AS DOUBLE) > 0
         THEN (m1 - m2)
              / sqrt((CAST(n1 - 1 AS DOUBLE) * v1
                      + CAST(n2 - 1 AS DOUBLE) * v2)
                     / CAST(n1 + n2 - 2 AS DOUBLE))
       END AS cohens_d
FROM m
"""


# --------------------------------------------------------------------------
# Cochran-Armitage trend in proportions across length deciles
# --------------------------------------------------------------------------


@query()
def cochran_armitage_trend_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(n_rows, n_buckets, num, z): the Cochran-Armitage test for a
    LINEAR TREND in the English-doc proportion across document-length
    deciles — the ordered-category upgrade over a plain chi-squared
    ("do longer documents skew more/less English"), the standard
    dose-response readout lifted to corpus strata. A significant z
    means language and length are confounded, and any length-gated
    filter silently shifts the language mix.

    Construction: decile w_i = the hash-free ordered bucket index
    from exact rank cutoffs (type-1, the quantile_normalize_map
    arithmetic); num = sum_i w_i (k_i n - n_i K) is pure BIGINT; the
    variance denominator K(n-K)(n sum w^2 n_i - (sum w n_i)^2)/n is
    assembled from exact integer sums with the single sqrt at the
    end.

    Scale: one count rollup, a decile assignment off the cumulative
    grid, one |buckets|-row frame for the moments."""
    docs = tables.table(spark, sf_dir, "documents")
    counts = docs.groupBy("n_chars").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.sum((F.col("lang") == "en").cast("int"))
        .cast("bigint")
        .alias("k"),
    )
    w = Window.orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot_w = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    bucketed = counts.select(
        "c",
        "k",
        F.sum("c").over(w).cast("bigint").alias("cum"),
        F.sum("c").over(tot_w).cast("bigint").alias("n"),
    ).select(
        "c",
        "k",
        # decile index 0..9 of the LAST row of this value-group:
        # ((cum - 1) * 10) div n
        F.expr("((cum - 1) * 10) div n").cast("bigint").alias("wgt"),
    )
    per_b = bucketed.groupBy("wgt").agg(
        F.sum("c").cast("bigint").alias("n_i"),
        F.sum("k").cast("bigint").alias("k_i"),
    )
    m = per_b.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum("n_i").cast("bigint").alias("n"),
        F.sum("k_i").cast("bigint").alias("big_k"),
        F.sum(F.col("wgt") * F.col("n_i")).cast("bigint").alias("swn"),
        F.sum(F.col("wgt") * F.col("wgt") * F.col("n_i"))
        .cast("bigint")
        .alias("swwn"),
        F.sum(F.col("wgt") * F.col("k_i")).cast("bigint").alias("swk"),
    )
    num = (
        F.col("n") * F.col("swk") - F.col("big_k") * F.col("swn")
    ).cast("bigint")
    var_num = (
        F.col("big_k").cast("double")
        * (F.col("n") - F.col("big_k")).cast("double")
        * (
            F.col("n").cast("double") * F.col("swwn").cast("double")
            - F.col("swn").cast("double") * F.col("swn").cast("double")
        )
    )
    return m.select(
        F.col("n").alias("n_rows"),
        "n_buckets",
        num.alias("num"),
        F.when(
            var_num > 0,
            num.cast("double")
            / F.sqrt(F.col("n").cast("double") * var_num),
        ).otherwise(F.lit(0.0)).alias("z"),
    )


COCHRAN_ARMITAGE_TREND_ORACLE = """
WITH counts AS (
  SELECT n_chars, CAST(count(*) AS BIGINT) AS c,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS k
  FROM documents GROUP BY 1
),
bucketed AS (
  SELECT c, k,
         ((CAST(sum(c) OVER (ORDER BY n_chars
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) - 1) * 10)
           // CAST(sum(c) OVER () AS BIGINT) AS wgt
  FROM counts
),
per_b AS (
  SELECT wgt, CAST(sum(c) AS BIGINT) AS n_i, CAST(sum(k) AS BIGINT) AS k_i
  FROM bucketed GROUP BY 1
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n_buckets,
         CAST(sum(n_i) AS BIGINT) AS n,
         CAST(sum(k_i) AS BIGINT) AS big_k,
         CAST(sum(wgt * n_i) AS BIGINT) AS swn,
         CAST(sum(wgt * wgt * n_i) AS BIGINT) AS swwn,
         CAST(sum(wgt * k_i) AS BIGINT) AS swk
  FROM per_b
)
SELECT n AS n_rows, n_buckets,
       CAST(n * swk - big_k * swn AS BIGINT) AS num,
       CASE WHEN CAST(big_k AS DOUBLE) * CAST(n - big_k AS DOUBLE)
                 * (CAST(n AS DOUBLE) * CAST(swwn AS DOUBLE)
                    - CAST(swn AS DOUBLE) * CAST(swn AS DOUBLE)) > 0
         THEN CAST(n * swk - big_k * swn AS DOUBLE)
              / sqrt(CAST(n AS DOUBLE)
                     * (CAST(big_k AS DOUBLE) * CAST(n - big_k AS DOUBLE)
                        * (CAST(n AS DOUBLE) * CAST(swwn AS DOUBLE)
                           - CAST(swn AS DOUBLE) * CAST(swn AS DOUBLE))))
       ELSE 0.0 END AS z
FROM m
"""

# --------------------------------------------------------------------------
# One-way ANOVA: does source explain document length?
# --------------------------------------------------------------------------


@query()
def anova_source_lengths_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(n_rows, n_groups, ss_between, ss_total, f_stat, eta_squared):
    one-way ANOVA of ``n_chars`` across sources — the multi-group
    completion of the ``welch_t_audit`` pairwise reads: eta^2 =
    SS_between / SS_total is the fraction of length variance the
    source label explains (the stratification-payoff number: eta^2
    near 0 means per-source length stats are one distribution worn
    20 ways), and F carries the significance.

    Exactness: all moments (per-group n, sum, sum of squares) are
    exact BIGINTs off ONE rollup; SS_between folds the SOURCE-SORTED
    per-group list (s_g^2 / n_g terms — the only unordered-sum risk,
    removed by the fold), SS_total is a fixed expression on global
    integers; F and eta^2 are final IEEE arithmetic with df guards.

    Scale: one partial-aggregatable rollup to |sources| rows;
    everything after is catalog-sized."""
    docs = tables.table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum("n_chars").cast("bigint").alias("s_g"),
        F.sum(F.col("n_chars") * F.col("n_chars"))
        .cast("bigint")
        .alias("ss_g"),
    )
    agg = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum("s_g").cast("bigint").alias("s"),
        F.sum("ss_g").cast("bigint").alias("ss"),
        F.expr(
            "aggregate(transform(array_sort(collect_list("
            "struct(source, s_g, n_g))), x -> cast(x.s_g as double) "
            "* cast(x.s_g as double) / cast(x.n_g as double)), "
            "cast(0.0 as double), (a, x) -> a + x)"
        ).alias("sum_sq_over_n"),
    ).filter((F.col("n") > 0) & (F.col("n_groups") > 1))
    grand = F.col("s").cast("double") * F.col("s").cast("double") / F.col(
        "n"
    ).cast("double")
    ssb = F.col("sum_sq_over_n") - grand
    sst = F.col("ss").cast("double") - grand
    # ssw written as ss - sum_sq_over_n (NOT sst - ssb): the algebra is
    # the same but the IEEE evaluation order must match the oracle's
    ssw = F.col("ss").cast("double") - F.col("sum_sq_over_n")
    f_stat = F.when(
        (ssw > 0) & (F.col("n") > F.col("n_groups")),
        (ssb / (F.col("n_groups") - 1).cast("double"))
        / (ssw / (F.col("n") - F.col("n_groups")).cast("double")),
    )
    return agg.select(
        F.col("n").alias("n_rows"),
        "n_groups",
        ssb.alias("ss_between"),
        sst.alias("ss_total"),
        f_stat.alias("f_stat"),
        F.when(sst > 0, ssb / sst).alias("eta_squared"),
    )


ANOVA_SOURCE_LENGTHS_ORACLE = """
WITH per AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_g,
         CAST(sum(n_chars) AS BIGINT) AS s_g,
         CAST(sum(n_chars * n_chars) AS BIGINT) AS ss_g
  FROM documents GROUP BY 1
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_groups,
         CAST(sum(n_g) AS BIGINT) AS n,
         CAST(sum(s_g) AS BIGINT) AS s,
         CAST(sum(ss_g) AS BIGINT) AS ss,
         list_reduce(list_transform(
             list({'s_g': s_g, 'n_g': n_g} ORDER BY source),
             x -> CAST(x.s_g AS DOUBLE) * CAST(x.s_g AS DOUBLE)
                  / CAST(x.n_g AS DOUBLE)), (a, b) -> a + b)
           AS sum_sq_over_n
  FROM per
  HAVING count(*) > 1 AND sum(n_g) > 0
)
SELECT n AS n_rows, n_groups,
       sum_sq_over_n - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
         / CAST(n AS DOUBLE) AS ss_between,
       CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
         / CAST(n AS DOUBLE) AS ss_total,
       CASE WHEN (CAST(ss AS DOUBLE) - sum_sq_over_n) > 0
                 AND n > n_groups THEN
         ((sum_sq_over_n - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
             / CAST(n AS DOUBLE)) / CAST(n_groups - 1 AS DOUBLE))
           / ((CAST(ss AS DOUBLE) - sum_sq_over_n)
              / CAST(n - n_groups AS DOUBLE))
       END AS f_stat,
       CASE WHEN CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)
                 * CAST(s AS DOUBLE) / CAST(n AS DOUBLE) > 0 THEN
         (sum_sq_over_n - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
            / CAST(n AS DOUBLE))
           / (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
              / CAST(n AS DOUBLE))
       END AS eta_squared
FROM agg
"""

# --------------------------------------------------------------------------
# Inter-arrival burstiness per event type (post-freeze: r09 material)
# --------------------------------------------------------------------------


@query()
def interarrival_burstiness_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(event_type, n_gaps, mean_gap_us, std_gap_us, burstiness): the
    Goh-Barabasi burstiness coefficient B = (sigma - mu)/(sigma + mu)
    of inter-event gaps per event type — B ~ -1 is a metronome
    (pipeline heartbeats), B ~ 0 is Poisson, B -> 1 is bursty (human
    sessions, incident storms). The single dial that tells a capacity
    planner whether mean event rate is a usable number at all, and a
    drift tripwire for upstream batching changes (a producer that
    starts batching flips B upward with the RATE unchanged —
    invisible to every count-based audit).

    Exactness: gaps are exact integer microseconds off one lag window
    per type; mean/std come from exact BIGINT (n, sum, sum-of-squares)
    moments — sum of squared gaps bounds: gaps <= ~3e13 us (a year),
    squared 9e26 OVERFLOWS, so the gap is capped at 30 days
    (documented; a 30-day silence is a regime boundary, not a gap)
    keeping sq <= 6.7e24... still too big — so gaps are carried in
    MILLISECONDS (cap 2.6e9, squared 6.7e18 edge-safe per term, exact
    BIGINT sums to ~1e9 gaps per type per shard).

    Scale: one user-ordered — no, TYPE-ordered — window per event
    type over the time-sorted stream (the sessionization shuffle
    shape), then a partial-aggregatable moment rollup."""
    ev = tables.table(spark, sf_dir, "events")
    cap_ms = 30 * 24 * 3600 * 1000
    gaps = ev.select(
        "event_type",
        F.expr(
            "(unix_micros(ts) - lag(unix_micros(ts)) over ("
            "partition by event_type order by ts, event_id)) div 1000"
        ).cast("bigint").alias("gap_ms"),
    ).filter(
        F.col("gap_ms").isNotNull() & (F.col("gap_ms") <= cap_ms)
    )
    m = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.sum("gap_ms").cast("bigint").alias("s"),
        F.sum(F.col("gap_ms") * F.col("gap_ms")).cast("bigint").alias("ss"),
    ).filter(F.col("n_gaps") >= 2)
    mu = F.col("s").cast("double") / F.col("n_gaps").cast("double")
    var = (
        F.col("ss").cast("double") - F.col("s").cast("double") * mu
    ) / (F.col("n_gaps") - 1).cast("double")
    sd = F.sqrt(F.when(var > 0, var).otherwise(F.lit(0.0)))
    return m.select(
        "event_type",
        "n_gaps",
        (mu * 1000.0).alias("mean_gap_us"),
        (sd * 1000.0).alias("std_gap_us"),
        F.when(sd + mu > 0, (sd - mu) / (sd + mu))
        .otherwise(F.lit(0.0))
        .alias("burstiness"),
    )


INTERARRIVAL_BURSTINESS_ORACLE = f"""
WITH gaps AS (
  SELECT event_type,
         (epoch_us(CAST(ts AS TIMESTAMP))
          - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
              PARTITION BY event_type ORDER BY ts, event_id
            )) // 1000 AS gap_ms
  FROM events
),
filtered AS (
  SELECT event_type, CAST(gap_ms AS BIGINT) AS gap_ms
  FROM gaps
  WHERE gap_ms IS NOT NULL AND gap_ms <= {30 * 24 * 3600 * 1000}
),
m AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_gaps,
         CAST(sum(gap_ms) AS BIGINT) AS s,
         CAST(sum(gap_ms * gap_ms) AS BIGINT) AS ss
  FROM filtered GROUP BY 1
  HAVING count(*) >= 2
),
d AS (
  SELECT event_type, n_gaps,
         CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mu,
         sqrt(CASE WHEN (CAST(ss AS DOUBLE)
                - CAST(s AS DOUBLE) * (CAST(s AS DOUBLE)
                  / CAST(n_gaps AS DOUBLE)))
                / CAST(n_gaps - 1 AS DOUBLE) > 0
              THEN (CAST(ss AS DOUBLE)
                - CAST(s AS DOUBLE) * (CAST(s AS DOUBLE)
                  / CAST(n_gaps AS DOUBLE)))
                / CAST(n_gaps - 1 AS DOUBLE)
              ELSE 0.0 END) AS sd
  FROM m
)
SELECT event_type, n_gaps,
       mu * 1000.0 AS mean_gap_us,
       sd * 1000.0 AS std_gap_us,
       CASE WHEN sd + mu > 0 THEN (sd - mu) / (sd + mu) ELSE 0.0 END
         AS burstiness
FROM d
"""

# --------------------------------------------------------------------------
# Theil-Sen slope confidence interval (post-freeze: r09 material)
# --------------------------------------------------------------------------

_TS_CI_Z = 1.96


@query()
def theil_sen_ci_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_days, n_pairs, ts_slope, ci_lo, ci_hi): the Theil-Sen daily
    revenue slope with Sen's (1968) rank-based 95% confidence
    interval — the bounds are ORDER STATISTICS of the same pairwise
    slope set (ranks (M -/+ z*sqrt(var_S))/2, var_S from the
    Mann-Kendall tie-corrected variance), so the CI inherits the
    estimator's outlier robustness and needs no normality of the
    data, only of S. The "is the trend distinguishable from flat"
    companion ``theil_sen_trend`` alone cannot answer (ci_lo > 0 is
    the actionable read).

    Contract for the rank boundaries (conventions differ):
    lo_rank = max(1, floor((M - c)/2) + 1), up_rank =
    min(M, ceil((M + c)/2)) with c = 1.96 * sqrt(var18/18) — floor/
    ceil of identical IEEE doubles, so both engines pick identical
    order statistics. Scale: the theil_sen pair frame + one window,
    the MK tie rollup, two rank lookups."""
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
    slopes = a.join(b, F.col("xi") < F.col("xj")).select(
        (
            (F.col("cj") - F.col("ci")).cast("double")
            / (F.col("xj") - F.col("xi")).cast("double")
        ).alias("slope"),
        "xi",
        "xj",
    )
    w = Window.orderBy("slope", "xi", "xj")
    ranked = slopes.select(
        "slope",
        F.row_number().over(w).cast("bigint").alias("rn"),
    )
    ties = daily.groupBy("cents").agg(
        F.count(F.lit(1)).cast("bigint").alias("t")
    )
    corr = ties.agg(
        F.sum(
            F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
        ).cast("bigint").alias("tie_term"),
        F.sum("t").cast("bigint").alias("n"),
    ).select(
        "n",
        (
            F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
            - F.col("tie_term")
        ).cast("bigint").alias("var18"),
        (F.col("n") * (F.col("n") - 1) / 2).cast("bigint").alias("m"),
    ).select(
        "n",
        "m",
        (
            F.lit(_TS_CI_Z) * F.sqrt(F.col("var18").cast("double") / 18.0)
        ).alias("c"),
    ).select(
        "n",
        "m",
        F.greatest(
            F.lit(1).cast("bigint"),
            (
                F.floor((F.col("m").cast("double") - F.col("c")) / 2.0)
                .cast("bigint")
                + 1
            ),
        ).alias("lo_rank"),
        F.least(
            F.col("m"),
            F.ceil((F.col("m").cast("double") + F.col("c")) / 2.0)
            .cast("bigint"),
        ).alias("up_rank"),
    )
    picked = ranked.crossJoin(F.broadcast(corr)).select(
        "n",
        "m",
        F.when(F.col("rn") == F.col("lo_rank"), F.col("slope"))
        .alias("lo_s"),
        F.when(F.col("rn") == F.col("up_rank"), F.col("slope"))
        .alias("up_s"),
        F.when(
            (F.col("rn") == F.expr("(m + 1) div 2"))
            | (F.col("rn") == F.expr("m div 2 + 1")),
            F.col("slope"),
        ).alias("mid_s"),
    ).groupBy("n", "m").agg(
        F.min("lo_s").alias("ci_lo"),
        F.min("up_s").alias("ci_hi"),
        ((F.min("mid_s") + F.max("mid_s")) / 2.0).alias("ts_slope"),
    )
    return picked.select(
        F.col("n").alias("n_days"),
        F.col("m").alias("n_pairs"),
        "ts_slope",
        "ci_lo",
        "ci_hi",
    )


THEIL_SEN_CI_ORACLE = f"""
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
         CAST(row_number() OVER (ORDER BY slope, xi, xj) AS BIGINT) AS rn
  FROM slopes
),
corr AS (
  SELECT CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term,
         CAST(sum(t) AS BIGINT) AS n
  FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY cents)
),
bounds AS (
  SELECT n,
         CAST(n * (n - 1) // 2 AS BIGINT) AS m,
         greatest(1, CAST(floor((CAST(n * (n - 1) // 2 AS DOUBLE)
             - {_TS_CI_Z} * sqrt(CAST(n * (n - 1) * (2 * n + 5)
                 - tie_term AS DOUBLE) / 18.0)) / 2.0) AS BIGINT) + 1)
           AS lo_rank,
         least(CAST(n * (n - 1) // 2 AS BIGINT),
           CAST(ceil((CAST(n * (n - 1) // 2 AS DOUBLE)
             + {_TS_CI_Z} * sqrt(CAST(n * (n - 1) * (2 * n + 5)
                 - tie_term AS DOUBLE) / 18.0)) / 2.0) AS BIGINT))
           AS up_rank
  FROM corr
)
SELECT b.n AS n_days, b.m AS n_pairs,
       (min(CASE WHEN r.rn = (b.m + 1) // 2 OR r.rn = b.m // 2 + 1
                 THEN r.slope END)
        + max(CASE WHEN r.rn = (b.m + 1) // 2 OR r.rn = b.m // 2 + 1
                   THEN r.slope END)) / 2.0 AS ts_slope,
       min(CASE WHEN r.rn = b.lo_rank THEN r.slope END) AS ci_lo,
       min(CASE WHEN r.rn = b.up_rank THEN r.slope END) AS ci_hi
FROM ranked r, bounds b
GROUP BY b.n, b.m
"""


# --------------------------------------------------------------------------
# Cross-correlation function: daily clicks leading daily purchases
# --------------------------------------------------------------------------

_CCF_MAX_LAG = 7


@query()
def cross_correlation_lags_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(lag, n_overlap, num, ccf): the sample cross-correlation
    between the daily CLICK count series x_t and the daily PURCHASE
    count series y_{t+lag} for calendar lags 0..7 — the
    lead/lag structure check behind attribution windows ("how many
    days does click volume lead purchase volume?") and behind
    choosing the funnel-join horizon. A peak at lag k says clicks
    predict purchases k days out.

    Exactness: with S_x, S_y the full-series sums and n the day
    count, the lag-k covariance is carried n^2-scaled as
    num_k = sum_t (n*x_t - S_x)(n*y_{t+k} - S_y) over the overlap —
    EXACT BIGINT arithmetic on exact daily counts (|n*x| <= n*max_x,
    so the sum is ~n^3*max^2, far under 2^63 at any plausible daily
    grain). The denominator sqrt(A)*sqrt(B) uses the same n^2-scaled
    full-series sums of squares; ccf = num / (sqrt(A)*sqrt(B)) is
    three IEEE ops on exact integers, bit-stable cross-engine.

    Scale: ONE pass over events builds the day spine (conditional
    partial-aggregatable counts); all lag work is a range self-join
    on the |days|-row spine with the 1-row moment frame broadcast —
    the corpus is never touched again."""
    ev = tables.table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum((F.col("event_type") == "click").cast("bigint")).alias("x"),
        F.sum((F.col("event_type") == "purchase").cast("bigint")).alias(
            "y"
        ),
    )
    base = daily.select(
        F.min("day").alias("day0"), F.count(F.lit(1)).alias("n")
    )
    idx = daily.crossJoin(F.broadcast(base)).select(
        F.datediff("day", "day0").cast("bigint").alias("i"),
        "x",
        "y",
        "n",
    )
    sums = idx.agg(
        F.max("n").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
    )
    cx = idx.select("i", "x").alias("a")
    cy = idx.select("i", "y").alias("b")
    pairs = cx.join(
        F.broadcast(cy),
        (F.col("b.i") >= F.col("a.i"))
        & (F.col("b.i") <= F.col("a.i") + F.lit(_CCF_MAX_LAG)),
    ).select(
        (F.col("b.i") - F.col("a.i")).alias("lag"),
        F.col("a.x").alias("x"),
        F.col("b.y").alias("y"),
    )
    stats = idx.drop("n").crossJoin(F.broadcast(sums)).agg(
        F.max("n").alias("n"),
        F.max("sx").alias("sx"),
        F.max("sy").alias("sy"),
        F.sum(
            (F.col("n") * F.col("x") - F.col("sx"))
            * (F.col("n") * F.col("x") - F.col("sx"))
        ).cast("bigint").alias("axx"),
        F.sum(
            (F.col("n") * F.col("y") - F.col("sy"))
            * (F.col("n") * F.col("y") - F.col("sy"))
        ).cast("bigint").alias("ayy"),
    )
    return (
        pairs.crossJoin(F.broadcast(stats))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_overlap"),
            F.sum(
                (F.col("n") * F.col("x") - F.col("sx"))
                * (F.col("n") * F.col("y") - F.col("sy"))
            ).cast("bigint").alias("num"),
            (
                F.sum(
                    (F.col("n") * F.col("x") - F.col("sx"))
                    * (F.col("n") * F.col("y") - F.col("sy"))
                ).cast("double")
                / (
                    F.sqrt(F.max("axx").cast("double"))
                    * F.sqrt(F.max("ayy").cast("double"))
                )
            ).alias("ccf"),
        )
    )


CROSS_CORRELATION_LAGS_ORACLE = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS x,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS y
  FROM events GROUP BY 1
),
base AS (
  SELECT min(day) AS day0, CAST(count(*) AS BIGINT) AS n FROM daily
),
idx AS (
  SELECT CAST(datediff('day', b.day0, d.day) AS BIGINT) AS i,
         d.x, d.y, b.n
  FROM daily d CROSS JOIN base b
),
mom AS (
  SELECT max(n) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum((n * x - (SELECT sum(x) FROM idx))
                  * (n * x - (SELECT sum(x) FROM idx))) AS BIGINT) AS axx,
         CAST(sum((n * y - (SELECT sum(y) FROM idx))
                  * (n * y - (SELECT sum(y) FROM idx))) AS BIGINT) AS ayy
  FROM idx
)
SELECT b.i - a.i AS lag,
       CAST(count(*) AS BIGINT) AS n_overlap,
       CAST(sum((m.n * a.x - m.sx) * (m.n * b.y - m.sy)) AS BIGINT)
         AS num,
       CAST(sum((m.n * a.x - m.sx) * (m.n * b.y - m.sy)) AS DOUBLE)
         / (sqrt(CAST(m.axx AS DOUBLE)) * sqrt(CAST(m.ayy AS DOUBLE)))
         AS ccf
FROM idx a
JOIN idx b ON b.i >= a.i AND b.i <= a.i + {_CCF_MAX_LAG}
CROSS JOIN mom m
GROUP BY 1, m.axx, m.ayy
"""


# --------------------------------------------------------------------------
# SPRT: sequential probability ratio test on the daily purchase share
# --------------------------------------------------------------------------

import math as _math

# H0/H1 Bernoulli rates for "share of events that are purchases", and
# Wald's alpha = beta = 0.05 boundaries. The four log constants are
# baked as Python float literals into BOTH engines so the per-day LLR
# k*A + (m-k)*B is the same two IEEE multiplies + one add everywhere.
_SPRT_P0 = 0.19
_SPRT_P1 = 0.21
_SPRT_A = _math.log(_SPRT_P1 / _SPRT_P0)
_SPRT_B = _math.log((1.0 - _SPRT_P1) / (1.0 - _SPRT_P0))
_SPRT_UPPER = _math.log(0.95 / 0.05)
_SPRT_LOWER = _math.log(0.05 / 0.95)


@query()
def sprt_daily_decision_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(day, k_cum, m_cum, llr, state): Wald's sequential probability
    ratio test run day by day over the stream's purchase share —
    k_cum purchases out of m_cum events so far, the Bernoulli
    log-likelihood ratio llr = k*ln(p1/p0) + (m-k)*ln((1-p1)/(1-p0)),
    and the sequential state: 'accept_h1' once llr crosses the upper
    Wald boundary ln((1-b)/a), 'accept_h0' below the lower, else
    'continue'; once a boundary has been hit the state LATCHES (the
    test stops sampling), matching the sequential-analysis contract
    rather than a per-day re-read. This is the early-stopping monitor
    a pipeline runs on an ingestion knob change: it answers "can we
    already conclude the purchase mix moved?" with guaranteed
    alpha/beta, days before a fixed-horizon test.

    Exactness: k_cum/m_cum are exact BIGINT running sums on the day
    spine; llr is two IEEE multiplies of exact-integer-valued doubles
    by BAKED float literals plus one add — deterministic cross-engine;
    the boundary comparisons and the latch (a running min over exact
    flags) are then exact.

    Scale: one partial-aggregatable per-day rollup touches events;
    the cumulative window runs on the |days|-row spine (bounded
    single-partition window, the house spine pattern)."""
    ev = tables.table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum((F.col("event_type") == "purchase").cast("bigint")).alias(
            "k"
        ),
        F.count(F.lit(1)).cast("bigint").alias("m"),
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = daily.select(
        "day",
        F.sum("k").over(w).cast("bigint").alias("k_cum"),
        F.sum("m").over(w).cast("bigint").alias("m_cum"),
    )
    llr = (
        F.col("k_cum").cast("double") * F.lit(_SPRT_A)
        + (F.col("m_cum") - F.col("k_cum")).cast("double")
        * F.lit(_SPRT_B)
    )
    raw = cum.select(
        "day",
        "k_cum",
        "m_cum",
        llr.alias("llr"),
        F.when(llr >= F.lit(_SPRT_UPPER), F.lit(1))
        .when(llr <= F.lit(_SPRT_LOWER), F.lit(-1))
        .otherwise(F.lit(0))
        .alias("sig"),
    )
    # latch on the FIRST nonzero sig: carry (first nonzero day, its
    # sign) forward via min-by-day over flagged rows
    wfirst = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    flagged = raw.select(
        "*",
        F.min(F.when(F.col("sig") != 0, F.col("day"))).over(wfirst).alias(
            "first_day"
        ),
    )
    latched_sig = F.when(
        F.col("first_day").isNotNull(),
        F.max(
            F.when(F.col("day") == F.col("first_day"), F.col("sig"))
        ).over(wfirst),
    ).otherwise(F.lit(0))
    return flagged.select(
        "day",
        "k_cum",
        "m_cum",
        "llr",
        F.when(latched_sig == 1, F.lit("accept_h1"))
        .when(latched_sig == -1, F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("state"),
    )


SPRT_DAILY_DECISION_ORACLE = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS k,
         CAST(count(*) AS BIGINT) AS m
  FROM events GROUP BY 1
),
cum AS (
  SELECT day,
         CAST(sum(k) OVER (ORDER BY day) AS BIGINT) AS k_cum,
         CAST(sum(m) OVER (ORDER BY day) AS BIGINT) AS m_cum
  FROM daily
),
raw AS (
  SELECT day, k_cum, m_cum,
         CAST(k_cum AS DOUBLE) * {_SPRT_A!r}
           + CAST(m_cum - k_cum AS DOUBLE) * {_SPRT_B!r} AS llr
  FROM cum
),
sig AS (
  SELECT day, k_cum, m_cum, llr,
         CASE WHEN llr >= {_SPRT_UPPER!r} THEN 1
              WHEN llr <= {_SPRT_LOWER!r} THEN -1
              ELSE 0 END AS sig
  FROM raw
),
flagged AS (
  SELECT *,
         min(CASE WHEN sig <> 0 THEN day END)
           OVER (ORDER BY day) AS first_day
  FROM sig
)
SELECT day, k_cum, m_cum, llr,
       CASE
         WHEN first_day IS NULL THEN 'continue'
         WHEN max(CASE WHEN day = first_day THEN sig END)
              OVER (ORDER BY day) = 1 THEN 'accept_h1'
         ELSE 'accept_h0'
       END AS state
FROM flagged
"""


# --------------------------------------------------------------------------
# Q-Q shift profile: per-source quantiles vs the pooled distribution
# --------------------------------------------------------------------------

_QQ_PS = (10, 25, 50, 75, 90)


@query()
def qq_shift_profile_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, p, n_src, src_q, pool_q, shift): each source's exact
    doc-length quantiles at p in {10,25,50,75,90} against the pooled
    corpus quantile at the same p — the MAGNITUDE companion to the
    KS/CvM drift gates (those say WHETHER a source's distribution
    differs; the Q-Q shifts say by HOW MANY characters and WHERE in
    the distribution: a source long only in its p90 tail needs a
    length cap, one shifted across all five needs its own chunking
    profile).

    Exactness: type-1 (lower order-statistic) quantiles — the value
    at exact rank ceil(p*n/100), located on the value-count CDF grid
    as the unique row whose cumulative count first reaches the
    target; ranks are exact integer arithmetic ((p*n + 99) div 100)
    and every output column is an exact BIGINT.

    Scale: ONE (source, n_chars) count rollup touches the corpus;
    per-source CDFs are windows over the |sources| x |values| grid
    (partitioned by source), the pooled CDF a window over the
    |values| spine; the 5-row p panel is a broadcast literal."""
    docs = tables.table(spark, sf_dir, "documents")
    counts = docs.groupBy("source", "n_chars").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    totals = counts.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_src")
    )
    ps = spark.createDataFrame([(p,) for p in _QQ_PS], "p int")
    ws = Window.partitionBy("source").orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    src_cdf = counts.select(
        "source", "n_chars", "c", F.sum("c").over(ws).alias("cum")
    ).join(F.broadcast(totals), "source")
    src_q = (
        src_cdf.join(F.broadcast(ps))
        .filter(
            (F.col("cum") >= F.expr("(p * n_src + 99) div 100"))
            & (
                F.col("cum") - F.col("c")
                < F.expr("(p * n_src + 99) div 100")
            )
        )
        .select(
            "source", "p", "n_src", F.col("n_chars").alias("src_q")
        )
    )
    pooled = counts.groupBy("n_chars").agg(
        F.sum("c").cast("bigint").alias("pc")
    )
    n_all = pooled.agg(F.sum("pc").cast("bigint").alias("n_all"))
    wp = Window.orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pool_q = (
        pooled.select(
            "n_chars", "pc", F.sum("pc").over(wp).alias("cum")
        )
        .crossJoin(F.broadcast(n_all))
        .join(F.broadcast(ps))
        .filter(
            (F.col("cum") >= F.expr("(p * n_all + 99) div 100"))
            & (
                F.col("cum") - F.col("pc")
                < F.expr("(p * n_all + 99) div 100")
            )
        )
        .select("p", F.col("n_chars").alias("pool_q"))
    )
    return src_q.join(F.broadcast(pool_q), "p").select(
        "source",
        "p",
        "n_src",
        "src_q",
        "pool_q",
        (F.col("src_q") - F.col("pool_q")).cast("bigint").alias("shift"),
    )


def _qq_oracle() -> str:
    ps = ", ".join(f"({p})" for p in _QQ_PS)
    return f"""
WITH counts AS (
  SELECT source, n_chars, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2
),
totals AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS n_src FROM counts GROUP BY 1
),
ps(p) AS (VALUES {ps}),
src_cdf AS (
  SELECT c.source, c.n_chars, c.c, t.n_src,
         sum(c.c) OVER (
           PARTITION BY c.source ORDER BY c.n_chars
         ) AS cum
  FROM counts c JOIN totals t USING (source)
),
src_q AS (
  SELECT s.source, p.p, s.n_src, s.n_chars AS src_q
  FROM src_cdf s CROSS JOIN ps p
  WHERE s.cum >= (p.p * s.n_src + 99) // 100
    AND s.cum - s.c < (p.p * s.n_src + 99) // 100
),
pooled AS (
  SELECT n_chars, CAST(sum(c) AS BIGINT) AS pc FROM counts GROUP BY 1
),
n_all AS (SELECT CAST(sum(pc) AS BIGINT) AS n_all FROM pooled),
pool_cdf AS (
  SELECT n_chars, pc, sum(pc) OVER (ORDER BY n_chars) AS cum, a.n_all
  FROM pooled CROSS JOIN n_all a
),
pool_q AS (
  SELECT p.p, s.n_chars AS pool_q
  FROM pool_cdf s CROSS JOIN ps p
  WHERE s.cum >= (p.p * s.n_all + 99) // 100
    AND s.cum - s.pc < (p.p * s.n_all + 99) // 100
)
SELECT s.source, s.p, s.n_src, s.src_q, q.pool_q,
       CAST(s.src_q - q.pool_q AS BIGINT) AS shift
FROM src_q s JOIN pool_q q USING (p)
"""


QQ_SHIFT_PROFILE_ORACLE = _qq_oracle()


# --------------------------------------------------------------------------
# Log-rank test: retention curves of the two experiment cohorts
# --------------------------------------------------------------------------

_LR_FP = 1_000_000_000  # 1e9 per-time fixed point for O-E and Var terms


@query()
def logrank_cohorts_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_times, n_a, n_b, d_total, ome_fp, var_fp, chi2): the
    log-rank (Mantel-Cox) test between the two parity cohorts'
    retention curves, under the SAME lifetime/censoring definitions
    as km_user_survival (lifetime = days first->last event; censored
    if the last event is within KM_CENSOR_DAYS of the corpus end).
    km_user_survival DRAWS the curve; this answers "are the two
    arms' churn curves the same?" — the standard inferential
    companion, pooling information across every event time instead
    of comparing one horizon.

    Exactness: at each event time t, O-E = (d_a*N - d*N_a)/N and
    Var = d*N_a*N_b*(N-d) / (N^2*(N-1)) are rationals of exact
    BIGINT risk-set counts; each is fixed-pointed (floor(1e9 * .),
    BIGINT) per time BEFORE the unordered sums (bound: |O-E| <= d
    and Var <= d/4 per time, so the 1e9-scaled sums stay orders of
    magnitude under 2^63 at any plausible population). chi2 is a
    final three-flop expression.

    Scale: one per-user rollup (the only corpus-sized stage), then
    everything on the lifetime-day spine — conditional per-cohort
    counts on ONE shared spine (never a cohort join), cumulative
    windows over that bounded frame."""
    from .stats import KM_CENSOR_DAYS, _US_PER_DAY

    ev = tables.table(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.expr("min(unix_micros(ts))").alias("f_us"),
        F.expr("max(unix_micros(ts))").alias("l_us"),
    )
    horizon = ev.agg(F.expr("max(unix_micros(ts))").alias("max_us"))
    lived = users.crossJoin(F.broadcast(horizon)).select(
        (F.col("user_id") % 2).cast("int").alias("g"),
        F.expr(f"(l_us - f_us) div {_US_PER_DAY}").alias("t_days"),
        F.expr(
            f"(max_us - l_us) div {_US_PER_DAY} < {KM_CENSOR_DAYS}"
        ).cast("int").alias("censored"),
    )
    per_t = lived.groupBy("t_days").agg(
        F.sum((F.col("g") == 0).cast("bigint")).alias("a0"),
        F.sum((F.col("g") == 1).cast("bigint")).alias("a1"),
        F.sum(
            ((F.col("g") == 0) & (F.col("censored") == 0)).cast("bigint")
        ).alias("d0"),
        F.sum(
            ((F.col("g") == 1) & (F.col("censored") == 0)).cast("bigint")
        ).alias("d1"),
    )
    w_prior = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, -1
    )
    totals = per_t.agg(
        F.sum("a0").cast("bigint").alias("na"),
        F.sum("a1").cast("bigint").alias("nb"),
    )
    risky = per_t.crossJoin(F.broadcast(totals)).select(
        "t_days",
        "d0",
        "d1",
        "na",
        "nb",
        (
            F.col("na")
            - F.coalesce(F.sum("a0").over(w_prior), F.lit(0))
        ).cast("bigint").alias("r0"),
        (
            F.col("nb")
            - F.coalesce(F.sum("a1").over(w_prior), F.lit(0))
        ).cast("bigint").alias("r1"),
    )
    d = F.col("d0") + F.col("d1")
    n = F.col("r0") + F.col("r1")
    ome = (F.col("d0") * n - d * F.col("r0")).cast("double") / n.cast(
        "double"
    )
    var = (
        (d * F.col("r0")).cast("double")
        * (F.col("r1") * (n - d)).cast("double")
        / (n * n).cast("double")
        / (n - 1).cast("double")
    )
    terms = risky.filter((d > 0) & (n > 1)).select(
        d.alias("dt"),
        F.floor(F.lit(float(_LR_FP)) * ome).cast("bigint").alias("u_fp"),
        F.floor(F.lit(float(_LR_FP)) * var).cast("bigint").alias("v_fp"),
    )
    # arm sizes come from the cohort totals, NOT from the term rows —
    # a fully-censored window has zero death times but real arms
    agg = terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_times"),
        F.coalesce(F.sum("dt"), F.lit(0)).cast("bigint").alias("d_total"),
        F.coalesce(F.sum("u_fp"), F.lit(0)).cast("bigint").alias(
            "ome_fp"
        ),
        F.coalesce(F.sum("v_fp"), F.lit(0)).cast("bigint").alias(
            "var_fp"
        ),
    ).crossJoin(F.broadcast(totals)).select(
        "n_times",
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        "d_total",
        "ome_fp",
        "var_fp",
    )
    u = F.col("ome_fp").cast("double") / F.lit(float(_LR_FP))
    v = F.col("var_fp").cast("double") / F.lit(float(_LR_FP))
    return agg.select(
        "n_times",
        "n_a",
        "n_b",
        "d_total",
        "ome_fp",
        "var_fp",
        F.when(F.col("var_fp") > 0, u * u / v).otherwise(
            F.lit(0.0)
        ).alias("chi2"),
    )


def _logrank_oracle() -> str:
    from .stats import KM_CENSOR_DAYS, _US_PER_DAY

    return f"""
WITH users AS (
  SELECT user_id,
         min(epoch_us(ts)) AS f_us,
         max(epoch_us(ts)) AS l_us
  FROM events GROUP BY 1
),
horizon AS (SELECT max(epoch_us(ts)) AS max_us FROM events),
lived AS (
  SELECT CAST(u.user_id % 2 AS INTEGER) AS g,
         (u.l_us - u.f_us) // {_US_PER_DAY} AS t_days,
         CASE WHEN (h.max_us - u.l_us) // {_US_PER_DAY}
                   < {KM_CENSOR_DAYS} THEN 1 ELSE 0 END AS censored
  FROM users u CROSS JOIN horizon h
),
per_t AS (
  SELECT t_days,
         CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a0,
         CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a1,
         CAST(sum(CASE WHEN g = 0 AND censored = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS d0,
         CAST(sum(CASE WHEN g = 1 AND censored = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS d1
  FROM lived GROUP BY 1
),
totals AS (
  SELECT CAST(sum(a0) AS BIGINT) AS na, CAST(sum(a1) AS BIGINT) AS nb
  FROM per_t
),
risky AS (
  SELECT p.t_days, p.d0, p.d1, t.na, t.nb,
         CAST(t.na - COALESCE(sum(p.a0) OVER (
             ORDER BY p.t_days
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS BIGINT) AS r0,
         CAST(t.nb - COALESCE(sum(p.a1) OVER (
             ORDER BY p.t_days
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS BIGINT) AS r1
  FROM per_t p CROSS JOIN totals t
),
terms AS (
  SELECT d0 + d1 AS dt,
         CAST(floor({float(_LR_FP)!r}
           * CAST(d0 * (r0 + r1) - (d0 + d1) * r0 AS DOUBLE)
           / CAST(r0 + r1 AS DOUBLE)) AS BIGINT) AS u_fp,
         CAST(floor({float(_LR_FP)!r}
           * CAST((d0 + d1) * r0 AS DOUBLE)
           * CAST(r1 * ((r0 + r1) - (d0 + d1)) AS DOUBLE)
           / CAST((r0 + r1) * (r0 + r1) AS DOUBLE)
           / CAST(r0 + r1 - 1 AS DOUBLE)) AS BIGINT) AS v_fp
  FROM risky
  WHERE d0 + d1 > 0 AND r0 + r1 > 1
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_times,
         CAST(COALESCE(sum(dt), 0) AS BIGINT) AS d_total,
         CAST(COALESCE(sum(u_fp), 0) AS BIGINT) AS ome_fp,
         CAST(COALESCE(sum(v_fp), 0) AS BIGINT) AS var_fp
  FROM terms
)
SELECT a.n_times, t.na AS n_a, t.nb AS n_b,
       a.d_total, a.ome_fp, a.var_fp,
       CASE WHEN a.var_fp > 0 THEN
         (CAST(a.ome_fp AS DOUBLE) / {float(_LR_FP)!r})
           * (CAST(a.ome_fp AS DOUBLE) / {float(_LR_FP)!r})
           / (CAST(a.var_fp AS DOUBLE) / {float(_LR_FP)!r})
       ELSE 0.0 END AS chi2
FROM agg a CROSS JOIN totals t
"""


LOGRANK_COHORTS_ORACLE = _logrank_oracle()


# --------------------------------------------------------------------------
# Kruskal-Wallis H across sources (post-freeze: r11 material)
# --------------------------------------------------------------------------


@query()
def kruskal_wallis_sources_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(n_rows, n_groups, r2sq_over_n, tie_sum, h, h_corrected): the
    Kruskal-Wallis rank test of ``n_chars`` across ALL sources at
    once — the k-sample generalization of ``mann_whitney_audit``
    exactly as ``detector_cochran_q`` generalizes
    ``detector_mcnemar``: one omnibus H (chi-square, k-1 df under H0)
    answers "do the sources differ in length distribution AT ALL?"
    before any pairwise U sweep, which is the multiple-testing
    protocol the BH-FDR gate downstream expects (one omnibus p, not
    |sources| choose 2).

    Exactness (mann_whitney_audit's midrank discipline): pooled
    midranks are 2x-scaled BIGINTs on the (value -> pooled count)
    rollup, per-group rank sums R2_g = 2*R_g are exact BIGINT, and
    the tie term sum(t^3 - t) runs through DECIMAL(38,0) (t can reach
    corpus scale; the burrows_delta overflow class). The only
    unordered-sum risk — sum over groups of R_g^2/n_g in doubles —
    folds the SOURCE-SORTED group list (the anova_source_lengths
    fix); H and the tie-corrected H are final IEEE arithmetic with
    degenerate guards (all-tied corpus: correction factor 0 -> NULL).

    Scale: ONE per-(source, value) count rollup touches the corpus;
    midranks live on the |distinct values| pooled spine; the fold is
    |sources|-sized. Nothing pairwise, nothing per-row."""
    docs = tables.table(spark, sf_dir, "documents")
    counts = docs.groupBy("source", "n_chars").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    pooled = counts.groupBy("n_chars").agg(
        F.sum("c").cast("bigint").alias("p")
    )
    wv = Window.orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, -1
    )
    mid = pooled.select(
        "n_chars",
        (
            F.lit(2) * F.coalesce(F.sum("p").over(wv), F.lit(0))
            + F.col("p")
            + F.lit(1)
        ).cast("bigint").alias("midrank2"),
    )
    per = (
        counts.join(mid, "n_chars")
        .groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_g"),
            F.sum(F.col("c") * F.col("midrank2"))
            .cast("bigint")
            .alias("r2"),
        )
    )
    ties = pooled.agg(
        F.sum("p").cast("bigint").alias("n"),
        F.sum(F.expr("cast(p as decimal(19,0)) * p * p - p"))
        .cast("decimal(38,0)")
        .alias("tie_sum_d"),
    )
    agg = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.expr(
            "aggregate(transform(array_sort(collect_list("
            "struct(source, r2, n_g))), x -> cast(x.r2 as double) "
            "* cast(x.r2 as double) / (4.0 * cast(x.n_g as double))), "
            "cast(0.0 as double), (a, x) -> a + x)"
        ).alias("r2sq_over_n"),
    )
    nd = F.col("n").cast("double")
    h = (
        F.lit(12.0) * F.col("r2sq_over_n") / (nd * (nd + F.lit(1.0)))
        - F.lit(3.0) * (nd + F.lit(1.0))
    )
    corr = F.lit(1.0) - F.col("tie_sum_d").cast("double") / (
        nd * nd * nd - nd
    )
    return (
        agg.crossJoin(F.broadcast(ties))
        .filter((F.col("n") > 1) & (F.col("n_groups") > 1))
        .select(
            F.col("n").alias("n_rows"),
            "n_groups",
            "r2sq_over_n",
            F.col("tie_sum_d").cast("double").alias("tie_sum"),
            h.alias("h"),
            F.when(corr > 0, h / corr).alias("h_corrected"),
        )
    )


KRUSKAL_WALLIS_SOURCES_ORACLE = """
WITH counts AS (
  SELECT source, n_chars, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2
),
pooled AS (
  SELECT n_chars, CAST(sum(c) AS BIGINT) AS p FROM counts GROUP BY 1
),
mid AS (
  SELECT n_chars,
         CAST(2 * COALESCE(sum(p) OVER (
             ORDER BY n_chars
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) + p + 1 AS BIGINT) AS midrank2
  FROM pooled
),
per AS (
  SELECT c.source,
         CAST(sum(c.c) AS BIGINT) AS n_g,
         CAST(sum(c.c * m.midrank2) AS BIGINT) AS r2
  FROM counts c JOIN mid m ON m.n_chars = c.n_chars
  GROUP BY 1
),
ties AS (
  SELECT CAST(sum(p) AS BIGINT) AS n,
         CAST(sum(CAST(p AS DECIMAL(19,0)) * p * p - p)
              AS DECIMAL(38,0)) AS tie_sum_d
  FROM pooled
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_groups,
         list_reduce(list_transform(
             list({'r2': r2, 'n_g': n_g} ORDER BY source),
             x -> CAST(x.r2 AS DOUBLE) * CAST(x.r2 AS DOUBLE)
                  / (4.0 * CAST(x.n_g AS DOUBLE))), (a, b) -> a + b)
           AS r2sq_over_n
  FROM per
)
SELECT t.n AS n_rows, a.n_groups, a.r2sq_over_n,
       CAST(t.tie_sum_d AS DOUBLE) AS tie_sum,
       12.0 * a.r2sq_over_n
         / (CAST(t.n AS DOUBLE) * (CAST(t.n AS DOUBLE) + 1.0))
         - 3.0 * (CAST(t.n AS DOUBLE) + 1.0) AS h,
       CASE WHEN 1.0 - CAST(t.tie_sum_d AS DOUBLE)
                 / (CAST(t.n AS DOUBLE) * CAST(t.n AS DOUBLE)
                    * CAST(t.n AS DOUBLE) - CAST(t.n AS DOUBLE)) > 0
            THEN (12.0 * a.r2sq_over_n
                    / (CAST(t.n AS DOUBLE) * (CAST(t.n AS DOUBLE) + 1.0))
                    - 3.0 * (CAST(t.n AS DOUBLE) + 1.0))
                 / (1.0 - CAST(t.tie_sum_d AS DOUBLE)
                    / (CAST(t.n AS DOUBLE) * CAST(t.n AS DOUBLE)
                       * CAST(t.n AS DOUBLE) - CAST(t.n AS DOUBLE)))
       END AS h_corrected
FROM agg a CROSS JOIN ties t
WHERE t.n > 1 AND a.n_groups > 1
"""


# --------------------------------------------------------------------------
# Brown-Forsythe variance-homogeneity test (post-freeze: r11 material)
# --------------------------------------------------------------------------


@query()
def brown_forsythe_lengths_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(n_rows, n_groups, ss_between_z, ss_within_z, f_stat): the
    Brown-Forsythe (median-centered Levene) test of length-VARIANCE
    homogeneity across sources — one-way ANOVA on z = |n_chars -
    median_source|. The spread sibling of anova_source_lengths (which
    reads location): equal means with one source twice as dispersed
    is exactly the mixture pathology a location test waves through,
    and variance homogeneity is the assumption every pooled-variance
    readout upstream silently makes. Median-centering (not
    mean-centering) is what makes the test robust for the skewed
    length distributions documents actually have.

    Exactness: the per-source median is the LOWER median — the
    smallest value whose inclusive cumulative count reaches
    ceil(n_g/2) — computed on the exact (source, value, count)
    rollup, so z is an exact BIGINT per distinct value; all ANOVA
    moments are exact BIGINT sums; SS_between folds the SOURCE-SORTED
    group list (the anova_source_lengths unordered-sum fix); F is
    final IEEE arithmetic with df guards.

    Scale: one per-(source, value) rollup touches the corpus; the
    median is a window over the per-source value spine (|distinct
    values| rows); the z-moments reuse the SAME rollup joined to the
    |sources|-row median table. Nothing per-row after the rollup."""
    docs = tables.table(spark, sf_dir, "documents")
    counts = docs.groupBy("source", "n_chars").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    wsrc = Window.partitionBy("source").orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wtot = Window.partitionBy("source")
    med = (
        counts.select(
            "source",
            "n_chars",
            F.sum("c").over(wsrc).cast("bigint").alias("cum"),
            F.sum("c").over(wtot).cast("bigint").alias("n_g"),
        )
        .filter(F.col("cum") * 2 >= F.col("n_g") + (F.col("n_g") % 2))
        .groupBy("source")
        .agg(F.min("n_chars").cast("bigint").alias("med"))
    )
    per = (
        counts.join(med, "source")
        .select(
            "source",
            "c",
            F.abs(F.col("n_chars") - F.col("med")).cast("bigint").alias(
                "z"
            ),
        )
        .groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_g"),
            F.sum(F.col("c") * F.col("z")).cast("bigint").alias("s_g"),
            F.sum(F.col("c") * F.col("z") * F.col("z"))
            .cast("bigint")
            .alias("ss_g"),
        )
    )
    agg = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum("s_g").cast("bigint").alias("s"),
        F.sum("ss_g").cast("bigint").alias("ss"),
        F.expr(
            "aggregate(transform(array_sort(collect_list("
            "struct(source, s_g, n_g))), x -> cast(x.s_g as double) "
            "* cast(x.s_g as double) / cast(x.n_g as double)), "
            "cast(0.0 as double), (a, x) -> a + x)"
        ).alias("sum_sq_over_n"),
    ).filter((F.col("n") > 0) & (F.col("n_groups") > 1))
    grand = F.col("s").cast("double") * F.col("s").cast("double") / F.col(
        "n"
    ).cast("double")
    ssb = F.col("sum_sq_over_n") - grand
    ssw = F.col("ss").cast("double") - F.col("sum_sq_over_n")
    f_stat = F.when(
        (ssw > 0) & (F.col("n") > F.col("n_groups")),
        (ssb / (F.col("n_groups") - 1).cast("double"))
        / (ssw / (F.col("n") - F.col("n_groups")).cast("double")),
    )
    return agg.select(
        F.col("n").alias("n_rows"),
        "n_groups",
        ssb.alias("ss_between_z"),
        ssw.alias("ss_within_z"),
        f_stat.alias("f_stat"),
    )


BROWN_FORSYTHE_LENGTHS_ORACLE = """
WITH counts AS (
  SELECT source, n_chars, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2
),
med AS (
  SELECT source, CAST(min(n_chars) AS BIGINT) AS med
  FROM (
    SELECT source, n_chars,
           CAST(sum(c) OVER (PARTITION BY source ORDER BY n_chars
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum,
           CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n_g
    FROM counts
  )
  WHERE cum * 2 >= n_g + (n_g % 2)
  GROUP BY 1
),
per AS (
  SELECT c.source,
         CAST(sum(c.c) AS BIGINT) AS n_g,
         CAST(sum(c.c * abs(c.n_chars - m.med)) AS BIGINT) AS s_g,
         CAST(sum(c.c * abs(c.n_chars - m.med)
                  * abs(c.n_chars - m.med)) AS BIGINT) AS ss_g
  FROM counts c JOIN med m USING (source)
  GROUP BY 1
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_groups,
         CAST(sum(n_g) AS BIGINT) AS n,
         CAST(sum(s_g) AS BIGINT) AS s,
         CAST(sum(ss_g) AS BIGINT) AS ss,
         list_reduce(list_transform(
             list({'s_g': s_g, 'n_g': n_g} ORDER BY source),
             x -> CAST(x.s_g AS DOUBLE) * CAST(x.s_g AS DOUBLE)
                  / CAST(x.n_g AS DOUBLE)), (a, b) -> a + b)
           AS sum_sq_over_n
  FROM per
  HAVING count(*) > 1 AND sum(n_g) > 0
)
SELECT n AS n_rows, n_groups,
       sum_sq_over_n - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
         / CAST(n AS DOUBLE) AS ss_between_z,
       CAST(ss AS DOUBLE) - sum_sq_over_n AS ss_within_z,
       CASE WHEN (CAST(ss AS DOUBLE) - sum_sq_over_n) > 0
                 AND n > n_groups THEN
         ((sum_sq_over_n - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
             / CAST(n AS DOUBLE)) / CAST(n_groups - 1 AS DOUBLE))
           / ((CAST(ss AS DOUBLE) - sum_sq_over_n)
              / CAST(n - n_groups AS DOUBLE))
       END AS f_stat
FROM agg
"""


# --------------------------------------------------------------------------
# Friedman blocked-rank test (post-freeze: r11 material)
# --------------------------------------------------------------------------


@query()
def friedman_event_mix_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_blocks, k_treatments, s4, denom4, chi2): the Friedman
    blocked-rank test over the day x event-type volume matrix — within
    each day (block), rank the event types by their daily counts; do
    the types keep the SAME ordering across days? The blocked
    completion of the rank-test ladder (mann_whitney: 2 independent
    samples; kruskal_wallis: k independent samples; Friedman: k
    treatments under n matched blocks), and the volume-mix twin of
    kendall_w_detectors (W = chi2 / (n*(k-1)) over the same ranks). A
    significant chi2 says the event mix has a stable daily ordering;
    its collapse round-over-round is the mix-shift alarm.

    Exactness: the day x type grid is zero-filled (a type absent on a
    day is a 0-count observation, not a missing cell), within-block
    midranks are 2x-scaled BIGINTs on per-day (count -> n_types)
    rollups, and the tie-corrected statistic chi2 = (k-1) * S4 /
    (A2 - n*k*(k+1)^2) keeps both the deviation sum S4 =
    sum_j (R2_j - n*(k+1))^2 and the denominator exact BIGINT until
    the one final division (A2 = sum of squared 2x midranks; the
    identity 4*(A - C) = A2 - n*k*(k+1)^2 folds the tie correction
    in). A fully tied matrix (denominator 0) reports NULL identically
    on both engines.

    Scale: one partial-aggregatable per-(day, type) rollup touches
    events; the grid, midranks and moments live on the |days| x
    |types| spine (day-partitioned bounded windows)."""
    ev = tables.table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("day"), F.col("event_type").alias("typ")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    days = daily.select("day").distinct()
    typs = daily.select("typ").distinct()
    grid = (
        days.crossJoin(F.broadcast(typs))
        .join(daily, ["day", "typ"], "left")
        .select(
            "day", "typ", F.coalesce("x", F.lit(0)).cast("bigint").alias("x")
        )
    )
    lv = grid.groupBy("day", "x").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    wd = Window.partitionBy("day").orderBy("x").rowsBetween(
        Window.unboundedPreceding, -1
    )
    mid = lv.select(
        "day",
        "x",
        (
            F.lit(2) * F.coalesce(F.sum("cnt").over(wd), F.lit(0))
            + F.col("cnt")
            + F.lit(1)
        ).cast("bigint").alias("midrank2"),
    )
    ranked = grid.join(mid, ["day", "x"])
    dims = ranked.agg(
        F.countDistinct("day").cast("bigint").alias("n"),
        F.countDistinct("typ").cast("bigint").alias("k"),
        F.sum(F.col("midrank2") * F.col("midrank2"))
        .cast("bigint")
        .alias("a2"),
    )
    per_typ = ranked.groupBy("typ").agg(
        F.sum("midrank2").cast("bigint").alias("r2")
    )
    s4 = (
        per_typ.crossJoin(F.broadcast(dims))
        .select(
            (F.col("r2") - F.col("n") * (F.col("k") + F.lit(1)))
            .cast("bigint")
            .alias("dev")
        )
        .agg(
            F.sum(F.expr("cast(dev as decimal(19,0)) * dev"))
            .cast("decimal(38,0)")
            .cast("bigint")
            .alias("s4")
        )
    )
    denom4 = (
        F.col("a2")
        - F.col("n") * F.col("k") * (F.col("k") + F.lit(1))
        * (F.col("k") + F.lit(1))
    )
    return (
        dims.crossJoin(F.broadcast(s4))
        .filter((F.col("n") > 0) & (F.col("k") > 1))
        .select(
            F.col("n").alias("n_blocks"),
            F.col("k").alias("k_treatments"),
            "s4",
            denom4.cast("bigint").alias("denom4"),
            F.when(
                denom4 > 0,
                (F.col("k") - F.lit(1)).cast("double")
                * F.col("s4").cast("double")
                / denom4.cast("double"),
            ).alias("chi2"),
        )
    )


FRIEDMAN_EVENT_MIX_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, event_type AS typ,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
days AS (SELECT DISTINCT day FROM daily),
typs AS (SELECT DISTINCT typ FROM daily),
grid AS (
  SELECT d.day, t.typ, CAST(COALESCE(x.x, 0) AS BIGINT) AS x
  FROM days d CROSS JOIN typs t
  LEFT JOIN daily x ON x.day = d.day AND x.typ = t.typ
),
lv AS (
  SELECT day, x, CAST(count(*) AS BIGINT) AS cnt FROM grid GROUP BY 1, 2
),
mid AS (
  SELECT day, x,
         CAST(2 * COALESCE(sum(cnt) OVER (
             PARTITION BY day ORDER BY x
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) + cnt + 1 AS BIGINT) AS midrank2
  FROM lv
),
ranked AS (
  SELECT g.day, g.typ, m.midrank2
  FROM grid g JOIN mid m ON m.day = g.day AND m.x = g.x
),
dims AS (
  SELECT CAST(count(DISTINCT day) AS BIGINT) AS n,
         CAST(count(DISTINCT typ) AS BIGINT) AS k,
         CAST(sum(midrank2 * midrank2) AS BIGINT) AS a2
  FROM ranked
),
per_typ AS (
  SELECT typ, CAST(sum(midrank2) AS BIGINT) AS r2 FROM ranked GROUP BY 1
),
s4 AS (
  SELECT CAST(CAST(sum(CAST(r2 - d.n * (d.k + 1) AS DECIMAL(19,0))
                       * (r2 - d.n * (d.k + 1))) AS DECIMAL(38,0))
           AS BIGINT) AS s4
  FROM per_typ CROSS JOIN dims d
)
SELECT d.n AS n_blocks, d.k AS k_treatments, s.s4,
       CAST(d.a2 - d.n * d.k * (d.k + 1) * (d.k + 1) AS BIGINT)
         AS denom4,
       CASE WHEN d.a2 - d.n * d.k * (d.k + 1) * (d.k + 1) > 0 THEN
         CAST(d.k - 1 AS DOUBLE) * CAST(s.s4 AS DOUBLE)
           / CAST(d.a2 - d.n * d.k * (d.k + 1) * (d.k + 1) AS DOUBLE)
       END AS chi2
FROM dims d CROSS JOIN s4 s
WHERE d.n > 0 AND d.k > 1
"""


# --------------------------------------------------------------------------
# Wilcoxon signed-rank test (post-freeze: r11 material)
# --------------------------------------------------------------------------


@query()
def wilcoxon_signed_rank_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(n_pairs, n_nonzero, w2_plus, w2_minus, var12, z): the Wilcoxon
    signed-rank test of per-user activity change between the event
    window's first and second half — the PAIRED completion of the
    rank ladder (mann_whitney: independent samples; Friedman: blocked
    ranks; signed-rank: matched pairs). Each user is their own
    control, so a population-mix shift can't fake a change signal the
    way it can for the independent tests; the question answered is
    "did the SAME users move?".

    Construction: the pair is (user, events in days [0, H) vs days
    [H, end)) with H the exact midpoint of the observed day span
    (computed from data, deterministic); zero differences drop per
    the standard treatment, |d| ranks are 2x-scaled midranks on the
    (|d| -> count) rollup, and W+ / W- are exact BIGINT rank sums
    carried 2x. The normal-approximation z uses the tie-corrected
    variance carried as the exact integer var12 = 12*Var[W2+] =
    2n(n+1)(2n+1) - sum(t^3 - t) (the /24 and /48 denominators fold
    into the 2x scale and the final sqrt), so z = (w2_plus -
    n(n+1)/2) / sqrt(var12/12.0) is one fixed flop sequence per
    engine. A fully-tied or empty nonzero set reports NULL z
    identically on both engines.

    Scale: one per-(user, half) rollup touches events; differences
    are |users|-sized; midranks live on the |distinct |d||-sized
    spine (bounded single-partition window, the house pattern)."""
    ev = tables.table(spark, sf_dir, "events")
    span = ev.agg(
        F.to_date(F.min("ts")).alias("d0"),
        F.to_date(F.max("ts")).alias("d1"),
    )
    per = (
        ev.crossJoin(F.broadcast(span))
        .select(
            "user_id",
            (
                F.datediff(F.to_date("ts"), F.col("d0"))
                * F.lit(2)
                >= F.datediff(F.col("d1"), F.col("d0")) + F.lit(1)
            ).cast("int").alias("half"),
        )
        .groupBy("user_id")
        .agg(
            F.sum(F.lit(1) - F.col("half")).cast("bigint").alias("x"),
            F.sum("half").cast("bigint").alias("y"),
        )
    )
    diffs = per.select(
        "user_id",
        (F.col("y") - F.col("x")).cast("bigint").alias("d"),
    )
    nz = diffs.filter(F.col("d") != 0).select(
        "d", F.abs("d").cast("bigint").alias("ad")
    )
    lv = nz.groupBy("ad").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    wv = Window.orderBy("ad").rowsBetween(Window.unboundedPreceding, -1)
    mid = lv.select(
        "ad",
        "cnt",
        (
            F.lit(2) * F.coalesce(F.sum("cnt").over(wv), F.lit(0))
            + F.col("cnt")
            + F.lit(1)
        ).cast("bigint").alias("midrank2"),
    )
    sums = (
        nz.join(mid.select("ad", "midrank2"), "ad")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.when(F.col("d") > 0, F.col("midrank2")).otherwise(0))
            .cast("bigint")
            .alias("w2_plus"),
            F.sum(F.when(F.col("d") < 0, F.col("midrank2")).otherwise(0))
            .cast("bigint")
            .alias("w2_minus"),
        )
    )
    ties = lv.agg(
        F.sum(F.expr("cast(cnt as decimal(19,0)) * cnt * cnt - cnt"))
        .cast("decimal(38,0)")
        .cast("bigint")
        .alias("tie_sum")
    )
    total = diffs.agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    n = F.col("n")
    var12 = (
        F.lit(2) * n * (n + F.lit(1)) * (F.lit(2) * n + F.lit(1))
        - F.col("tie_sum")
    )
    z = F.when(
        var12 > 0,
        (
            F.col("w2_plus") - n * (n + F.lit(1)) / F.lit(2)
        ).cast("double")
        / F.sqrt(var12.cast("double") / F.lit(12.0)),
    )
    return (
        sums.crossJoin(F.broadcast(ties))
        .crossJoin(F.broadcast(total))
        .select(
            "n_pairs",
            F.col("n").alias("n_nonzero"),
            "w2_plus",
            "w2_minus",
            var12.cast("bigint").alias("var12"),
            z.alias("z"),
        )
    )


WILCOXON_SIGNED_RANK_ORACLE = """
WITH span AS (
  SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1
  FROM events
),
per AS (
  SELECT user_id,
         CAST(sum(CASE WHEN datediff('day', s.d0, CAST(ts AS DATE)) * 2
                            >= datediff('day', s.d0, s.d1) + 1
                       THEN 0 ELSE 1 END) AS BIGINT) AS x,
         CAST(sum(CASE WHEN datediff('day', s.d0, CAST(ts AS DATE)) * 2
                            >= datediff('day', s.d0, s.d1) + 1
                       THEN 1 ELSE 0 END) AS BIGINT) AS y
  FROM events CROSS JOIN span s
  GROUP BY 1
),
diffs AS (SELECT user_id, CAST(y - x AS BIGINT) AS d FROM per),
nz AS (SELECT d, CAST(abs(d) AS BIGINT) AS ad FROM diffs WHERE d <> 0),
lv AS (SELECT ad, CAST(count(*) AS BIGINT) AS cnt FROM nz GROUP BY 1),
mid AS (
  SELECT ad,
         CAST(2 * COALESCE(sum(cnt) OVER (
             ORDER BY ad
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) + cnt + 1 AS BIGINT) AS midrank2
  FROM lv
),
sums AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN d > 0 THEN midrank2 ELSE 0 END) AS BIGINT)
           AS w2_plus,
         CAST(sum(CASE WHEN d < 0 THEN midrank2 ELSE 0 END) AS BIGINT)
           AS w2_minus
  FROM nz JOIN mid USING (ad)
),
ties AS (
  SELECT CAST(CAST(sum(CAST(cnt AS DECIMAL(19,0)) * cnt * cnt - cnt)
                AS DECIMAL(38,0)) AS BIGINT) AS tie_sum
  FROM lv
),
total AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM diffs)
SELECT t.n_pairs, s.n AS n_nonzero, s.w2_plus, s.w2_minus,
       CAST(2 * s.n * (s.n + 1) * (2 * s.n + 1) - ti.tie_sum AS BIGINT)
         AS var12,
       CASE WHEN 2 * s.n * (s.n + 1) * (2 * s.n + 1) - ti.tie_sum > 0
            THEN CAST(s.w2_plus - s.n * (s.n + 1) / 2 AS DOUBLE)
                 / sqrt(CAST(2 * s.n * (s.n + 1) * (2 * s.n + 1)
                             - ti.tie_sum AS DOUBLE) / 12.0)
       END AS z
FROM sums s CROSS JOIN ties ti CROSS JOIN total t
"""


# --------------------------------------------------------------------------
# Mood's median test: daily order volume across priorities (r11 add)
# --------------------------------------------------------------------------


@query()
def mood_median_test_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_cells, n_groups, grand_median, n_above, chi2): Mood's
    median test of per-day order counts across the five order
    priorities — does ANY priority class run systematically above or
    below the pooled daily-volume median? The trimmed-to-the-bone
    robust k-sample location gate: where ``kruskal_wallis_sources``
    uses every rank, Mood's test uses ONE bit per observation
    (above the grand median or not), which makes it insensitive to
    anything but the middle of the distribution — the gate of choice
    when the tails are known-contaminated (backfill spikes, outage
    zero-days). Complements the reference's plain windowed counts
    (streams/PurchasesTopology.java:43) with a significance verdict.

    Exactness: observations are BIGINT per-(priority, day) counts;
    the grand median is defined CONSTRUCTIVELY as the smallest value
    whose pooled cumulative count reaches ceil(n/2) (lower median —
    no engine median() builtin, whose even-n interpolation differs
    across engines, ever runs). The k x 2 contingency table is exact
    BIGINT; chi2 = sum (O-E)^2/E folds the PRIORITY-SORTED group
    list (the anova_source_lengths unordered-double-sum fix), with
    expected counts the only float arithmetic. Degenerate guard: a
    corpus where no observation exceeds the median (or all do)
    yields chi2 NULL.

    Scale: one per-(priority, day) rollup touches orders; the value
    spine is |distinct daily counts|-sized (bounded by max daily
    volume, not rows); the fold is |priorities|-sized."""
    orders = tables.table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderpriority").alias("grp"),
        F.to_date("o_orderdate").alias("day"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    vc = daily.groupBy("x").agg(
        F.count(F.lit(1)).cast("bigint").alias("p")
    )
    wv = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    cum = vc.select(
        "x", F.sum("p").over(wv).cast("bigint").alias("cum")
    )
    tot = vc.agg(F.sum("p").cast("bigint").alias("n"))
    med = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.lit(2) * F.col("cum") >= F.col("n"))
        .agg(F.min("x").cast("bigint").alias("med"))
    )
    per = (
        daily.crossJoin(F.broadcast(med))
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_g"),
            F.sum((F.col("x") > F.col("med")).cast("bigint"))
            .cast("bigint")
            .alias("a_g"),
        )
    )
    agg = per.agg(
        F.sum("n_g").cast("bigint").alias("n_obs"),
        F.sum("a_g").cast("bigint").alias("n_above"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.expr(
            "array_sort(collect_list(struct(grp, n_g, a_g)))"
        ).alias("cells"),
    )
    chi2 = F.expr(
        "aggregate(cells, cast(0.0 as double), (acc, c) -> acc"
        " + pow(cast(c.a_g as double)"
        "       - cast(c.n_g as double) * n_above / n_obs, 2)"
        "   / (cast(c.n_g as double) * n_above / n_obs)"
        " + pow(cast(c.n_g - c.a_g as double)"
        "       - cast(c.n_g as double) * (n_obs - n_above) / n_obs, 2)"
        "   / (cast(c.n_g as double) * (n_obs - n_above) / n_obs))"
    )
    return agg.crossJoin(F.broadcast(med)).select(
        F.col("n_obs").alias("n_cells"),
        "n_groups",
        F.col("med").alias("grand_median"),
        "n_above",
        F.when(
            (F.col("n_above") > 0) & (F.col("n_above") < F.col("n_obs")),
            chi2,
        ).alias("chi2"),
    )


MOOD_MEDIAN_TEST_ORACLE = """
WITH daily AS (
  SELECT o_orderpriority AS grp, CAST(o_orderdate AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM orders GROUP BY 1, 2
),
vc AS (SELECT x, CAST(count(*) AS BIGINT) AS p FROM daily GROUP BY 1),
cum AS (
  SELECT x, CAST(sum(p) OVER (ORDER BY x) AS BIGINT) AS cum FROM vc
),
tot AS (SELECT CAST(sum(p) AS BIGINT) AS n FROM vc),
med AS (
  SELECT CAST(min(x) AS BIGINT) AS med
  FROM cum CROSS JOIN tot WHERE 2 * cum >= n
),
per AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n_g,
         CAST(sum(CASE WHEN x > med THEN 1 ELSE 0 END) AS BIGINT) AS a_g
  FROM daily CROSS JOIN med GROUP BY 1
),
agg AS (
  SELECT CAST(sum(n_g) AS BIGINT) AS n_obs,
         CAST(sum(a_g) AS BIGINT) AS n_above,
         CAST(count(*) AS BIGINT) AS n_groups,
         list({'grp': grp, 'n_g': n_g, 'a_g': a_g} ORDER BY grp)
           AS cells
  FROM per
)
SELECT a.n_obs AS n_cells, a.n_groups, m.med AS grand_median,
       a.n_above,
       CASE WHEN a.n_above > 0 AND a.n_above < a.n_obs THEN
         list_reduce(list_transform(a.cells, c ->
           pow(CAST(c.a_g AS DOUBLE)
               - CAST(c.n_g AS DOUBLE) * a.n_above / a.n_obs, 2)
             / (CAST(c.n_g AS DOUBLE) * a.n_above / a.n_obs)
           + pow(CAST(c.n_g - c.a_g AS DOUBLE)
               - CAST(c.n_g AS DOUBLE) * (a.n_obs - a.n_above)
                 / a.n_obs, 2)
             / (CAST(c.n_g AS DOUBLE) * (a.n_obs - a.n_above)
                / a.n_obs)), (x, y) -> x + y)
       END AS chi2
FROM agg a CROSS JOIN med m
"""


# --------------------------------------------------------------------------
# Cliff's delta: pairwise source-length effect-size matrix (r11 add)
# --------------------------------------------------------------------------


@query()
def cliffs_delta_sources_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(source_a, source_b, n_a, n_b, gt, lt, delta): Cliff's delta
    for every ordered source pair on ``n_chars`` — the distribution-
    free effect SIZE that the significance ladder (mann_whitney_audit
    -> kruskal_wallis_sources) deliberately does not report. delta =
    (#(x_a > x_b) - #(x_a < x_b)) / (n_a * n_b) in [-1, 1]: at 100 TB
    every negligible shift is "significant", so curation gates act on
    |delta| thresholds (0.147/0.33/0.474 negligible/small/medium by
    Romano's convention), not p-values. mann_whitney_audit's AUC is
    source-vs-REST; this is the full pairwise matrix that localizes
    WHICH pair drifted.

    Exactness: gt = sum_v c_a(v) * cumlt_b(v) and lt symmetric are
    exact BIGINT off the per-(source, value) count grid (cum counts
    via a per-source window on the pooled value spine); delta is one
    final IEEE division. Bound: gt <= n_a*n_b, so ~3e9-doc sources
    fit 2^63 — beyond that the per-source rollup is the shard
    boundary (the mann_whitney_audit note).

    Scale: the grid is |sources| x |distinct lengths| (domain-sized,
    not row-sized); the pair frame is |sources|^2 x |values| — all
    bounded. Nothing touches raw rows twice."""
    docs = tables.table(spark, sf_dir, "documents")
    counts = docs.groupBy("source", "n_chars").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    spine = counts.select("n_chars").distinct()
    srcs = counts.select("source").distinct()
    grid = (
        spine.crossJoin(F.broadcast(srcs))
        .join(counts, ["source", "n_chars"], "left")
        .select(
            "source",
            "n_chars",
            F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("c"),
        )
    )
    wlt = (
        Window.partitionBy("source")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    grid = grid.select(
        "source",
        "n_chars",
        "c",
        F.coalesce(F.sum("c").over(wlt), F.lit(0))
        .cast("bigint")
        .alias("cumlt"),
    )
    a = grid.select(
        F.col("source").alias("source_a"),
        "n_chars",
        F.col("c").alias("c_a"),
        F.col("cumlt").alias("cumlt_a"),
    )
    b = grid.select(
        F.col("source").alias("source_b"),
        "n_chars",
        F.col("c").alias("c_b"),
        F.col("cumlt").alias("cumlt_b"),
    )
    pairs = (
        a.join(b, "n_chars")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.sum("c_a").cast("bigint").alias("n_a"),
            F.sum("c_b").cast("bigint").alias("n_b"),
            F.sum(F.col("c_a") * F.col("cumlt_b"))
            .cast("bigint")
            .alias("gt"),
            F.sum(F.col("c_b") * F.col("cumlt_a"))
            .cast("bigint")
            .alias("lt"),
        )
    )
    return pairs.select(
        "source_a",
        "source_b",
        "n_a",
        "n_b",
        "gt",
        "lt",
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            (F.col("gt") - F.col("lt")).cast("double")
            / (F.col("n_a") * F.col("n_b")).cast("double"),
        ).alias("delta"),
    )


CLIFFS_DELTA_SOURCES_ORACLE = """
WITH counts AS (
  SELECT source, n_chars, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2
),
spine AS (SELECT DISTINCT n_chars FROM counts),
srcs AS (SELECT DISTINCT source FROM counts),
grid AS (
  SELECT s.source, v.n_chars,
         CAST(COALESCE(c.c, 0) AS BIGINT) AS c
  FROM spine v CROSS JOIN srcs s
  LEFT JOIN counts c
    ON c.source = s.source AND c.n_chars = v.n_chars
),
cumgrid AS (
  SELECT source, n_chars, c,
         CAST(COALESCE(sum(c) OVER (
             PARTITION BY source ORDER BY n_chars
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS BIGINT) AS cumlt
  FROM grid
),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(sum(a.c) AS BIGINT) AS n_a,
         CAST(sum(b.c) AS BIGINT) AS n_b,
         CAST(sum(a.c * b.cumlt) AS BIGINT) AS gt,
         CAST(sum(b.c * a.cumlt) AS BIGINT) AS lt
  FROM cumgrid a JOIN cumgrid b ON a.n_chars = b.n_chars
  WHERE a.source < b.source
  GROUP BY 1, 2
)
SELECT source_a, source_b, n_a, n_b, gt, lt,
       CASE WHEN n_a > 0 AND n_b > 0 THEN
         CAST(gt - lt AS DOUBLE) / CAST(n_a * n_b AS DOUBLE)
       END AS delta
FROM pairs
"""


# --------------------------------------------------------------------------
# Jonckheere-Terpstra: ordered trend across order priorities (r11 add)
# --------------------------------------------------------------------------


@query()
def jonckheere_trend_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_total, n_groups, j2, e2, var_j, z): the Jonckheere-Terpstra
    test of an ORDERED alternative — do orders' line-item counts
    trend monotonically across the priority ladder 1-URGENT ->
    5-LOW? Kruskal-Wallis asks "any difference"; J-T spends its power
    on the one alternative a capacity planner cares about (monotone
    in the known priority order) and so detects trends K-W dilutes
    away. J = sum over ordered group pairs i<j of the Mann-Whitney
    count #(x_i < x_j), ties counted half.

    Exactness: carried as j2 = 2*J (BIGINT; the half-tie steps stay
    integral), computed off the per-(priority, items) count grid with
    per-group cumulative counts on the pooled value spine — j2 =
    sum_{i<j} sum_v c_j(v) * (2*cumlt_i(v) + c_i(v)). The null
    moments use the tie-corrected variance (Hollander & Wolfe 1999,
    Thm 6.2.1 tie adaptation): e2 = (N^2 - sum n_i^2)/2 and var_j =
    t1/72 + t2/(36 N(N-1)(N-2)) + t3/(8 N(N-1)) with t1, t2, t3 the
    standard group-size/tie-count polynomials — every polynomial is
    exact through DECIMAL(38,0) (t2 multiplies two ~N^3 sums: the
    burrows_delta overflow class), and z is final IEEE on the exact
    parts. Degenerate guard: var_j <= 0 (single value or group)
    emits NULL z.

    Scale: ONE lineitem rollup to per-order item counts, one join to
    orders for the priority label, then a |priorities| x |item
    counts| grid (5 x ~13 cells); the pair frame is grid^2 on the
    value spine. Nothing pairwise on rows."""
    li = tables.table(spark, sf_dir, "lineitem")
    orders = tables.table(spark, sf_dir, "orders")
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("v")
    )
    obs = per_order.join(
        orders.select(
            F.col("o_orderkey").alias("l_orderkey"),
            F.col("o_orderpriority").alias("grp"),
        ),
        "l_orderkey",
    )
    counts = obs.groupBy("grp", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    spine = counts.select("v").distinct()
    grps = counts.select("grp").distinct()
    grid = (
        spine.crossJoin(F.broadcast(grps))
        .join(counts, ["grp", "v"], "left")
        .select(
            "grp",
            "v",
            F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("c"),
        )
    )
    wlt = (
        Window.partitionBy("grp")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    grid = grid.select(
        "grp",
        "v",
        "c",
        F.coalesce(F.sum("c").over(wlt), F.lit(0))
        .cast("bigint")
        .alias("cumlt"),
    )
    a = grid.select(
        F.col("grp").alias("g_i"),
        "v",
        F.col("c").alias("c_i"),
        F.col("cumlt").alias("cumlt_i"),
    )
    b = grid.select(
        F.col("grp").alias("g_j"), "v", F.col("c").alias("c_j")
    )
    j2 = (
        a.join(b, "v")
        .filter(F.col("g_i") < F.col("g_j"))
        .agg(
            F.sum(
                F.col("c_j")
                * (F.lit(2) * F.col("cumlt_i") + F.col("c_i"))
            )
            .cast("bigint")
            .alias("j2")
        )
    )
    gsz = counts.groupBy("grp").agg(
        F.sum("c").cast("bigint").alias("n_g")
    )
    gm = gsz.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum(F.col("n_g") * F.col("n_g")).cast("bigint").alias("sn2"),
        F.sum(
            F.expr(
                "cast(n_g as decimal(19,0)) * (n_g - 1) * (2 * n_g + 5)"
            )
        )
        .cast("decimal(38,0)")
        .alias("g25"),
        F.sum(F.expr("cast(n_g as decimal(19,0)) * (n_g - 1)"))
        .cast("decimal(38,0)")
        .alias("g11"),
        F.sum(
            F.expr("cast(n_g as decimal(19,0)) * (n_g - 1) * (n_g - 2)")
        )
        .cast("decimal(38,0)")
        .alias("g12"),
    )
    tv = counts.groupBy("v").agg(F.sum("c").cast("bigint").alias("t"))
    tm = tv.agg(
        F.sum(
            F.expr("cast(t as decimal(19,0)) * (t - 1) * (2 * t + 5)")
        )
        .cast("decimal(38,0)")
        .alias("t25"),
        F.sum(F.expr("cast(t as decimal(19,0)) * (t - 1)"))
        .cast("decimal(38,0)")
        .alias("t11"),
        F.sum(F.expr("cast(t as decimal(19,0)) * (t - 1) * (t - 2)"))
        .cast("decimal(38,0)")
        .alias("t12"),
    )
    nd = F.col("n").cast("double")
    t1 = (
        F.expr(
            "cast(cast(n as decimal(19,0)) * (n - 1) * (2 * n + 5)"
            " as decimal(38,0))"
        )
        - F.col("g25")
        - F.col("t25")
    ).cast("double")
    t2 = (F.col("g12") * F.col("t12")).cast("decimal(38,0)").cast(
        "double"
    )
    t3 = (F.col("g11") * F.col("t11")).cast("decimal(38,0)").cast(
        "double"
    )
    var_j = (
        t1 / F.lit(72.0)
        + t2
        / (F.lit(36.0) * nd * (nd - F.lit(1.0)) * (nd - F.lit(2.0)))
        + t3 / (F.lit(8.0) * nd * (nd - F.lit(1.0)))
    )
    e2 = (F.col("n") * F.col("n") - F.col("sn2")).cast("bigint")
    return (
        gm.crossJoin(F.broadcast(tm))
        .crossJoin(F.broadcast(j2))
        .select(
            F.col("n").alias("n_total"),
            "n_groups",
            "j2",
            F.expr("div(n * n - sn2, 2)").cast("bigint").alias("e2"),
            var_j.alias("var_j"),
            F.when(
                var_j > 0,
                (F.col("j2") - F.expr("div(n * n - sn2, 2)"))
                .cast("double")
                / (F.lit(2.0) * F.sqrt(var_j)),
            ).alias("z"),
        )
    )


JONCKHEERE_TREND_ORACLE = """
WITH per_order AS (
  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS v
  FROM lineitem GROUP BY 1
),
obs AS (
  SELECT o.o_orderpriority AS grp, p.v
  FROM per_order p JOIN orders o ON o.o_orderkey = p.l_orderkey
),
counts AS (
  SELECT grp, v, CAST(count(*) AS BIGINT) AS c FROM obs GROUP BY 1, 2
),
spine AS (SELECT DISTINCT v FROM counts),
grps AS (SELECT DISTINCT grp FROM counts),
grid AS (
  SELECT g.grp, s.v, CAST(COALESCE(c.c, 0) AS BIGINT) AS c
  FROM spine s CROSS JOIN grps g
  LEFT JOIN counts c ON c.grp = g.grp AND c.v = s.v
),
cumgrid AS (
  SELECT grp, v, c,
         CAST(COALESCE(sum(c) OVER (
             PARTITION BY grp ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS BIGINT) AS cumlt
  FROM grid
),
jstat AS (
  SELECT CAST(sum(b.c * (2 * a.cumlt + a.c)) AS BIGINT) AS j2
  FROM cumgrid a JOIN cumgrid b ON a.v = b.v
  WHERE a.grp < b.grp
),
gsz AS (
  SELECT grp, CAST(sum(c) AS BIGINT) AS n_g FROM counts GROUP BY 1
),
gm AS (
  SELECT CAST(count(*) AS BIGINT) AS n_groups,
         CAST(sum(n_g) AS BIGINT) AS n,
         CAST(sum(n_g * n_g) AS BIGINT) AS sn2,
         CAST(sum(CAST(n_g AS DECIMAL(19,0)) * (n_g - 1)
                  * (2 * n_g + 5)) AS DECIMAL(38,0)) AS g25,
         CAST(sum(CAST(n_g AS DECIMAL(19,0)) * (n_g - 1))
              AS DECIMAL(38,0)) AS g11,
         CAST(sum(CAST(n_g AS DECIMAL(19,0)) * (n_g - 1) * (n_g - 2))
              AS DECIMAL(38,0)) AS g12
  FROM gsz
),
tv AS (SELECT v, CAST(sum(c) AS BIGINT) AS t FROM counts GROUP BY 1),
tm AS (
  SELECT CAST(sum(CAST(t AS DECIMAL(19,0)) * (t - 1) * (2 * t + 5))
              AS DECIMAL(38,0)) AS t25,
         CAST(sum(CAST(t AS DECIMAL(19,0)) * (t - 1))
              AS DECIMAL(38,0)) AS t11,
         CAST(sum(CAST(t AS DECIMAL(19,0)) * (t - 1) * (t - 2))
              AS DECIMAL(38,0)) AS t12
  FROM tv
)
SELECT g.n AS n_total, g.n_groups, j.j2,
       CAST((g.n * g.n - g.sn2) // 2 AS BIGINT) AS e2,
       CAST(CAST(CAST(g.n AS DECIMAL(19,0)) * (g.n - 1) * (2 * g.n + 5)
                 AS DECIMAL(38,0)) - g.g25 - t.t25 AS DOUBLE) / 72.0
         + CAST(CAST(g.g12 * t.t12 AS DECIMAL(38,0)) AS DOUBLE)
           / (36.0 * CAST(g.n AS DOUBLE) * (CAST(g.n AS DOUBLE) - 1.0)
              * (CAST(g.n AS DOUBLE) - 2.0))
         + CAST(CAST(g.g11 * t.t11 AS DECIMAL(38,0)) AS DOUBLE)
           / (8.0 * CAST(g.n AS DOUBLE) * (CAST(g.n AS DOUBLE) - 1.0))
         AS var_j,
       CASE WHEN
         CAST(CAST(CAST(g.n AS DECIMAL(19,0)) * (g.n - 1)
                   * (2 * g.n + 5) AS DECIMAL(38,0)) - g.g25 - t.t25
              AS DOUBLE) / 72.0
         + CAST(CAST(g.g12 * t.t12 AS DECIMAL(38,0)) AS DOUBLE)
           / (36.0 * CAST(g.n AS DOUBLE) * (CAST(g.n AS DOUBLE) - 1.0)
              * (CAST(g.n AS DOUBLE) - 2.0))
         + CAST(CAST(g.g11 * t.t11 AS DECIMAL(38,0)) AS DOUBLE)
           / (8.0 * CAST(g.n AS DOUBLE) * (CAST(g.n AS DOUBLE) - 1.0))
         > 0
       THEN CAST(j.j2 - (g.n * g.n - g.sn2) // 2 AS DOUBLE)
            / (2.0 * sqrt(
         CAST(CAST(CAST(g.n AS DECIMAL(19,0)) * (g.n - 1)
                   * (2 * g.n + 5) AS DECIMAL(38,0)) - g.g25 - t.t25
              AS DOUBLE) / 72.0
         + CAST(CAST(g.g12 * t.t12 AS DECIMAL(38,0)) AS DOUBLE)
           / (36.0 * CAST(g.n AS DOUBLE) * (CAST(g.n AS DOUBLE) - 1.0)
              * (CAST(g.n AS DOUBLE) - 2.0))
         + CAST(CAST(g.g11 * t.t11 AS DECIMAL(38,0)) AS DOUBLE)
           / (8.0 * CAST(g.n AS DOUBLE) * (CAST(g.n AS DOUBLE) - 1.0))))
       END AS z
FROM gm g CROSS JOIN tm t CROSS JOIN jstat j
"""


# --------------------------------------------------------------------------
# Dunn's post-hoc: pairwise localization after Kruskal-Wallis (r11)
# --------------------------------------------------------------------------


@query()
def dunn_posthoc_sources_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(source_a, source_b, n_a, n_b, mean_rank_a, mean_rank_b, z):
    Dunn's post-hoc test on ``n_chars`` for every source pair — the
    pairwise localization step the multiple-testing protocol runs
    AFTER kruskal_wallis_sources' omnibus H fires: which pairs
    actually differ? Dunn reuses the POOLED midranks (not per-pair
    re-ranking, which is Conover's test), so its z values are the
    ones the BH-FDR gate downstream expects to adjust. z_ij =
    (mr_i - mr_j) / sqrt((N(N+1)/12 - T/(12(N-1))) * (1/n_i +
    1/n_j)) with T = sum(t^3 - t) the pooled tie term.

    Exactness: rank sums r2_g = 2*R_g are the exact BIGINTs of the
    mann_whitney_audit midrank discipline; mean ranks mr = r2/(2n)
    are one IEEE division each; the tie term runs through
    DECIMAL(38,0); the variance factor and z are final IEEE with a
    degenerate guard (all-tied corpus -> zero variance -> NULL z).

    Scale: the per-source rank sums ride ONE per-(source, value)
    rollup and the pooled |distinct values| spine; the pair frame is
    |sources|^2 broadcast rows."""
    docs = tables.table(spark, sf_dir, "documents")
    counts = docs.groupBy("source", "n_chars").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    pooled = counts.groupBy("n_chars").agg(
        F.sum("c").cast("bigint").alias("p")
    )
    wv = Window.orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, -1
    )
    mid = pooled.select(
        "n_chars",
        (
            F.lit(2) * F.coalesce(F.sum("p").over(wv), F.lit(0))
            + F.col("p")
            + F.lit(1)
        ).cast("bigint").alias("midrank2"),
    )
    per = (
        counts.join(mid, "n_chars")
        .groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_g"),
            F.sum(F.col("c") * F.col("midrank2"))
            .cast("bigint")
            .alias("r2"),
        )
    )
    moments = pooled.agg(
        F.sum("p").cast("bigint").alias("n"),
        F.sum(F.expr("cast(p as decimal(19,0)) * p * p - p"))
        .cast("decimal(38,0)")
        .alias("tie_sum_d"),
    )
    a = per.select(
        F.col("source").alias("source_a"),
        F.col("n_g").alias("n_a"),
        F.col("r2").alias("r2_a"),
    )
    b = per.select(
        F.col("source").alias("source_b"),
        F.col("n_g").alias("n_b"),
        F.col("r2").alias("r2_b"),
    )
    nd = F.col("n").cast("double")
    sigma2 = nd * (nd + F.lit(1.0)) / F.lit(12.0) - F.col(
        "tie_sum_d"
    ).cast("double") / (F.lit(12.0) * (nd - F.lit(1.0)))
    mra = F.col("r2_a").cast("double") / (
        F.lit(2.0) * F.col("n_a").cast("double")
    )
    mrb = F.col("r2_b").cast("double") / (
        F.lit(2.0) * F.col("n_b").cast("double")
    )
    se = F.sqrt(
        sigma2
        * (
            F.lit(1.0) / F.col("n_a").cast("double")
            + F.lit(1.0) / F.col("n_b").cast("double")
        )
    )
    return (
        a.crossJoin(b)
        .filter(F.col("source_a") < F.col("source_b"))
        .crossJoin(F.broadcast(moments))
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            mra.alias("mean_rank_a"),
            mrb.alias("mean_rank_b"),
            F.when(sigma2 > 0, (mra - mrb) / se).alias("z"),
        )
    )


DUNN_POSTHOC_SOURCES_ORACLE = """
WITH counts AS (
  SELECT source, n_chars, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2
),
pooled AS (
  SELECT n_chars, CAST(sum(c) AS BIGINT) AS p FROM counts GROUP BY 1
),
mid AS (
  SELECT n_chars,
         CAST(2 * COALESCE(sum(p) OVER (
             ORDER BY n_chars
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) + p + 1 AS BIGINT) AS midrank2
  FROM pooled
),
per AS (
  SELECT c.source,
         CAST(sum(c.c) AS BIGINT) AS n_g,
         CAST(sum(c.c * m.midrank2) AS BIGINT) AS r2
  FROM counts c JOIN mid m ON m.n_chars = c.n_chars
  GROUP BY 1
),
moments AS (
  SELECT CAST(sum(p) AS BIGINT) AS n,
         CAST(sum(CAST(p AS DECIMAL(19,0)) * p * p - p)
              AS DECIMAL(38,0)) AS tie_sum_d
  FROM pooled
)
SELECT a.source AS source_a, b.source AS source_b,
       a.n_g AS n_a, b.n_g AS n_b,
       CAST(a.r2 AS DOUBLE) / (2.0 * CAST(a.n_g AS DOUBLE))
         AS mean_rank_a,
       CAST(b.r2 AS DOUBLE) / (2.0 * CAST(b.n_g AS DOUBLE))
         AS mean_rank_b,
       CASE WHEN CAST(m.n AS DOUBLE) * (CAST(m.n AS DOUBLE) + 1.0)
                 / 12.0
                 - CAST(m.tie_sum_d AS DOUBLE)
                   / (12.0 * (CAST(m.n AS DOUBLE) - 1.0)) > 0
       THEN (CAST(a.r2 AS DOUBLE) / (2.0 * CAST(a.n_g AS DOUBLE))
             - CAST(b.r2 AS DOUBLE) / (2.0 * CAST(b.n_g AS DOUBLE)))
            / sqrt((CAST(m.n AS DOUBLE) * (CAST(m.n AS DOUBLE) + 1.0)
                    / 12.0
                    - CAST(m.tie_sum_d AS DOUBLE)
                      / (12.0 * (CAST(m.n AS DOUBLE) - 1.0)))
                   * (1.0 / CAST(a.n_g AS DOUBLE)
                      + 1.0 / CAST(b.n_g AS DOUBLE)))
       END AS z
FROM per a CROSS JOIN per b CROSS JOIN moments m
WHERE a.source < b.source
"""


# --------------------------------------------------------------------------
# Ansari-Bradley: dispersion change across the timeline halves (r11)
# --------------------------------------------------------------------------


@query()
def ansari_bradley_halves_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(n_days, n_early, ab2, mean_ab2, var_ab2, z): the
    Ansari-Bradley rank test of SCALE — did the dispersion of daily
    order volume change between the first and second half of the
    timeline? durbin_watson_daily catches serial correlation and
    cusum_changepoint catches level shifts; A-B scores each pooled
    observation by its distance from the rank EXTREMES (score =
    min(rank, N+1-rank), large in the middle, small in the tails)
    so a variance change moves the early-half score sum with no
    location shift required — the dispersion-drift gate.

    Exactness: the half split is constructive integer date
    arithmetic (2*datediff(day, min) < span, no float midpoint);
    scores are 2x-scaled BIGINTs off pooled midranks (s2 =
    least(midrank2, 2(N+1) - midrank2)); ab2 = sum of early-half
    scores is exact BIGINT. The null moments use the
    sampling-without-replacement identities on the POOLED score
    multiset — E[AB] = n_e * mean(s), Var[AB] = n_e (N - n_e)/(N-1)
    * popvar(s) — which stay exact under ANY tie structure (the
    textbook even/odd-N closed forms assume no ties); the score
    second moment runs through DECIMAL(38,0) and z is final IEEE
    with a zero-variance guard.

    Scale: one per-day rollup, midranks and scores on the bounded
    |distinct daily counts| spine, single-row moments."""
    orders = tables.table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.to_date("o_orderdate").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    span = daily.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    tagged = daily.crossJoin(F.broadcast(span)).select(
        "x",
        (
            F.lit(2) * F.datediff(F.col("day"), F.col("d0"))
            < F.datediff(F.col("d1"), F.col("d0")) + F.lit(1)
        ).cast("int").alias("early"),
    )
    counts = tagged.groupBy("x").agg(
        F.count(F.lit(1)).cast("bigint").alias("l"),
        F.sum("early").cast("bigint").alias("c_e"),
    )
    wv = Window.orderBy("x").rowsBetween(
        Window.unboundedPreceding, -1
    )
    tot = counts.agg(F.sum("l").cast("bigint").alias("n"))
    scored = (
        counts.select(
            "x",
            "l",
            "c_e",
            (
                F.lit(2) * F.coalesce(F.sum("l").over(wv), F.lit(0))
                + F.col("l")
                + F.lit(1)
            ).cast("bigint").alias("midrank2"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "l",
            "c_e",
            "n",
            F.least(
                F.col("midrank2"),
                F.lit(2) * (F.col("n") + F.lit(1)) - F.col("midrank2"),
            ).cast("bigint").alias("s2"),
        )
    )
    agg = scored.agg(
        F.max("n").cast("bigint").alias("n_days"),
        F.sum("c_e").cast("bigint").alias("n_early"),
        F.sum(F.col("c_e") * F.col("s2")).cast("bigint").alias("ab2"),
        F.sum(F.col("l") * F.col("s2")).cast("bigint").alias("ssum"),
        F.sum(F.expr("cast(l as decimal(19,0)) * s2 * s2"))
        .cast("decimal(38,0)")
        .alias("ssq_d"),
    )
    nd = F.col("n_days").cast("double")
    ne = F.col("n_early").cast("double")
    mu = F.col("ssum").cast("double") / nd
    popvar = F.col("ssq_d").cast("double") / nd - mu * mu
    var_ab = ne * (nd - ne) / (nd - F.lit(1.0)) * popvar
    return agg.select(
        "n_days",
        "n_early",
        "ab2",
        (ne * mu).alias("mean_ab2"),
        var_ab.alias("var_ab2"),
        F.when(
            var_ab > 0,
            (F.col("ab2").cast("double") - ne * mu) / F.sqrt(var_ab),
        ).alias("z"),
    )


ANSARI_BRADLEY_HALVES_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM orders GROUP BY 1
),
span AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
tagged AS (
  SELECT x,
         CASE WHEN 2 * datediff('day', s.d0, day)
                   < datediff('day', s.d0, s.d1) + 1
              THEN 1 ELSE 0 END AS early
  FROM daily CROSS JOIN span s
),
counts AS (
  SELECT x, CAST(count(*) AS BIGINT) AS l,
         CAST(sum(early) AS BIGINT) AS c_e
  FROM tagged GROUP BY 1
),
tot AS (SELECT CAST(sum(l) AS BIGINT) AS n FROM counts),
scored AS (
  SELECT l, c_e, t.n,
         CAST(least(
           2 * COALESCE(sum(l) OVER (
               ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) + l + 1,
           2 * (t.n + 1)
             - (2 * COALESCE(sum(l) OVER (
                    ORDER BY x
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  ), 0) + l + 1)
         ) AS BIGINT) AS s2
  FROM counts CROSS JOIN tot t
),
agg AS (
  SELECT CAST(max(n) AS BIGINT) AS n_days,
         CAST(sum(c_e) AS BIGINT) AS n_early,
         CAST(sum(c_e * s2) AS BIGINT) AS ab2,
         CAST(sum(l * s2) AS BIGINT) AS ssum,
         CAST(sum(CAST(l AS DECIMAL(19,0)) * s2 * s2)
              AS DECIMAL(38,0)) AS ssq_d
  FROM scored
)
SELECT n_days, n_early, ab2,
       CAST(n_early AS DOUBLE)
         * (CAST(ssum AS DOUBLE) / CAST(n_days AS DOUBLE))
         AS mean_ab2,
       CAST(n_early AS DOUBLE)
         * (CAST(n_days AS DOUBLE) - CAST(n_early AS DOUBLE))
         / (CAST(n_days AS DOUBLE) - 1.0)
         * (CAST(ssq_d AS DOUBLE) / CAST(n_days AS DOUBLE)
            - (CAST(ssum AS DOUBLE) / CAST(n_days AS DOUBLE))
              * (CAST(ssum AS DOUBLE) / CAST(n_days AS DOUBLE)))
         AS var_ab2,
       CASE WHEN CAST(n_early AS DOUBLE)
                 * (CAST(n_days AS DOUBLE) - CAST(n_early AS DOUBLE))
                 / (CAST(n_days AS DOUBLE) - 1.0)
                 * (CAST(ssq_d AS DOUBLE) / CAST(n_days AS DOUBLE)
                    - (CAST(ssum AS DOUBLE) / CAST(n_days AS DOUBLE))
                      * (CAST(ssum AS DOUBLE)
                         / CAST(n_days AS DOUBLE))) > 0
       THEN (CAST(ab2 AS DOUBLE)
             - CAST(n_early AS DOUBLE)
               * (CAST(ssum AS DOUBLE) / CAST(n_days AS DOUBLE)))
            / sqrt(CAST(n_early AS DOUBLE)
                 * (CAST(n_days AS DOUBLE) - CAST(n_early AS DOUBLE))
                 / (CAST(n_days AS DOUBLE) - 1.0)
                 * (CAST(ssq_d AS DOUBLE) / CAST(n_days AS DOUBLE)
                    - (CAST(ssum AS DOUBLE) / CAST(n_days AS DOUBLE))
                      * (CAST(ssum AS DOUBLE)
                         / CAST(n_days AS DOUBLE))))
       END AS z
FROM agg
"""


# --------------------------------------------------------------------------
# Cochran-Mantel-Haenszel: day-stratified click-vs-view odds (r11)
# --------------------------------------------------------------------------

# Fixed engagement threshold for the CMH outcome (value > 50.0 is
# "high-value"): a CONSTANT, not a data-derived median, so the
# operator needs no near-row-sized value spine and the definition
# is identical at every scale factor.
_CMH_VALUE_THRESHOLD = 50.0


@query()
def cmh_event_value_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_strata, n_events, sum_a, sum_e, sum_v, cmh): the
    Cochran-Mantel-Haenszel test of click-vs-view association with
    high engagement (value > 50), STRATIFIED BY DAY — the
    confounding-proof version of ab_test_chi2's pooled 2x2:
    day-level mix shifts (weekend traffic, campaign bursts) can
    manufacture or mask a pooled association (the Simpson reversal
    simpson_reversal_audit scans for); CMH sums each day's
    (observed - expected) under that day's own margins, so only
    WITHIN-day association survives. CMH = (sum_k a_k - sum_k
    E_k)^2 / sum_k V_k, chi-square 1 df under H0.

    Exactness: every cell, margin, and the hypergeometric-variance
    numerator r1(n-r1)c1(n-c1) is exact integer (the variance
    product routes through DECIMAL(38,0) — day volumes are the
    burrows_delta overflow class at corpus scale); per-stratum E_k
    and V_k are IEEE on exact integers, and both cross-stratum sums
    fold the DAY-SORTED stratum list (the anova_source_lengths
    unordered-double-sum fix). Degenerate strata (a day with no
    clicks, no views, or a constant outcome) contribute their exact
    zero variance and drop out of the test naturally; sum_v = 0
    emits NULL.

    Scale: one filtered per-day 2x2 rollup touches events; folds
    run on the bounded |days| spine."""
    ev = tables.table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    cells = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("nk"),
        F.sum((F.col("event_type") == "click").cast("bigint"))
        .cast("bigint")
        .alias("r1"),
        F.sum(
            (F.col("value") > F.lit(_CMH_VALUE_THRESHOLD)).cast("bigint")
        )
        .cast("bigint")
        .alias("c1"),
        F.sum(
            (
                (F.col("event_type") == "click")
                & (F.col("value") > F.lit(_CMH_VALUE_THRESHOLD))
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("a"),
    )
    agg = cells.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        F.sum("nk").cast("bigint").alias("n_events"),
        F.sum("a").cast("bigint").alias("sum_a"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(day, nk, r1,"
            " c1))), cast(0.0 as double), (acc, s) -> acc"
            " + cast(s.r1 as double) * cast(s.c1 as double)"
            "   / cast(s.nk as double))"
        ).alias("sum_e"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(day, nk, r1,"
            " c1))), cast(0.0 as double), (acc, s) -> acc"
            " + (case when s.nk > 1 then"
            " cast(cast(cast(s.r1 as decimal(19,0)) * (s.nk - s.r1)"
            "      as decimal(38,0))"
            "      * cast(cast(s.c1 as decimal(19,0)) * (s.nk - s.c1)"
            "        as decimal(38,0)) as double)"
            " / cast(cast(cast(s.nk as decimal(19,0)) * s.nk"
            "        as decimal(38,0)) * (s.nk - 1) as double)"
            " else 0.0 end))"
        ).alias("sum_v"),
    )
    dev = F.col("sum_a").cast("double") - F.col("sum_e")
    return agg.select(
        "n_strata",
        "n_events",
        "sum_a",
        "sum_e",
        "sum_v",
        F.when(F.col("sum_v") > 0, dev * dev / F.col("sum_v")).alias(
            "cmh"
        ),
    )


CMH_EVENT_VALUE_ORACLE = """
WITH cells AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS nk,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS r1,
         CAST(sum(CASE WHEN value > 50.0 THEN 1 ELSE 0 END)
              AS BIGINT) AS c1,
         CAST(sum(CASE WHEN event_type = 'click' AND value > 50.0
                       THEN 1 ELSE 0 END) AS BIGINT) AS a
  FROM events
  WHERE event_type IN ('click', 'view')
  GROUP BY 1
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_strata,
         CAST(sum(nk) AS BIGINT) AS n_events,
         CAST(sum(a) AS BIGINT) AS sum_a,
         list_reduce(list_prepend(0.0, list_transform(
           list({'nk': nk, 'r1': r1, 'c1': c1} ORDER BY day),
           s -> CAST(s.r1 AS DOUBLE) * CAST(s.c1 AS DOUBLE)
                / CAST(s.nk AS DOUBLE))), (x, y) -> x + y) AS sum_e,
         list_reduce(list_prepend(0.0, list_transform(
           list({'nk': nk, 'r1': r1, 'c1': c1} ORDER BY day),
           s -> CASE WHEN s.nk > 1 THEN
                  CAST(CAST(CAST(s.r1 AS DECIMAL(19,0))
                            * (s.nk - s.r1) AS DECIMAL(38,0))
                       * CAST(CAST(s.c1 AS DECIMAL(19,0))
                              * (s.nk - s.c1) AS DECIMAL(38,0))
                       AS DOUBLE)
                  / CAST(CAST(CAST(s.nk AS DECIMAL(19,0)) * s.nk
                              AS DECIMAL(38,0)) * (s.nk - 1)
                         AS DOUBLE)
                ELSE 0.0 END)), (x, y) -> x + y) AS sum_v
  FROM cells
)
SELECT n_strata, n_events, sum_a, sum_e, sum_v,
       CASE WHEN sum_v > 0
            THEN (CAST(sum_a AS DOUBLE) - sum_e)
                 * (CAST(sum_a AS DOUBLE) - sum_e) / sum_v
       END AS cmh
FROM agg
"""


# --------------------------------------------------------------------------
# Somers' D / tau-b: ordinal association of priority and size (r11)
# --------------------------------------------------------------------------


@query()
def somers_d_priority_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_total, c_pairs, d_pairs, tx_pairs, ty_pairs, d_yx, d_xy,
    tau_b): ordinal association between an order's priority level
    (x, the 1-URGENT..5-LOW ladder) and its line-item count (y) —
    the EFFECT-SIZE companion to jonckheere_trend exactly as
    cliffs_delta_sources companions mann_whitney_audit: J-T says
    whether a monotone trend exists; Somers' D_yx says how much of
    y's pair ordering x explains (the ordinal analogue of R^2's
    slope reading, and the statistic behind Harrell's c = (D+1)/2).
    Both asymmetric deltas and the symmetric Kendall tau-b come from
    the same concordance counts.

    Exactness: concordant/discordant pair counts are exact BIGINTs
    off the |x-levels| x |y-values| cell grid — C = sum_cell c *
    (mass strictly smaller in BOTH dims), via the 2D cumulative join
    on the bounded grid; tie masses T_x, T_y are BIGINT from the
    margins (through DECIMAL(38,0) at corpus scale); the deltas are
    final IEEE divisions and tau_b's denominator multiplies the two
    tie-corrected pair totals in DECIMAL(38,0) before one sqrt.
    Beyond ~4e9 orders the pair totals outgrow 2^63 and the rollup
    becomes the shard boundary (the mann_whitney_audit note).

    Scale: one lineitem rollup + one key join to orders; every
    pairwise quantity lives on the ~5 x ~13 cell grid (grid^2 join
    of broadcast size)."""
    li = tables.table(spark, sf_dir, "lineitem")
    orders = tables.table(spark, sf_dir, "orders")
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("v")
    )
    obs = per_order.join(
        orders.select(
            F.col("o_orderkey").alias("l_orderkey"),
            F.col("o_orderpriority").alias("grp"),
        ),
        "l_orderkey",
    )
    cells = obs.groupBy("grp", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    a = cells.select(
        F.col("grp").alias("ga"), F.col("v").alias("va"),
        F.col("c").alias("ca"),
    )
    b = cells.select(
        F.col("grp").alias("gb"), F.col("v").alias("vb"),
        F.col("c").alias("cb"),
    )
    cd = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("ga") < F.col("gb"))
        .agg(
            F.sum(
                F.when(
                    F.col("va") < F.col("vb"),
                    F.col("ca") * F.col("cb"),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("c_pairs"),
            F.sum(
                F.when(
                    F.col("va") > F.col("vb"),
                    F.col("ca") * F.col("cb"),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("d_pairs"),
        )
    )
    xm = cells.groupBy("grp").agg(F.sum("c").cast("bigint").alias("nx"))
    ym = cells.groupBy("v").agg(F.sum("c").cast("bigint").alias("ny"))
    tx = xm.agg(
        F.sum("nx").cast("bigint").alias("n"),
        (
            F.sum(F.expr("cast(nx as decimal(19,0)) * (nx - 1)"))
            .cast("decimal(38,0)")
            / F.lit(2)
        )
        .cast("decimal(38,0)")
        .alias("tx_d"),
    )
    ty = ym.agg(
        (
            F.sum(F.expr("cast(ny as decimal(19,0)) * (ny - 1)"))
            .cast("decimal(38,0)")
            / F.lit(2)
        )
        .cast("decimal(38,0)")
        .alias("ty_d"),
    )
    joined = cd.crossJoin(F.broadcast(tx)).crossJoin(F.broadcast(ty))
    n0_d = F.expr(
        "cast(cast(n as decimal(19,0)) * (n - 1) as decimal(38,0))"
        " / 2"
    ).cast("decimal(38,0)")
    s = (F.col("c_pairs") - F.col("d_pairs")).cast("double")
    denx = (n0_d - F.col("tx_d")).cast("decimal(38,0)")
    deny = (n0_d - F.col("ty_d")).cast("decimal(38,0)")
    return joined.select(
        F.col("n").alias("n_total"),
        "c_pairs",
        "d_pairs",
        F.col("tx_d").cast("bigint").alias("tx_pairs"),
        F.col("ty_d").cast("bigint").alias("ty_pairs"),
        F.when(
            denx.cast("double") > 0, s / denx.cast("double")
        ).alias("d_yx"),
        F.when(
            deny.cast("double") > 0, s / deny.cast("double")
        ).alias("d_xy"),
        F.when(
            (denx.cast("double") > 0) & (deny.cast("double") > 0),
            s / F.sqrt(denx.cast("double") * deny.cast("double")),
        ).alias("tau_b"),
    )


SOMERS_D_PRIORITY_ORACLE = """
WITH per_order AS (
  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS v
  FROM lineitem GROUP BY 1
),
obs AS (
  SELECT o.o_orderpriority AS grp, p.v
  FROM per_order p JOIN orders o ON o.o_orderkey = p.l_orderkey
),
cells AS (
  SELECT grp, v, CAST(count(*) AS BIGINT) AS c FROM obs GROUP BY 1, 2
),
cd AS (
  SELECT CAST(sum(CASE WHEN a.v < b.v THEN a.c * b.c ELSE 0 END)
              AS BIGINT) AS c_pairs,
         CAST(sum(CASE WHEN a.v > b.v THEN a.c * b.c ELSE 0 END)
              AS BIGINT) AS d_pairs
  FROM cells a JOIN cells b ON a.grp < b.grp
),
tx AS (
  SELECT CAST(sum(nx) AS BIGINT) AS n,
         CAST(CAST(sum(CAST(nx AS DECIMAL(19,0)) * (nx - 1))
                   AS DECIMAL(38,0)) / 2 AS DECIMAL(38,0)) AS tx_d
  FROM (SELECT grp, CAST(sum(c) AS BIGINT) AS nx
        FROM cells GROUP BY 1)
),
ty AS (
  SELECT CAST(CAST(sum(CAST(ny AS DECIMAL(19,0)) * (ny - 1))
                   AS DECIMAL(38,0)) / 2 AS DECIMAL(38,0)) AS ty_d
  FROM (SELECT v, CAST(sum(c) AS BIGINT) AS ny
        FROM cells GROUP BY 1)
)
SELECT t.n AS n_total, cd.c_pairs, cd.d_pairs,
       CAST(t.tx_d AS BIGINT) AS tx_pairs,
       CAST(y.ty_d AS BIGINT) AS ty_pairs,
       CASE WHEN CAST(CAST(CAST(CAST(t.n AS DECIMAL(19,0)) * (t.n - 1)
                     AS DECIMAL(38,0)) / 2 AS DECIMAL(38,0)) - t.tx_d
                 AS DOUBLE) > 0
       THEN CAST(cd.c_pairs - cd.d_pairs AS DOUBLE)
            / CAST(CAST(CAST(CAST(t.n AS DECIMAL(19,0)) * (t.n - 1)
                    AS DECIMAL(38,0)) / 2 AS DECIMAL(38,0)) - t.tx_d
                   AS DOUBLE)
       END AS d_yx,
       CASE WHEN CAST(CAST(CAST(CAST(t.n AS DECIMAL(19,0)) * (t.n - 1)
                     AS DECIMAL(38,0)) / 2 AS DECIMAL(38,0)) - y.ty_d
                 AS DOUBLE) > 0
       THEN CAST(cd.c_pairs - cd.d_pairs AS DOUBLE)
            / CAST(CAST(CAST(CAST(t.n AS DECIMAL(19,0)) * (t.n - 1)
                    AS DECIMAL(38,0)) / 2 AS DECIMAL(38,0)) - y.ty_d
                   AS DOUBLE)
       END AS d_xy,
       CASE WHEN CAST(CAST(CAST(CAST(t.n AS DECIMAL(19,0)) * (t.n - 1)
                     AS DECIMAL(38,0)) / 2 AS DECIMAL(38,0)) - t.tx_d
                 AS DOUBLE) > 0
            AND CAST(CAST(CAST(CAST(t.n AS DECIMAL(19,0)) * (t.n - 1)
                     AS DECIMAL(38,0)) / 2 AS DECIMAL(38,0)) - y.ty_d
                 AS DOUBLE) > 0
       THEN CAST(cd.c_pairs - cd.d_pairs AS DOUBLE)
            / sqrt(CAST(CAST(CAST(CAST(t.n AS DECIMAL(19,0)) * (t.n - 1)
                     AS DECIMAL(38,0)) / 2 AS DECIMAL(38,0)) - t.tx_d
                   AS DOUBLE)
                 * CAST(CAST(CAST(CAST(t.n AS DECIMAL(19,0)) * (t.n - 1)
                     AS DECIMAL(38,0)) / 2 AS DECIMAL(38,0)) - y.ty_d
                   AS DOUBLE))
       END AS tau_b
FROM cd CROSS JOIN tx t CROSS JOIN ty y
"""


# --------------------------------------------------------------------------
# Welch's ANOVA: heteroscedastic k-sample location test (r11 add)
# --------------------------------------------------------------------------


@query()
def welch_anova_sources_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(n_rows, n_groups, w_sum, grand_mean_w, f_stat, df2): Welch's
    heteroscedastic one-way ANOVA of ``n_chars`` across sources —
    the third leg of the location-test triad:
    ``anova_source_lengths`` assumes equal variances,
    ``kruskal_wallis_sources`` drops normality, Welch keeps the
    mean comparison but lets every source carry its OWN variance
    (weights w_g = n_g / s_g^2), which is the honest default when
    ``brown_forsythe_lengths`` has already shown the variances
    differ. F* = [sum w_g (m_g - m_w)^2 / (k-1)] / [1 +
    2(k-2)/(k^2-1) * H] with H = sum (1 - w_g/W)^2 / (n_g - 1), and
    the Welch-Satterthwaite df2 = (k^2-1)/(3H).

    Exactness: per-group moments are exact BIGINTs off ONE rollup;
    the variance numerator n_g*ss_g - s_g^2 routes through
    DECIMAL(38,0) (the burrows_delta overflow class); mean_g and
    w_g are fixed per-group IEEE expressions; every cross-group sum
    (W, the weighted mean, the A and H terms) folds the SAME
    source-sorted struct list (the anova_source_lengths
    unordered-double-sum fix), and F*/df2 are final IEEE. Groups
    with n_g < 2 or zero variance cannot carry a weight and are
    excluded at the rollup (documented; a single-doc source has no
    within-variance to weight by).

    Scale: one partial-aggregatable rollup to |sources| rows;
    every fold is |sources|-long."""
    docs = tables.table(spark, sf_dir, "documents")
    per = (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_g"),
            F.sum("n_chars").cast("bigint").alias("s_g"),
            F.sum(F.col("n_chars") * F.col("n_chars"))
            .cast("bigint")
            .alias("ss_g"),
        )
        .filter(
            (F.col("n_g") >= 2)
            & (
                F.expr(
                    "cast(cast(n_g as decimal(19,0)) * ss_g"
                    " - cast(s_g as decimal(19,0)) * s_g"
                    " as decimal(38,0))"
                )
                > 0
            )
        )
        .select(
            "source",
            "n_g",
            (F.col("s_g").cast("double") / F.col("n_g").cast("double"))
            .alias("m_g"),
            (
                F.col("n_g").cast("double")
                / (
                    F.expr(
                        "cast(cast(n_g as decimal(19,0)) * ss_g"
                        " - cast(s_g as decimal(19,0)) * s_g"
                        " as decimal(38,0))"
                    ).cast("double")
                    / (
                        F.col("n_g").cast("double")
                        * (F.col("n_g") - F.lit(1)).cast("double")
                    )
                )
            ).alias("w_g"),
        )
    )
    agg = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum("n_g").cast("bigint").alias("n"),
        F.expr(
            "array_sort(collect_list(struct(source, n_g, m_g, w_g)))"
        ).alias("cells"),
    ).filter(F.col("n_groups") > 1)
    folded = agg.select(
        "n",
        "n_groups",
        "cells",
        F.expr(
            "aggregate(cells, cast(0.0 as double),"
            " (acc, x) -> acc + x.w_g)"
        ).alias("w_sum"),
        F.expr(
            "aggregate(cells, cast(0.0 as double),"
            " (acc, x) -> acc + x.w_g * x.m_g)"
        ).alias("wm_sum"),
    )
    ybar = folded.select(
        "n",
        "n_groups",
        "cells",
        "w_sum",
        (F.col("wm_sum") / F.col("w_sum")).alias("grand_mean_w"),
    )
    out = ybar.select(
        "n",
        "n_groups",
        "w_sum",
        "grand_mean_w",
        F.expr(
            "aggregate(cells, cast(0.0 as double), (acc, x) -> acc"
            " + x.w_g * (x.m_g - grand_mean_w)"
            " * (x.m_g - grand_mean_w))"
        ).alias("a_num"),
        F.expr(
            "aggregate(cells, cast(0.0 as double), (acc, x) -> acc"
            " + (1.0 - x.w_g / w_sum) * (1.0 - x.w_g / w_sum)"
            " / cast(x.n_g - 1 as double))"
        ).alias("h"),
    )
    kd = F.col("n_groups").cast("double")
    f_stat = (F.col("a_num") / (kd - F.lit(1.0))) / (
        F.lit(1.0)
        + F.lit(2.0)
        * (kd - F.lit(2.0))
        / (kd * kd - F.lit(1.0))
        * F.col("h")
    )
    return out.select(
        F.col("n").alias("n_rows"),
        "n_groups",
        "w_sum",
        "grand_mean_w",
        F.when(F.col("h") >= 0, f_stat).alias("f_stat"),
        F.when(
            F.col("h") > 0,
            (kd * kd - F.lit(1.0)) / (F.lit(3.0) * F.col("h")),
        ).alias("df2"),
    )


WELCH_ANOVA_SOURCES_ORACLE = """
WITH per0 AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_g,
         CAST(sum(n_chars) AS BIGINT) AS s_g,
         CAST(sum(n_chars * n_chars) AS BIGINT) AS ss_g
  FROM documents GROUP BY 1
  HAVING CAST(count(*) AS BIGINT) >= 2
     AND CAST(CAST(count(*) AS DECIMAL(19,0)) * sum(n_chars * n_chars)
              - CAST(sum(n_chars) AS DECIMAL(19,0)) * sum(n_chars)
              AS DECIMAL(38,0)) > 0
),
per AS (
  SELECT source, n_g,
         CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE) AS m_g,
         CAST(n_g AS DOUBLE)
           / (CAST(CAST(CAST(n_g AS DECIMAL(19,0)) * ss_g
                        - CAST(s_g AS DECIMAL(19,0)) * s_g
                        AS DECIMAL(38,0)) AS DOUBLE)
              / (CAST(n_g AS DOUBLE) * CAST(n_g - 1 AS DOUBLE)))
           AS w_g
  FROM per0
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_groups,
         CAST(sum(n_g) AS BIGINT) AS n,
         list({'source': source, 'n_g': n_g, 'm_g': m_g, 'w_g': w_g}
              ORDER BY source) AS cells
  FROM per
),
folded AS (
  SELECT n, n_groups, cells,
         list_reduce(list_prepend(0.0, list_transform(cells,
           x -> x.w_g)), (a, b) -> a + b) AS w_sum,
         list_reduce(list_prepend(0.0, list_transform(cells,
           x -> x.w_g * x.m_g)), (a, b) -> a + b) AS wm_sum
  FROM agg WHERE n_groups > 1
),
ybar AS (
  SELECT n, n_groups, cells, w_sum,
         wm_sum / w_sum AS grand_mean_w
  FROM folded
),
fin AS (
  SELECT n, n_groups, w_sum, grand_mean_w,
         list_reduce(list_prepend(0.0, list_transform(cells,
           x -> x.w_g * (x.m_g - grand_mean_w)
                * (x.m_g - grand_mean_w))), (a, b) -> a + b) AS a_num,
         list_reduce(list_prepend(0.0, list_transform(cells,
           x -> (1.0 - x.w_g / w_sum) * (1.0 - x.w_g / w_sum)
                / CAST(x.n_g - 1 AS DOUBLE))), (a, b) -> a + b) AS h
  FROM ybar
)
SELECT n AS n_rows, n_groups, w_sum, grand_mean_w,
       CASE WHEN h >= 0 THEN
         (a_num / (CAST(n_groups AS DOUBLE) - 1.0))
         / (1.0 + 2.0 * (CAST(n_groups AS DOUBLE) - 2.0)
              / (CAST(n_groups AS DOUBLE) * CAST(n_groups AS DOUBLE)
                 - 1.0) * h)
       END AS f_stat,
       CASE WHEN h > 0 THEN
         (CAST(n_groups AS DOUBLE) * CAST(n_groups AS DOUBLE) - 1.0)
           / (3.0 * h)
       END AS df2
FROM fin
"""


# --------------------------------------------------------------------------
# Quade test: block-weighted Friedman over the daily event mix (r11)
# --------------------------------------------------------------------------


@query()
def quade_event_mix_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_blocks, k_treatments, a4, b4, f_stat): the Quade test over
    the same day x event-type volume matrix as ``friedman_event_mix``
    — Friedman weights every day equally; Quade weights each day by
    the rank of its within-day RANGE, so days where the event mix
    actually separates carry the verdict and near-tied days stop
    diluting it (the more powerful choice at small k, k <= 5 here).
    F = (b-1) * B / (A - B) with A = sum S_ij^2, B = (1/b) sum_j
    S_j^2, S_ij = W_b * (r_ij - (k+1)/2), F(k-1, (b-1)(k-1)) under
    H0.

    Exactness: within-day midranks and the cross-day range midranks
    are both 2x-scaled BIGINTs (per-day rollups; the range spine is
    |distinct ranges|-sized), so S4_ij = w2_b * (r2_ij - (k+1)) =
    4*S_ij is exact integer; A4 = sum S4^2 and sum_j S4_j^2 route
    through DECIMAL(38,0) and the common 16x scale cancels in F,
    which is one final IEEE expression. A matrix where every day is
    fully tied (all ranges equal AND all ranks tied -> A4 = B4)
    reports NULL identically on both engines.

    Scale: one per-(day, type) rollup touches events; grid,
    midranks, ranges and moments live on the |days| x |types| spine
    (day-partitioned bounded windows; the range-rank window runs on
    the bounded |distinct ranges| rollup)."""
    ev = tables.table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("day"), F.col("event_type").alias("typ")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    days = daily.select("day").distinct()
    typs = daily.select("typ").distinct()
    grid = (
        days.crossJoin(F.broadcast(typs))
        .join(daily, ["day", "typ"], "left")
        .select(
            "day",
            "typ",
            F.coalesce("x", F.lit(0)).cast("bigint").alias("x"),
        )
    )
    lv = grid.groupBy("day", "x").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    wd = Window.partitionBy("day").orderBy("x").rowsBetween(
        Window.unboundedPreceding, -1
    )
    mid = lv.select(
        "day",
        "x",
        (
            F.lit(2) * F.coalesce(F.sum("cnt").over(wd), F.lit(0))
            + F.col("cnt")
            + F.lit(1)
        ).cast("bigint").alias("midrank2"),
    )
    ranked = grid.join(mid, ["day", "x"])
    ranges = grid.groupBy("day").agg(
        (F.max("x") - F.min("x")).cast("bigint").alias("q")
    )
    qv = ranges.groupBy("q").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    wq = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, -1)
    qmid = qv.select(
        "q",
        (
            F.lit(2) * F.coalesce(F.sum("cnt").over(wq), F.lit(0))
            + F.col("cnt")
            + F.lit(1)
        ).cast("bigint").alias("w2"),
    )
    weighted = ranges.join(qmid, "q").select("day", "w2")
    dims = grid.agg(
        F.countDistinct("day").cast("bigint").alias("b"),
        F.countDistinct("typ").cast("bigint").alias("k"),
    )
    scored = (
        ranked.join(weighted, "day")
        .crossJoin(F.broadcast(dims))
        .select(
            "typ",
            "b",
            "k",
            (
                F.col("w2")
                * (F.col("midrank2") - (F.col("k") + F.lit(1)))
            ).cast("bigint").alias("s4"),
        )
    )
    a4 = scored.agg(
        F.max("b").cast("bigint").alias("b"),
        F.max("k").cast("bigint").alias("k"),
        F.sum(F.expr("cast(s4 as decimal(19,0)) * s4"))
        .cast("decimal(38,0)")
        .cast("bigint")
        .alias("a4"),
    )
    sj = scored.groupBy("typ").agg(
        F.sum("s4").cast("bigint").alias("s4_j")
    )
    bsum = sj.agg(
        F.sum(F.expr("cast(s4_j as decimal(19,0)) * s4_j"))
        .cast("decimal(38,0)")
        .cast("bigint")
        .alias("sj2")
    )
    joined = a4.crossJoin(F.broadcast(bsum))
    b4 = F.col("sj2").cast("double") / F.col("b").cast("double")
    f_stat = F.when(
        F.col("a4").cast("double") > b4,
        (F.col("b") - F.lit(1)).cast("double")
        * b4
        / (F.col("a4").cast("double") - b4),
    )
    return joined.select(
        F.col("b").alias("n_blocks"),
        F.col("k").alias("k_treatments"),
        "a4",
        b4.alias("b4"),
        f_stat.alias("f_stat"),
    )


QUADE_EVENT_MIX_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, event_type AS typ,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
days AS (SELECT DISTINCT day FROM daily),
typs AS (SELECT DISTINCT typ FROM daily),
grid AS (
  SELECT d.day, t.typ, CAST(COALESCE(x.x, 0) AS BIGINT) AS x
  FROM days d CROSS JOIN typs t
  LEFT JOIN daily x ON x.day = d.day AND x.typ = t.typ
),
lv AS (
  SELECT day, x, CAST(count(*) AS BIGINT) AS cnt
  FROM grid GROUP BY 1, 2
),
mid AS (
  SELECT day, x,
         CAST(2 * COALESCE(sum(cnt) OVER (
             PARTITION BY day ORDER BY x
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) + cnt + 1 AS BIGINT) AS midrank2
  FROM lv
),
ranked AS (
  SELECT g.day, g.typ, m.midrank2
  FROM grid g JOIN mid m ON m.day = g.day AND m.x = g.x
),
ranges AS (
  SELECT day, CAST(max(x) - min(x) AS BIGINT) AS q
  FROM grid GROUP BY 1
),
qv AS (SELECT q, CAST(count(*) AS BIGINT) AS cnt FROM ranges GROUP BY 1),
qmid AS (
  SELECT q,
         CAST(2 * COALESCE(sum(cnt) OVER (
             ORDER BY q
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) + cnt + 1 AS BIGINT) AS w2
  FROM qv
),
weighted AS (
  SELECT r.day, m.w2 FROM ranges r JOIN qmid m ON m.q = r.q
),
dims AS (
  SELECT CAST(count(DISTINCT day) AS BIGINT) AS b,
         CAST(count(DISTINCT typ) AS BIGINT) AS k
  FROM grid
),
scored AS (
  SELECT r.typ, d.b, d.k,
         CAST(w.w2 * (r.midrank2 - (d.k + 1)) AS BIGINT) AS s4
  FROM ranked r
  JOIN weighted w ON w.day = r.day
  CROSS JOIN dims d
),
a4t AS (
  SELECT CAST(max(b) AS BIGINT) AS b, CAST(max(k) AS BIGINT) AS k,
         CAST(CAST(sum(CAST(s4 AS DECIMAL(19,0)) * s4)
                   AS DECIMAL(38,0)) AS BIGINT) AS a4
  FROM scored
),
sj AS (
  SELECT typ, CAST(sum(s4) AS BIGINT) AS s4_j FROM scored GROUP BY 1
),
bsum AS (
  SELECT CAST(CAST(sum(CAST(s4_j AS DECIMAL(19,0)) * s4_j)
                   AS DECIMAL(38,0)) AS BIGINT) AS sj2
  FROM sj
)
SELECT a.b AS n_blocks, a.k AS k_treatments, a.a4,
       CAST(s.sj2 AS DOUBLE) / CAST(a.b AS DOUBLE) AS b4,
       CASE WHEN CAST(a.a4 AS DOUBLE)
                 > CAST(s.sj2 AS DOUBLE) / CAST(a.b AS DOUBLE)
       THEN CAST(a.b - 1 AS DOUBLE)
            * (CAST(s.sj2 AS DOUBLE) / CAST(a.b AS DOUBLE))
            / (CAST(a.a4 AS DOUBLE)
               - CAST(s.sj2 AS DOUBLE) / CAST(a.b AS DOUBLE))
       END AS f_stat
FROM a4t a CROSS JOIN bsum s
"""

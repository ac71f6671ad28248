"""Distribution-comparison audits: exact two-sample KS, kernel MMD
over embeddings, a two-proportion experiment readout, a Simpson's-
paradox reversal scan, and a Johnson-Lindenstrauss projection
fidelity audit.

The reference pipeline's implicit contract is that the stream it
aggregates is homogeneous (`streams/PurchasesTopology.java:43`
aggregates all partitions identically); a 100 TB training-data
pipeline has to TEST that assumption — per-source, per-label, and
per-cohort distributions drift, and mixing decisions made on pooled
statistics can invert at the stratum level. Everything here is exact
(integer-count CDFs, fixed-point feature sums) so the audits are
oracle-hashable, not approximate diagnostics.

Scale posture: each audit reduces the corpus ONCE to a bounded
domain-sized frame (distinct-value grids, label/source pairs, day
spines) and does all pairwise work there — no corpus self-joins; the
corpus-sized stages are all partial-aggregatable groupBys.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import tables
from ..pinning import pin as _pin
from ..registry import query

# --------------------------------------------------------------------------
# Exact two-sample Kolmogorov-Smirnov over per-source doc lengths
# --------------------------------------------------------------------------


@query()
def ks_drift_audit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src_a, src_b, n_a, n_b, ks_num, ks): the EXACT two-sample KS
    statistic between every pair of sources on the ``n_chars``
    distribution — D = max over x of |F_a(x) - F_b(x)|, carried as
    the exact integer numerator ``ks_num = max |cum_a * n_b -
    cum_b * n_a|`` (cross-multiplied, no float CDFs) with
    ``ks = ks_num / (n_a * n_b)`` as the readable form. The standard
    ingest gate for "did this source's length profile move".

    Construction: one per-(source, value) count rollup, a
    source x pooled-distinct-value grid (left join + cumulative
    window per source — |sources| * |distinct values| rows, domain-
    sized), then a pair join ON the grid value. Scale: the corpus is
    touched once by the rollup; everything pairwise happens on the
    grid, and |sources| is a catalog-sized constant."""
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
        F.sum(F.coalesce("c", F.lit(0))).over(w).cast("bigint").alias("cum"),
    )
    a = cum.select(
        F.col("source").alias("src_a"),
        F.col("n_chars").alias("v"),
        F.col("n_tot").alias("n_a"),
        F.col("cum").alias("cum_a"),
    )
    b = cum.select(
        F.col("source").alias("src_b"),
        F.col("n_chars").alias("v"),
        F.col("n_tot").alias("n_b"),
        F.col("cum").alias("cum_b"),
    )
    diffs = a.join(b, "v").filter(F.col("src_a") < F.col("src_b")).select(
        "src_a",
        "src_b",
        "n_a",
        "n_b",
        F.abs(
            F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a")
        ).alias("d_num"),
    )
    return diffs.groupBy("src_a", "src_b", "n_a", "n_b").agg(
        F.max("d_num").cast("bigint").alias("ks_num")
    ).select(
        "src_a",
        "src_b",
        "n_a",
        "n_b",
        "ks_num",
        (
            F.col("ks_num").cast("double")
            / (F.col("n_a") * F.col("n_b")).cast("double")
        ).alias("ks"),
    )


KS_DRIFT_AUDIT_ORACLE = """
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
         CAST(sum(COALESCE(c.c, 0)) OVER (
           PARTITION BY s.source ORDER BY v.n_chars
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS cum
  FROM srcs s CROSS JOIN vals v
  LEFT JOIN counts c ON c.source = s.source AND c.n_chars = v.n_chars
),
diffs AS (
  SELECT a.source AS src_a, b.source AS src_b, a.n_tot AS n_a,
         b.n_tot AS n_b,
         abs(a.cum * b.n_tot - b.cum * a.n_tot) AS d_num
  FROM cum a JOIN cum b ON a.n_chars = b.n_chars AND a.source < b.source
)
SELECT src_a, src_b, n_a, n_b,
       CAST(max(d_num) AS BIGINT) AS ks_num,
       CAST(max(d_num) AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
         AS ks
FROM diffs GROUP BY 1, 2, 3, 4
"""


# --------------------------------------------------------------------------
# Quadratic-kernel MMD between embedding labels (random features)
# --------------------------------------------------------------------------

MMD_FEATURES = 6
_MMD_FP = 1_000_000
# Baked random directions (public JL/random-features construction;
# literals shared by both engines so the feature map is identical).
_MMD_W = np.random.default_rng(19).standard_normal((MMD_FEATURES, 64))


def _mmd_phi(vec: str, d: int, engine: str) -> str:
    """phi_d(x) = (w_d . x)^2 — an exact random feature of the
    degree-2 polynomial kernel (E[phi_d(x) phi_d(y)] recovers
    (x.y)^2-type terms); only *,+ so it is IEEE-identical across
    engines."""
    # float() before formatting: repr(np.float64(x)) renders as
    # 'np.float64(x)' under numpy >= 2.0, which would turn every baked
    # expression into a syntax error in both engines. repr(float(x))
    # is byte-identical to the old repr on the pinned numpy 1.26
    # (guarded by test_baked_literals_are_plain_floats).
    w = [float(x) for x in _MMD_W[d]]
    if engine == "spark":
        terms = " + ".join(
            f"cast(element_at({vec}, {i + 1}) as double) * "
            f"cast({w[i]!r} as double)"
            for i in range(64)
        )
    else:
        terms = " + ".join(
            f"CAST({vec}[{i + 1}] AS DOUBLE) * CAST({w[i]!r} AS DOUBLE)"
            for i in range(64)
        )
    return f"(({terms}) * ({terms}))"


@query()
def mmd_label_drift_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(label_a, label_b, n_a, n_b, mmd2): squared Maximum Mean
    Discrepancy between every pair of embedding labels under a
    degree-2 polynomial kernel, computed through MMD_FEATURES exact
    random features: mmd2 = sum_d (mean_a phi_d - mean_b phi_d)^2.
    The distribution-level "are these two label populations the same
    region of embedding space" test — the two-sample upgrade over
    comparing centroids (which a linear kernel would reduce to).

    Bit-stability: each phi value is fixed-pointed to
    floor(1e6 * phi) BIGINT before the per-label SUM (unordered float
    sums are banned from hashed outputs), so the means are ratios of
    exact integers and mmd2 is a fixed arithmetic expression on them.

    Scale: one corpus pass computes all MMD_FEATURES features inside
    codegen; the rollup is |labels| x MMD_FEATURES partials; the pair
    expansion runs on a |labels|^2-row frame."""
    emb = tables.spread(
        tables.table(spark, sf_dir, "embeddings"), "vec_id"
    )
    feats = emb.select(
        "label",
        *[
            F.floor(F.expr(_mmd_phi("embedding", d, "spark")) * _MMD_FP)
            .cast("bigint")
            .alias(f"p{d}")
            for d in range(MMD_FEATURES)
        ],
    )
    # pinned: both pair sides read this |labels|-row rollup — without
    # the pin each side re-runs the corpus-sized feature scan (plan
    # test asserts the single scan)
    per = _pin(
        feats.groupBy("label").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            *[
                F.sum(f"p{d}").cast("bigint").alias(f"s{d}")
                for d in range(MMD_FEATURES)
            ],
        )
    )
    a = per.select(
        [F.col("label").alias("label_a"), F.col("n").alias("n_a")]
        + [F.col(f"s{d}").alias(f"sa{d}") for d in range(MMD_FEATURES)]
    )
    b = per.select(
        [F.col("label").alias("label_b"), F.col("n").alias("n_b")]
        + [F.col(f"s{d}").alias(f"sb{d}") for d in range(MMD_FEATURES)]
    )
    diff_terms = None
    for d in range(MMD_FEATURES):
        t = (
            F.col(f"sa{d}").cast("double")
            / (F.col("n_a").cast("double") * F.lit(float(_MMD_FP)))
            - F.col(f"sb{d}").cast("double")
            / (F.col("n_b").cast("double") * F.lit(float(_MMD_FP)))
        )
        term = t * t
        diff_terms = term if diff_terms is None else diff_terms + term
    return (
        a.crossJoin(b)
        .filter(F.col("label_a") < F.col("label_b"))
        .select("label_a", "label_b", "n_a", "n_b", diff_terms.alias("mmd2"))
    )


def _mmd_oracle() -> str:
    feat_cols = ",\n         ".join(
        f"CAST(floor({_mmd_phi('embedding', d, 'duck')} * {_MMD_FP}) "
        f"AS BIGINT) AS p{d}"
        for d in range(MMD_FEATURES)
    )
    sums = ", ".join(
        f"CAST(sum(p{d}) AS BIGINT) AS s{d}" for d in range(MMD_FEATURES)
    )
    mmd = " + ".join(
        f"((CAST(a.s{d} AS DOUBLE) / (CAST(a.n AS DOUBLE) * {float(_MMD_FP)})"
        f" - CAST(b.s{d} AS DOUBLE) / (CAST(b.n AS DOUBLE) * "
        f"{float(_MMD_FP)})) * "
        f"(CAST(a.s{d} AS DOUBLE) / (CAST(a.n AS DOUBLE) * {float(_MMD_FP)})"
        f" - CAST(b.s{d} AS DOUBLE) / (CAST(b.n AS DOUBLE) * "
        f"{float(_MMD_FP)})))"
        for d in range(MMD_FEATURES)
    )
    return f"""
WITH feats AS (
  SELECT label,
         {feat_cols}
  FROM embeddings
),
per AS MATERIALIZED (
  SELECT label, CAST(count(*) AS BIGINT) AS n, {sums}
  FROM feats GROUP BY 1
)
SELECT a.label AS label_a, b.label AS label_b, a.n AS n_a, b.n AS n_b,
       {mmd} AS mmd2
FROM per a JOIN per b ON a.label < b.label
"""


MMD_LABEL_DRIFT_ORACLE = _mmd_oracle()


# --------------------------------------------------------------------------
# Two-proportion z-test (A/B conversion readout)
# --------------------------------------------------------------------------


@query()
def ab_proportion_test_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_a, n_b, conv_a, conv_b, z): the two-proportion z-statistic
    for "did arm B convert differently from arm A", with users
    assigned to arms by user_id parity (the deterministic stand-in
    for an experiment bucketing column) and conversion = the user has
    at least one purchase event. The pooled-variance form:
    z = (p_a - p_b) / sqrt(p(1-p)(1/n_a + 1/n_b)).

    All counts are exact integers; the z arithmetic is one fixed
    expression over them (sqrt is correctly rounded IEEE, safe in
    hashed output). Degenerate guards: emits z = 0 when either arm is
    empty or the pooled variance vanishes (all/none converted) —
    Spark ANSI would otherwise throw on the division.

    Scale: one per-user rollup (partial-aggregatable), then a 2-row
    frame."""
    ev = tables.table(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.max(
            (F.col("event_type") == "purchase").cast("int")
        ).alias("converted")
    )
    arms = users.groupBy(
        (F.col("user_id") % 2 == 0).cast("int").alias("arm_a")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("converted").cast("bigint").alias("conv"),
    )
    wide = arms.groupBy().agg(
        F.sum(F.when(F.col("arm_a") == 1, F.col("n"))).cast("bigint").alias("n_a"),
        F.sum(F.when(F.col("arm_a") == 0, F.col("n"))).cast("bigint").alias("n_b"),
        F.sum(F.when(F.col("arm_a") == 1, F.col("conv"))).cast("bigint").alias("conv_a"),
        F.sum(F.when(F.col("arm_a") == 0, F.col("conv"))).cast("bigint").alias("conv_b"),
    ).select(
        F.coalesce("n_a", F.lit(0)).alias("n_a"),
        F.coalesce("n_b", F.lit(0)).alias("n_b"),
        F.coalesce("conv_a", F.lit(0)).alias("conv_a"),
        F.coalesce("conv_b", F.lit(0)).alias("conv_b"),
    )
    p = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    var = (
        p
        * (1.0 - p)
        * (
            1.0 / F.col("n_a").cast("double")
            + 1.0 / F.col("n_b").cast("double")
        )
    )
    z = (
        F.col("conv_a").cast("double") / F.col("n_a").cast("double")
        - F.col("conv_b").cast("double") / F.col("n_b").cast("double")
    ) / F.sqrt(var)
    return wide.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        F.when(
            (F.col("n_a") > 0)
            & (F.col("n_b") > 0)
            & (F.col("conv_a") + F.col("conv_b") > 0)
            & (
                F.col("conv_a") + F.col("conv_b")
                < F.col("n_a") + F.col("n_b")
            ),
            z,
        )
        .otherwise(F.lit(0.0))
        .alias("z"),
    ).filter(F.col("n_a") + F.col("n_b") > 0)


AB_PROPORTION_TEST_ORACLE = """
WITH users AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS converted
  FROM events GROUP BY 1
),
wide AS (
  SELECT
    CAST(count(*) FILTER (WHERE user_id % 2 = 0) AS BIGINT) AS n_a,
    CAST(count(*) FILTER (WHERE user_id % 2 <> 0) AS BIGINT) AS n_b,
    CAST(COALESCE(sum(converted) FILTER (WHERE user_id % 2 = 0), 0)
      AS BIGINT) AS conv_a,
    CAST(COALESCE(sum(converted) FILTER (WHERE user_id % 2 <> 0), 0)
      AS BIGINT) AS conv_b
  FROM users
)
SELECT n_a, n_b, conv_a, conv_b,
       CASE WHEN n_a > 0 AND n_b > 0 AND conv_a + conv_b > 0
                 AND conv_a + conv_b < n_a + n_b THEN
         (CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
          - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
         / sqrt(
             (CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
             * (1.0 - CAST(conv_a + conv_b AS DOUBLE)
                      / CAST(n_a + n_b AS DOUBLE))
             * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))
           )
       ELSE 0.0 END AS z
FROM wide
WHERE n_a + n_b > 0
"""


# --------------------------------------------------------------------------
# Simpson's-paradox reversal scan (stratum slope vs pooled slope)
# --------------------------------------------------------------------------

_CENTS = "CAST(floor(value * 100) AS BIGINT)"


@query()
def simpson_reversal_audit_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(scope, n_days, slope_num, slope_den, reversed): the OLS slope
    of daily event value (cents) against day index, per event_type
    AND pooled — flagging strata whose trend sign CONTRADICTS the
    pooled trend (Simpson's reversal). A mixing decision made on the
    pooled series ("values are trending up, keep sampling this
    stream") can be wrong for every stratum simultaneously; this is
    the audit that catches it.

    Slopes are carried as the exact integer pair (slope_num,
    slope_den) of the OLS closed form n*Sxy - Sx*Sy over
    n*Sxx - Sx*Sx — day indices and daily cent totals are BIGINTs on
    a day-spine-sized frame, so no float sum ever forms and the sign
    comparison is exact. Scale: the only corpus-sized stage is the
    per-(type, day) rollup; the regression runs on |types| * |days|
    rows. (At a multi-decade 100 TB horizon the BIGINT products
    approach 2^63 only if daily cents exceed ~1e13; the production
    form would widen to 128-bit sums.)"""
    ev = tables.table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type"), F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.expr(_CENTS)).cast("bigint").alias("cents")
    )
    base = daily.groupBy().agg(F.min("day").alias("d0"))
    daily_i = daily.crossJoin(F.broadcast(base)).select(
        "event_type",
        F.datediff(F.col("day"), F.col("d0")).cast("bigint").alias("x"),
        "cents",
    )
    pooled = daily_i.groupBy("x").agg(
        F.sum("cents").cast("bigint").alias("cents")
    ).select(F.lit("pooled").alias("scope"), "x", "cents")
    strata = daily_i.select(
        F.col("event_type").alias("scope"), "x", "cents"
    )
    both = pooled.unionAll(strata)

    def _slope(df: DataFrame) -> DataFrame:
        return df.groupBy("scope").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            (
                F.count(F.lit(1)) * F.sum(F.col("x") * F.col("cents"))
                - F.sum("x") * F.sum("cents")
            ).cast("bigint").alias("slope_num"),
            (
                F.count(F.lit(1)) * F.sum(F.col("x") * F.col("x"))
                - F.sum("x") * F.sum("x")
            ).cast("bigint").alias("slope_den"),
        )
    slopes = _slope(both)
    psign = slopes.filter(F.col("scope") == "pooled").select(
        F.signum(F.col("slope_num").cast("double")).alias("pooled_sign")
    )
    return slopes.crossJoin(F.broadcast(psign)).select(
        "scope",
        "n_days",
        "slope_num",
        "slope_den",
        (
            (F.col("scope") != "pooled")
            & (
                F.signum(F.col("slope_num").cast("double"))
                * F.col("pooled_sign")
                < 0
            )
        ).alias("reversed"),
    )


SIMPSON_REVERSAL_AUDIT_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(sum({_CENTS}) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
),
base AS (SELECT min(day) AS d0 FROM daily),
daily_i AS (
  SELECT event_type, CAST(date_diff('day', b.d0, day) AS BIGINT) AS x,
         cents
  FROM daily, base b
),
both_scopes AS (
  SELECT 'pooled' AS scope, x, CAST(sum(cents) AS BIGINT) AS cents
  FROM daily_i GROUP BY 2
  UNION ALL
  SELECT event_type AS scope, x, cents FROM daily_i
),
slopes AS MATERIALIZED (
  SELECT scope,
         CAST(count(*) AS BIGINT) AS n_days,
         CAST(count(*) * sum(x * cents) - sum(x) * sum(cents) AS BIGINT)
           AS slope_num,
         CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS BIGINT)
           AS slope_den
  FROM both_scopes GROUP BY 1
)
SELECT s.scope, s.n_days, s.slope_num, s.slope_den,
       (s.scope <> 'pooled'
        AND sign(CAST(s.slope_num AS DOUBLE))
            * sign(CAST(p.slope_num AS DOUBLE)) < 0) AS reversed
FROM slopes s, (SELECT slope_num FROM slopes WHERE scope = 'pooled') p
"""


# --------------------------------------------------------------------------
# Johnson-Lindenstrauss projection fidelity audit
# --------------------------------------------------------------------------

JL_K = 16       # projected dimensionality
JL_PANEL = 20   # audit panel: vec_id < JL_PANEL -> 190 pairs
# Baked Rademacher sign matrix (64 x JL_K), shared by both engines.
_JL_S = (
    np.random.default_rng(7).integers(0, 2, (64, JL_K)) * 2 - 1
).astype(int)


def _jl_proj(vec: str, j: int, engine: str) -> str:
    """y_j = sum_i s_ij * x_i, fixed ascending element order."""
    parts = []
    for i in range(64):
        elem = (
            f"cast(element_at({vec}, {i + 1}) as double)"
            if engine == "spark"
            else f"CAST({vec}[{i + 1}] AS DOUBLE)"
        )
        parts.append(f"({_JL_S[i][j]} * {elem})")
    return "(" + " + ".join(parts) + ")"


@query()
def jl_projection_audit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(bucket, n_pairs): the distortion histogram of a Rademacher
    Johnson-Lindenstrauss projection 64 -> JL_K — for each pair in a
    JL_PANEL-vector audit panel, ratio = (||y_a - y_b||^2 / JL_K) /
    ||x_a - x_b||^2, bucketed at floor(10 * ratio). The JL lemma says
    the mass concentrates around bucket 10 (ratio 1.0); a spread-out
    histogram means JL_K is too small for the downstream ANN tier to
    trust projected distances.

    The sign matrix is baked into both engines as literals, every sum
    runs in fixed ascending element order, and the bucket floor is
    taken on identical IEEE doubles, so the histogram hashes exactly.
    Zero-distance pairs (identical vectors) are excluded on both
    sides before the ratio (ANSI division guard).

    Scale: the projection itself is the scalable artifact (one
    codegen pass, JL_K columns); the AUDIT runs on a fixed panel —
    O(JL_PANEL^2) pairs regardless of corpus size."""
    emb = tables.table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < JL_PANEL
    )
    panel = emb.select(
        "vec_id",
        "embedding",
        *[
            F.expr(_jl_proj("embedding", j, "spark")).alias(f"y{j}")
            for j in range(JL_K)
        ],
    )
    a = panel.select(
        [F.col("vec_id").alias("id_a"), F.col("embedding").alias("x_a")]
        + [F.col(f"y{j}").alias(f"ya{j}") for j in range(JL_K)]
    )
    b = panel.select(
        [F.col("vec_id").alias("id_b"), F.col("embedding").alias("x_b")]
        + [F.col(f"y{j}").alias(f"yb{j}") for j in range(JL_K)]
    )
    dx2 = F.expr(
        "aggregate(zip_with(x_a, x_b, (x, y) -> "
        "(cast(x as double) - cast(y as double)) * "
        "(cast(x as double) - cast(y as double))), "
        "cast(0 as double), (acc, t) -> acc + t)"
    )
    dy2 = None
    for j in range(JL_K):
        t = F.col(f"ya{j}") - F.col(f"yb{j}")
        term = t * t
        dy2 = term if dy2 is None else dy2 + term
    pairs = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("id_a") < F.col("id_b"))
        .select(dx2.alias("dx2"), dy2.alias("dy2"))
        .filter(F.col("dx2") > 0)
    )
    return (
        pairs.select(
            F.floor(
                10.0 * ((F.col("dy2") / F.lit(float(JL_K))) / F.col("dx2"))
            )
            .cast("bigint")
            .alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )


def _jl_oracle() -> str:
    ycols = ",\n         ".join(
        f"{_jl_proj('embedding', j, 'duck')} AS y{j}" for j in range(JL_K)
    )
    dx2 = " + ".join(
        f"((CAST(a.embedding[{i + 1}] AS DOUBLE) - "
        f"CAST(b.embedding[{i + 1}] AS DOUBLE)) * "
        f"(CAST(a.embedding[{i + 1}] AS DOUBLE) - "
        f"CAST(b.embedding[{i + 1}] AS DOUBLE)))"
        for i in range(64)
    )
    dy2 = " + ".join(
        f"((a.y{j} - b.y{j}) * (a.y{j} - b.y{j}))" for j in range(JL_K)
    )
    return f"""
WITH panel AS MATERIALIZED (
  SELECT vec_id, embedding,
         {ycols}
  FROM embeddings WHERE vec_id < {JL_PANEL}
),
pairs AS (
  SELECT ({dx2}) AS dx2, ({dy2}) AS dy2
  FROM panel a JOIN panel b ON a.vec_id < b.vec_id
)
SELECT CAST(floor(10.0 * ((dy2 / {float(JL_K)}) / dx2)) AS BIGINT)
         AS bucket,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM pairs
WHERE dx2 > 0
GROUP BY 1
"""


JL_PROJECTION_AUDIT_ORACLE = _jl_oracle()


# --------------------------------------------------------------------------
# Jensen-Shannon divergence: each source's token distribution vs the rest
# --------------------------------------------------------------------------

# ln(2) baked as the same Python float literal into both engines so the
# absent-token closed form (see below) is bit-identical cross-engine.
_LN2 = 0.6931471805599453

_JS_FP = 1_000_000_000_000  # 1e12 fixed-point scale for per-token terms


@query()
def js_source_drift_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_src, n_rest, rest_seen, core_fp, jsd): the
    Jensen-Shannon divergence between each source's unigram token
    distribution P and the distribution Q of the REST of the corpus —
    the symmetric, bounded (<= ln 2 nats) drift gate used to decide
    whether a source can share a tokenizer / mixture slot with the
    pool. Unlike KL it is finite when a token appears on one side
    only, which is the common case for per-source vocabularies.

    Exactness: only tokens PRESENT in the source carry a log term;
    for the (typically huge) set of rest-only tokens P(t)=0, so the
    pointwise contribution reduces to q*ln(2)/2 and the whole tail
    collapses to the closed form (ln2/2) * (1 - sum_{t in S} q_t),
    where sum q_t = rest_seen/n_rest is a ratio of exact BIGINTs.
    Each present-token term p*ln(2p/(p+q)) + q*ln(2q/(p+q)) is
    fixed-pointed (floor(1e12 * term), a BIGINT) per token BEFORE the
    unordered sum, the house rule for cross-engine hash stability
    (sum bound: 1e12 * ln2 per source, far under 2^63).

    Scale: ONE (source, token) count rollup touches the corpus
    (partial-aggregatable); the log work happens on that grid joined
    to the |vocab|-sized pooled counts (shuffle keyed by token) with
    the |sources|-row totals and the 1-row grand total broadcast.
    Nothing pairwise, nothing per-row beyond the token explode every
    lexical operator already pays."""
    from .textops import tokens_expr

    docs = tables.table(spark, sf_dir, "documents")
    occ = docs.select("source", F.explode(tokens_expr()).alias("tok"))
    # vocabulary-sized rollup pinned: four consumers (grid, pooled,
    # totals, grand) must NOT re-scan and re-explode the corpus each
    cnt = _pin(
        occ.groupBy("source", "tok").agg(
            F.count(F.lit(1)).cast("bigint").alias("c")
        )
    )
    pooled = cnt.groupBy("tok").agg(F.sum("c").cast("bigint").alias("ct"))
    totals = cnt.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_src")
    )
    grand = pooled.agg(F.sum("ct").cast("bigint").alias("n_all"))
    grid = (
        cnt.join(pooled, "tok")
        .join(F.broadcast(totals), "source")
        .crossJoin(F.broadcast(grand))
        .withColumn("rest_c", F.col("ct") - F.col("c"))
        .withColumn("n_rest", F.col("n_all") - F.col("n_src"))
    )
    p = F.col("c").cast("double") / F.col("n_src").cast("double")
    q = F.col("rest_c").cast("double") / F.col("n_rest").cast("double")
    term = p * F.log(F.lit(2.0) * p / (p + q)) + F.when(
        F.col("rest_c") > 0, q * F.log(F.lit(2.0) * q / (p + q))
    ).otherwise(F.lit(0.0))
    per_src = grid.filter(F.col("n_rest") > 0).withColumn(
        "term_fp",
        F.floor(F.lit(float(_JS_FP)) * term).cast("bigint"),
    ).groupBy("source").agg(
        F.max("n_src").alias("n_src"),
        F.max("n_rest").alias("n_rest"),
        F.sum("rest_c").cast("bigint").alias("rest_seen"),
        F.sum("term_fp").cast("bigint").alias("core_fp"),
    )
    return per_src.select(
        "source",
        "n_src",
        "n_rest",
        "rest_seen",
        "core_fp",
        (
            F.col("core_fp").cast("double") / F.lit(2.0 * _JS_FP)
            + F.lit(_LN2 / 2.0)
            * (F.col("n_rest") - F.col("rest_seen")).cast("double")
            / F.col("n_rest").cast("double")
        ).alias("jsd"),
    )


JS_SOURCE_DRIFT_ORACLE = f"""
WITH occ AS (
  SELECT source,
         unnest(list_filter(string_split_regex(lower(text), '\\W+'),
                            x -> x <> '')) AS tok
  FROM documents
),
cnt AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS c
  FROM occ GROUP BY 1, 2
),
pooled AS (
  SELECT tok, CAST(sum(c) AS BIGINT) AS ct FROM cnt GROUP BY 1
),
totals AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS n_src FROM cnt GROUP BY 1
),
grand AS (SELECT CAST(sum(ct) AS BIGINT) AS n_all FROM pooled),
grid AS (
  SELECT c.source, c.c, p.ct - c.c AS rest_c, t.n_src,
         g.n_all - t.n_src AS n_rest
  FROM cnt c
  JOIN pooled p USING (tok)
  JOIN totals t USING (source)
  CROSS JOIN grand g
),
terms AS (
  SELECT source, n_src, n_rest, rest_c,
         CAST(floor({float(_JS_FP)!r} * (
           (CAST(c AS DOUBLE) / CAST(n_src AS DOUBLE))
             * ln(2.0 * (CAST(c AS DOUBLE) / CAST(n_src AS DOUBLE))
                  / ((CAST(c AS DOUBLE) / CAST(n_src AS DOUBLE))
                     + (CAST(rest_c AS DOUBLE) / CAST(n_rest AS DOUBLE))))
           + CASE WHEN rest_c > 0 THEN
               (CAST(rest_c AS DOUBLE) / CAST(n_rest AS DOUBLE))
                 * ln(2.0 * (CAST(rest_c AS DOUBLE) / CAST(n_rest AS DOUBLE))
                      / ((CAST(c AS DOUBLE) / CAST(n_src AS DOUBLE))
                         + (CAST(rest_c AS DOUBLE)
                            / CAST(n_rest AS DOUBLE))))
             ELSE 0.0 END
         )) AS BIGINT) AS term_fp
  FROM grid
  WHERE n_rest > 0
),
per_src AS (
  SELECT source,
         max(n_src) AS n_src,
         max(n_rest) AS n_rest,
         CAST(sum(rest_c) AS BIGINT) AS rest_seen,
         CAST(sum(term_fp) AS BIGINT) AS core_fp
  FROM terms GROUP BY 1
)
SELECT source, n_src, n_rest, rest_seen, core_fp,
       CAST(core_fp AS DOUBLE) / {float(2 * _JS_FP)!r}
         + {_LN2 / 2.0!r}
           * CAST(n_rest - rest_seen AS DOUBLE) / CAST(n_rest AS DOUBLE)
         AS jsd
FROM per_src
"""


# --------------------------------------------------------------------------
# CUPED variance-reduced experiment readout over pre/post order spend
# --------------------------------------------------------------------------

# Pre-period/post-period boundary for the covariate split: orders
# strictly before this date form each customer's pre-experiment
# covariate X; orders on/after form the metric Y.
_CUPED_SPLIT = "1998-01-01"


@query()
def cuped_uplift_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(variant, n_users, x_mean, y_mean, theta, y_cuped): the CUPED
    (Controlled-experiment Using Pre-Existing Data) readout of an A/B
    split on customer order spend — variant by o_custkey parity (the
    deterministic bucketing stand-in the two-proportion test also
    uses), Y = post-period spend cents, X = pre-period spend cents,
    theta = cov(X,Y)/var(X) fitted on the POOLED population, and the
    adjusted mean y_cuped = mean(Y_v) - theta * (mean(X_v) -
    mean(X_pool)). CUPED is how large experiment platforms cut metric
    variance 30-70% without touching assignment; the adjusted means
    are the numbers a launch decision should read.

    Exactness: per-customer X/Y are exact BIGINT cent sums; the five
    pooled moments are exact DECIMAL(38,0) sums of BIGINT products
    (the zipf_fit pattern — x*y <= ~1e18 per customer and 38 digits
    absorb any plausible population); theta and the adjusted means
    are a fixed sequence of IEEE ops on those exact sums, bit-stable
    cross-engine. Guard: theta = 0 when var(X) = 0 (no pre-period
    signal), which degrades CUPED to the plain difference of means
    instead of dividing by zero under ANSI.

    Scale: one partial-aggregatable per-customer rollup over orders;
    moments are a 1-row frame broadcast onto the 2-row variant frame.
    Nothing else touches the fact table."""
    orders = tables.table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(
            F.when(
                F.col("o_orderdate") < F.lit(_CUPED_SPLIT).cast(
                    "timestamp"
                ),
                F.floor(F.col("o_totalprice") * 100).cast("bigint"),
            ).otherwise(F.lit(0))
        ).cast("bigint").alias("x"),
        F.sum(
            F.when(
                F.col("o_orderdate") >= F.lit(_CUPED_SPLIT).cast(
                    "timestamp"
                ),
                F.floor(F.col("o_totalprice") * 100).cast("bigint"),
            ).otherwise(F.lit(0))
        ).cast("bigint").alias("y"),
    ).select(
        (F.col("o_custkey") % 2).cast("int").alias("variant"), "x", "y"
    )
    mom = per_cust.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.expr("cast(x as decimal(19,0)) * x"))
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.sum(F.expr("cast(x as decimal(19,0)) * y"))
        .cast("decimal(38,0)")
        .alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    vx = n * sxx - sx * sx
    theta = F.when(vx > 0, (n * sxy - sx * sy) / vx).otherwise(F.lit(0.0))
    per_variant = per_cust.groupBy("variant").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("x").cast("bigint").alias("vx_sum"),
        F.sum("y").cast("bigint").alias("vy_sum"),
    )
    return per_variant.crossJoin(F.broadcast(mom)).select(
        "variant",
        "n_users",
        (F.col("vx_sum").cast("double") / F.col("n_users").cast("double"))
        .alias("x_mean"),
        (F.col("vy_sum").cast("double") / F.col("n_users").cast("double"))
        .alias("y_mean"),
        theta.alias("theta"),
        (
            F.col("vy_sum").cast("double") / F.col("n_users").cast("double")
            - theta
            * (
                F.col("vx_sum").cast("double")
                / F.col("n_users").cast("double")
                - sx / n
            )
        ).alias("y_cuped"),
    )


CUPED_UPLIFT_ORACLE = f"""
WITH per_cust AS (
  SELECT CAST(o_custkey % 2 AS INTEGER) AS variant,
         CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '{_CUPED_SPLIT}'
                       THEN CAST(floor(o_totalprice * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS x,
         CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '{_CUPED_SPLIT}'
                       THEN CAST(floor(o_totalprice * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS y
  FROM orders GROUP BY o_custkey
),
mom AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS DECIMAL(38,0)) AS sx,
         CAST(sum(y) AS DECIMAL(38,0)) AS sy,
         CAST(sum(CAST(x AS DECIMAL(19,0)) * x) AS DECIMAL(38,0)) AS sxx,
         CAST(sum(CAST(x AS DECIMAL(19,0)) * y) AS DECIMAL(38,0)) AS sxy
  FROM per_cust
),
pv AS (
  SELECT variant,
         CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(x) AS BIGINT) AS vx_sum,
         CAST(sum(y) AS BIGINT) AS vy_sum
  FROM per_cust GROUP BY variant
)
SELECT pv.variant, pv.n_users,
       CAST(pv.vx_sum AS DOUBLE) / CAST(pv.n_users AS DOUBLE) AS x_mean,
       CAST(pv.vy_sum AS DOUBLE) / CAST(pv.n_users AS DOUBLE) AS y_mean,
       CASE WHEN (CAST(m.n AS DOUBLE) * CAST(m.sxx AS DOUBLE)
                  - CAST(m.sx AS DOUBLE) * CAST(m.sx AS DOUBLE)) > 0
            THEN (CAST(m.n AS DOUBLE) * CAST(m.sxy AS DOUBLE)
                  - CAST(m.sx AS DOUBLE) * CAST(m.sy AS DOUBLE))
                 / (CAST(m.n AS DOUBLE) * CAST(m.sxx AS DOUBLE)
                    - CAST(m.sx AS DOUBLE) * CAST(m.sx AS DOUBLE))
            ELSE 0.0 END AS theta,
       CAST(pv.vy_sum AS DOUBLE) / CAST(pv.n_users AS DOUBLE)
         - (CASE WHEN (CAST(m.n AS DOUBLE) * CAST(m.sxx AS DOUBLE)
                       - CAST(m.sx AS DOUBLE) * CAST(m.sx AS DOUBLE)) > 0
                 THEN (CAST(m.n AS DOUBLE) * CAST(m.sxy AS DOUBLE)
                       - CAST(m.sx AS DOUBLE) * CAST(m.sy AS DOUBLE))
                      / (CAST(m.n AS DOUBLE) * CAST(m.sxx AS DOUBLE)
                         - CAST(m.sx AS DOUBLE) * CAST(m.sx AS DOUBLE))
                 ELSE 0.0 END)
           * (CAST(pv.vx_sum AS DOUBLE) / CAST(pv.n_users AS DOUBLE)
              - CAST(m.sx AS DOUBLE) / CAST(m.n AS DOUBLE)) AS y_cuped
FROM pv CROSS JOIN mom m
"""


# --------------------------------------------------------------------------
# Difference-in-differences readout on the same pre/post spend panel
# --------------------------------------------------------------------------


@query()
def did_uplift_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_a, n_b, pre_a, post_a, pre_b, post_b, uplift_naive, did):
    the difference-in-differences estimate over the SAME per-customer
    pre/post spend panel and parity bucketing as cuped_uplift —
    did = (post_b - pre_b) - (post_a - pre_a) on per-variant mean
    cents. DiD is the other classic pre-period correction: where
    CUPED regresses the covariate out (optimal under a stable
    linear relationship), DiD differences it out (robust when the
    two arms started from different baselines). Reading both against
    uplift_naive = post_b - post_a is the standard experiment
    sanity-triangle; a large naive-vs-DiD gap flags arm imbalance.

    Exactness: all six cell statistics are exact BIGINT cent sums /
    counts; the three readouts are fixed flop sequences on their
    double casts. Scale: one per-customer rollup over orders, then a
    2-row frame pivoted to one row."""
    orders = tables.table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(
            F.when(
                F.col("o_orderdate") < F.lit(_CUPED_SPLIT).cast(
                    "timestamp"
                ),
                F.floor(F.col("o_totalprice") * 100).cast("bigint"),
            ).otherwise(F.lit(0))
        ).cast("bigint").alias("x"),
        F.sum(
            F.when(
                F.col("o_orderdate") >= F.lit(_CUPED_SPLIT).cast(
                    "timestamp"
                ),
                F.floor(F.col("o_totalprice") * 100).cast("bigint"),
            ).otherwise(F.lit(0))
        ).cast("bigint").alias("y"),
    ).select(
        (F.col("o_custkey") % 2).cast("int").alias("variant"), "x", "y"
    )
    cells = per_cust.groupBy().agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0))
        .cast("bigint").alias("n_a"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0))
        .cast("bigint").alias("n_b"),
        F.sum(F.when(F.col("variant") == 0, F.col("x")).otherwise(0))
        .cast("bigint").alias("sx_a"),
        F.sum(F.when(F.col("variant") == 1, F.col("x")).otherwise(0))
        .cast("bigint").alias("sx_b"),
        F.sum(F.when(F.col("variant") == 0, F.col("y")).otherwise(0))
        .cast("bigint").alias("sy_a"),
        F.sum(F.when(F.col("variant") == 1, F.col("y")).otherwise(0))
        .cast("bigint").alias("sy_b"),
    )
    pre_a = F.col("sx_a").cast("double") / F.col("n_a").cast("double")
    pre_b = F.col("sx_b").cast("double") / F.col("n_b").cast("double")
    post_a = F.col("sy_a").cast("double") / F.col("n_a").cast("double")
    post_b = F.col("sy_b").cast("double") / F.col("n_b").cast("double")
    return cells.select(
        "n_a",
        "n_b",
        pre_a.alias("pre_a"),
        post_a.alias("post_a"),
        pre_b.alias("pre_b"),
        post_b.alias("post_b"),
        (post_b - post_a).alias("uplift_naive"),
        ((post_b - pre_b) - (post_a - pre_a)).alias("did"),
    )


DID_UPLIFT_ORACLE = f"""
WITH per_cust AS (
  SELECT CAST(o_custkey % 2 AS INTEGER) AS variant,
         CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '{_CUPED_SPLIT}'
                       THEN CAST(floor(o_totalprice * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS x,
         CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '{_CUPED_SPLIT}'
                       THEN CAST(floor(o_totalprice * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS y
  FROM orders GROUP BY o_custkey
),
cells AS (
  SELECT
    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
    CAST(sum(CASE WHEN variant = 0 THEN x ELSE 0 END) AS BIGINT) AS sx_a,
    CAST(sum(CASE WHEN variant = 1 THEN x ELSE 0 END) AS BIGINT) AS sx_b,
    CAST(sum(CASE WHEN variant = 0 THEN y ELSE 0 END) AS BIGINT) AS sy_a,
    CAST(sum(CASE WHEN variant = 1 THEN y ELSE 0 END) AS BIGINT) AS sy_b
  FROM per_cust
)
SELECT n_a, n_b,
       CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS pre_a,
       CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS post_a,
       CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS pre_b,
       CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS post_b,
       CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE)
         - CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS uplift_naive,
       (CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE)
        - CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE))
         - (CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE)
            - CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE)) AS did
FROM cells
"""


# --------------------------------------------------------------------------
# Covariate balance audit (standardized mean differences) for the A/B split
# --------------------------------------------------------------------------


@query()
def smd_balance_audit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(covariate, n_a, n_b, mean_a, mean_b, smd): the standardized
    mean difference of three pre-treatment covariates between the
    parity arms — per-customer pre-period spend cents, pre-period
    order count, and account balance cents — smd = (m_b - m_a) /
    sqrt((s_a^2 + s_b^2)/2), the covariate-balance audit every
    experiment readout should precede (|smd| < 0.1 is the standard
    'balanced' bar). An imbalanced covariate here is exactly the
    case where did_uplift and cuped_uplift diverge from the naive
    readout — this query tells you WHICH covariate drove that.

    Exactness: the covariate panel is exact BIGINTs; per-arm moments
    are exact DECIMAL(38,0) sums (squares via the zipf_fit
    cast-then-multiply pattern); smd is a fixed flop sequence with
    sample variances s^2 = (n*sxx - sx^2)/(n*(n-1)). Guard: smd = 0
    when both variances vanish.

    Scale: one per-customer rollup over orders joined to the
    customer dim (id-width), unpivoted in-plan to a 3x-row panel;
    moments are a |covariates| x 2 aggregate."""
    orders = tables.table(spark, sf_dir, "orders")
    cust = tables.table(spark, sf_dir, "customer")
    pre = F.col("o_orderdate") < F.lit(_CUPED_SPLIT).cast("timestamp")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(
            F.when(
                pre,
                F.floor(F.col("o_totalprice") * 100).cast("bigint"),
            ).otherwise(F.lit(0))
        ).cast("bigint").alias("pre_cents"),
        # pre-period only, matching pre_cents: counting post-split
        # orders here would make this a post-treatment covariate and
        # the balance readout would no longer measure what the
        # docstring claims (round-9 ADVICE fix)
        F.sum(F.when(pre, F.lit(1)).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("n_orders"),
    )
    base = cust.select(
        "c_custkey",
        (F.col("c_custkey") % 2).cast("int").alias("variant"),
        F.floor(F.col("c_acctbal") * 100).cast("bigint").alias(
            "bal_cents"
        ),
    ).join(
        per_cust, cust["c_custkey"] == per_cust["o_custkey"], "left"
    ).select(
        "variant",
        F.coalesce("pre_cents", F.lit(0)).cast("bigint").alias(
            "pre_cents"
        ),
        F.coalesce("n_orders", F.lit(0)).cast("bigint").alias(
            "n_orders"
        ),
        "bal_cents",
    )
    long = base.select(
        "variant",
        F.expr(
            "stack(3, 'pre_spend_cents', pre_cents, "
            "'n_orders', n_orders, 'acctbal_cents', bal_cents) "
            "as (covariate, x)"
        ),
    )
    mom = long.groupBy("covariate").agg(
        F.sum((F.col("variant") == 0).cast("bigint")).alias("n_a"),
        F.sum((F.col("variant") == 1).cast("bigint")).alias("n_b"),
        F.sum(F.when(F.col("variant") == 0, F.col("x")).otherwise(0))
        .cast("decimal(38,0)").alias("sxa"),
        F.sum(F.when(F.col("variant") == 1, F.col("x")).otherwise(0))
        .cast("decimal(38,0)").alias("sxb"),
        F.sum(
            F.when(
                F.col("variant") == 0,
                F.expr("cast(x as decimal(19,0)) * x"),
            ).otherwise(F.lit(0).cast("decimal(19,0)"))
        ).cast("decimal(38,0)").alias("sxxa"),
        F.sum(
            F.when(
                F.col("variant") == 1,
                F.expr("cast(x as decimal(19,0)) * x"),
            ).otherwise(F.lit(0).cast("decimal(19,0)"))
        ).cast("decimal(38,0)").alias("sxxb"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    ma = F.col("sxa").cast("double") / na
    mb = F.col("sxb").cast("double") / nb
    va = (
        na * F.col("sxxa").cast("double")
        - F.col("sxa").cast("double") * F.col("sxa").cast("double")
    ) / (na * (na - F.lit(1.0)))
    vb = (
        nb * F.col("sxxb").cast("double")
        - F.col("sxb").cast("double") * F.col("sxb").cast("double")
    ) / (nb * (nb - F.lit(1.0)))
    pooled = F.sqrt((va + vb) / F.lit(2.0))
    return mom.select(
        "covariate",
        "n_a",
        "n_b",
        ma.alias("mean_a"),
        mb.alias("mean_b"),
        F.when(pooled > 0, (mb - ma) / pooled).otherwise(
            F.lit(0.0)
        ).alias("smd"),
    )


SMD_BALANCE_AUDIT_ORACLE = f"""
WITH per_cust AS (
  SELECT o_custkey,
         CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '{_CUPED_SPLIT}'
                       THEN CAST(floor(o_totalprice * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS pre_cents,
         CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '{_CUPED_SPLIT}'
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1
),
base AS (
  SELECT CAST(c.c_custkey % 2 AS INTEGER) AS variant,
         COALESCE(p.pre_cents, 0) AS pre_cents,
         COALESCE(p.n_orders, 0) AS n_orders,
         CAST(floor(c.c_acctbal * 100) AS BIGINT) AS bal_cents
  FROM customer c LEFT JOIN per_cust p ON p.o_custkey = c.c_custkey
),
longp AS (
  SELECT variant, 'pre_spend_cents' AS covariate, pre_cents AS x
  FROM base
  UNION ALL
  SELECT variant, 'n_orders', n_orders FROM base
  UNION ALL
  SELECT variant, 'acctbal_cents', bal_cents FROM base
),
mom AS (
  SELECT covariate,
         CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_a,
         CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_b,
         CAST(sum(CASE WHEN variant = 0 THEN x ELSE 0 END)
              AS DECIMAL(38,0)) AS sxa,
         CAST(sum(CASE WHEN variant = 1 THEN x ELSE 0 END)
              AS DECIMAL(38,0)) AS sxb,
         CAST(sum(CASE WHEN variant = 0
                       THEN CAST(x AS DECIMAL(19,0)) * x
                       ELSE CAST(0 AS DECIMAL(19,0)) END)
              AS DECIMAL(38,0)) AS sxxa,
         CAST(sum(CASE WHEN variant = 1
                       THEN CAST(x AS DECIMAL(19,0)) * x
                       ELSE CAST(0 AS DECIMAL(19,0)) END)
              AS DECIMAL(38,0)) AS sxxb
  FROM longp GROUP BY 1
)
SELECT covariate, n_a, n_b,
       CAST(sxa AS DOUBLE) / CAST(n_a AS DOUBLE) AS mean_a,
       CAST(sxb AS DOUBLE) / CAST(n_b AS DOUBLE) AS mean_b,
       CASE WHEN sqrt((
           (CAST(n_a AS DOUBLE) * CAST(sxxa AS DOUBLE)
            - CAST(sxa AS DOUBLE) * CAST(sxa AS DOUBLE))
             / (CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) - 1.0))
           + (CAST(n_b AS DOUBLE) * CAST(sxxb AS DOUBLE)
              - CAST(sxb AS DOUBLE) * CAST(sxb AS DOUBLE))
             / (CAST(n_b AS DOUBLE) * (CAST(n_b AS DOUBLE) - 1.0))
         ) / 2.0) > 0
       THEN (CAST(sxb AS DOUBLE) / CAST(n_b AS DOUBLE)
             - CAST(sxa AS DOUBLE) / CAST(n_a AS DOUBLE))
            / sqrt((
                (CAST(n_a AS DOUBLE) * CAST(sxxa AS DOUBLE)
                 - CAST(sxa AS DOUBLE) * CAST(sxa AS DOUBLE))
                  / (CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) - 1.0))
                + (CAST(n_b AS DOUBLE) * CAST(sxxb AS DOUBLE)
                   - CAST(sxb AS DOUBLE) * CAST(sxb AS DOUBLE))
                  / (CAST(n_b AS DOUBLE) * (CAST(n_b AS DOUBLE) - 1.0))
              ) / 2.0)
       ELSE 0.0 END AS smd
FROM mom
"""


# --------------------------------------------------------------------------
# Page-Hinkley sequential drift detector (post-freeze: r11 material)
# --------------------------------------------------------------------------

# Baseline window (days) fixing the reference mean, tolerance delta
# (events/day) and alarm threshold lambda — integer by design so the
# whole detector stays in exact BIGINT space (see below).
_PH_BASELINE_DAYS = 7
_PH_DELTA = 25
_PH_LAMBDA = 500


@query()
def page_hinkley_drift_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, n_events, v_stat, ph_stat, alarm): the Page-Hinkley
    sequential change detector over the daily event-count series —
    the mean-shift twin of sprt_daily_decision (which reads a RATE):
    cumulative deviation from a baseline mean, minus its running
    minimum, alarming when the gap exceeds lambda. The monitor a
    pipeline runs on ingestion volume: CUSUM-family detectors flag a
    sustained level shift days before any fixed-window comparison,
    with one number of state per stream — the same O(1)-state
    property that makes the streaming twin trivial.

    Exactness (the whole detector is INTEGER arithmetic): with
    baseline mean m = S_b / b over the first b days, the textbook
    U_t = sum_{i<=t} (x_i - m - delta) is scaled by b into
    V_t = b*S_t - t*S_b - t*b*delta — exact BIGINT per row off the
    exact cumulative sum S_t (no accumulated float error, and immune
    to DuckDB's segment-tree vs Spark's running-fold summation order,
    which WOULD diverge on a float cumsum). PH_t = V_t - min_{i<=t}
    V_i and the alarm PH_t > b*lambda are exact comparisons. When the
    series is shorter than b days the baseline is the whole series
    (b_eff = min(b, n_days)).

    Scale: one partial-aggregatable per-day rollup touches events;
    everything after runs on the |days|-row spine (the house bounded
    single-partition window pattern)."""
    ev = tables.table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = daily.select(
        "day",
        F.col("x"),
        F.sum("x").over(w).cast("bigint").alias("s_t"),
        F.row_number().over(Window.orderBy("day")).cast("bigint").alias(
            "t"
        ),
    )
    base = cum.agg(
        F.least(
            F.lit(_PH_BASELINE_DAYS).cast("bigint"), F.max("t")
        ).alias("b_eff"),
    )
    s_b = (
        cum.crossJoin(F.broadcast(base))
        .filter(F.col("t") <= F.col("b_eff"))
        .agg(
            F.sum("x").cast("bigint").alias("s_b"),
            F.max("t").cast("bigint").alias("b"),
        )
    )
    v = (
        cum.crossJoin(F.broadcast(s_b))
        .select(
            "day",
            F.col("x").alias("n_events"),
            (
                F.col("b") * F.col("s_t")
                - F.col("t") * F.col("s_b")
                - F.col("t") * F.col("b") * F.lit(_PH_DELTA)
            ).cast("bigint").alias("v_stat"),
            F.col("b"),
        )
    )
    wmin = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return v.select(
        "day",
        "n_events",
        "v_stat",
        (F.col("v_stat") - F.min("v_stat").over(wmin))
        .cast("bigint")
        .alias("ph_stat"),
        (
            (F.col("v_stat") - F.min("v_stat").over(wmin))
            > F.col("b") * F.lit(_PH_LAMBDA)
        ).cast("int").alias("alarm"),
    )


PAGE_HINKLEY_DRIFT_ORACLE = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1
),
cum AS (
  SELECT day, x,
         CAST(sum(x) OVER (ORDER BY day) AS BIGINT) AS s_t,
         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
  FROM daily
),
base AS (
  SELECT least({_PH_BASELINE_DAYS}, max(t)) AS b_eff FROM cum
),
sb AS (
  SELECT CAST(sum(x) AS BIGINT) AS s_b, CAST(max(t) AS BIGINT) AS b
  FROM cum, base WHERE t <= b_eff
),
v AS (
  SELECT c.day, c.x AS n_events,
         CAST(s.b * c.s_t - c.t * s.s_b
              - c.t * s.b * {_PH_DELTA} AS BIGINT) AS v_stat,
         s.b
  FROM cum c CROSS JOIN sb s
)
SELECT day, n_events, v_stat,
       CAST(v_stat - min(v_stat) OVER (ORDER BY day) AS BIGINT)
         AS ph_stat,
       CAST(v_stat - min(v_stat) OVER (ORDER BY day)
            > b * {_PH_LAMBDA} AS INT) AS alarm
FROM v
"""


# --------------------------------------------------------------------------
# k-sample Anderson-Darling: omnibus source-distribution drift (r11)
# --------------------------------------------------------------------------


@query()
def ad_ksample_sources_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_total, n_groups, n_values, a2akn, mean_h0): the k-sample
    Anderson-Darling statistic (Scholz & Stephens 1987, the
    discrete/midrank form A^2_akN) of ``n_chars`` across ALL sources
    — the omnibus DISTRIBUTION-equality gate that completes the
    k-sample ladder: kruskal_wallis_sources tests location,
    brown_forsythe_lengths tests scale, A-D weights the CDF
    discrepancy by 1/(F(1-F)) and so catches the tail-only drift
    both miss (a source that only changed its length EXTREMES moves
    A-D first). Under H0 its mean is k-1 (emitted as mean_h0);
    curation gates threshold the ratio a2akn/(k-1).

    Exactness: with 2x-scaled half-corrected cumulative counts (B2_j
    = 2*cum_j - l_j pooled, M2_ij = 2*cum_ij - c_ij per source) each
    inner term is l_j * (N*M2_ij - n_i*B2_j)^2 / (B2_j*(2N - B2_j) -
    N*l_j) where the squared numerator routes through DECIMAL(38,0)
    (|X| <= 2N^2: the burrows_delta overflow class — ~1e9 rows is
    the shard boundary, same note as mann_whitney_audit) and every
    other factor is exact BIGINT; the per-term division is IEEE.
    Per-source inner sums fold the VALUE-SORTED term list and the
    outer sum folds the SOURCE-SORTED per-source list (the
    anova_source_lengths unordered-double-sum fix). Degenerate
    terms with zero denominator (a value holding the whole pooled
    tail) contribute 0 by the standard convention. The
    normalization sigma_N of the standardized T_kN needs O(N)
    harmonic sums on a row-sized spine, so this emits the RAW
    A^2_akN against its H0 mean instead (bounded-spine rule).

    Scale: one per-(source, value) rollup; the grid is |sources| x
    |distinct lengths| (domain-bounded); folds are <= |values| and
    |sources| long."""
    docs = tables.table(spark, sf_dir, "documents")
    counts = docs.groupBy("source", "n_chars").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    pooled = counts.groupBy("n_chars").agg(
        F.sum("c").cast("bigint").alias("l")
    )
    wcum = Window.orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, 0
    )
    pooled = pooled.select(
        "n_chars",
        "l",
        (F.lit(2) * F.sum("l").over(wcum) - F.col("l"))
        .cast("bigint")
        .alias("b2"),
    )
    tot = pooled.agg(
        F.sum("l").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_values"),
    )
    spine = pooled.select("n_chars")
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
    wsrc = (
        Window.partitionBy("source")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    grid = grid.select(
        "source",
        "n_chars",
        "c",
        (F.lit(2) * F.sum("c").over(wsrc) - F.col("c"))
        .cast("bigint")
        .alias("m2"),
    )
    gsz = counts.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_g")
    )
    terms = (
        grid.join(F.broadcast(pooled), "n_chars")
        .join(F.broadcast(gsz), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_chars",
            "n_g",
            "l",
            (F.col("n") * F.col("m2") - F.col("n_g") * F.col("b2"))
            .cast("bigint")
            .alias("x"),
            (
                F.col("b2") * (F.lit(2) * F.col("n") - F.col("b2"))
                - F.col("n") * F.col("l")
            )
            .cast("bigint")
            .alias("den"),
        )
    )
    per_src = (
        terms.groupBy("source")
        .agg(
            F.max("n_g").cast("bigint").alias("n_g"),
            F.expr(
                "aggregate(array_sort(collect_list(struct("
                "n_chars, l, x, den))), cast(0.0 as double),"
                " (acc, t) -> acc + (case when t.den > 0 then"
                " cast(t.l as double)"
                " * cast(cast(cast(t.x as decimal(19,0)) * t.x"
                "        as decimal(38,0)) as double)"
                " / cast(t.den as double) else 0.0 end))"
            ).alias("inner_sum"),
        )
        .select(
            "source",
            (
                F.col("inner_sum") / F.col("n_g").cast("double")
            ).alias("src_term"),
        )
    )
    agg = per_src.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(source,"
            " src_term))), cast(0.0 as double),"
            " (acc, t) -> acc + t.src_term)"
        ).alias("outer_sum"),
    )
    nd = F.col("n").cast("double")
    return agg.crossJoin(F.broadcast(tot)).select(
        F.col("n").alias("n_total"),
        "n_groups",
        "n_values",
        (
            (nd - F.lit(1.0))
            / nd
            * F.col("outer_sum")
            / nd
        ).alias("a2akn"),
        (F.col("n_groups") - F.lit(1)).cast("bigint").alias("mean_h0"),
    )


AD_KSAMPLE_SOURCES_ORACLE = """
WITH counts AS (
  SELECT source, n_chars, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2
),
pooled AS (
  SELECT n_chars, CAST(sum(c) AS BIGINT) AS l,
         CAST(2 * sum(sum(c)) OVER (ORDER BY n_chars) - sum(c)
              AS BIGINT) AS b2
  FROM counts GROUP BY n_chars
),
tot AS (
  SELECT CAST(sum(l) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS n_values
  FROM pooled
),
srcs AS (SELECT DISTINCT source FROM counts),
grid AS (
  SELECT s.source, p.n_chars,
         CAST(COALESCE(c.c, 0) AS BIGINT) AS c
  FROM pooled p CROSS JOIN srcs s
  LEFT JOIN counts c
    ON c.source = s.source AND c.n_chars = p.n_chars
),
cumgrid AS (
  SELECT source, n_chars, c,
         CAST(2 * sum(c) OVER (
             PARTITION BY source ORDER BY n_chars
           ) - c AS BIGINT) AS m2
  FROM grid
),
gsz AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS n_g FROM counts GROUP BY 1
),
terms AS (
  SELECT g.source, g.n_chars, z.n_g, p.l,
         CAST(t.n * g.m2 - z.n_g * p.b2 AS BIGINT) AS x,
         CAST(p.b2 * (2 * t.n - p.b2) - t.n * p.l AS BIGINT) AS den
  FROM cumgrid g
  JOIN pooled p ON p.n_chars = g.n_chars
  JOIN gsz z ON z.source = g.source
  CROSS JOIN tot t
),
per_src AS (
  SELECT source,
         list_reduce(list_prepend(0.0, list_transform(
           list({'n_chars': n_chars, 'l': l, 'x': x, 'den': den}
                ORDER BY n_chars),
           t -> CASE WHEN t.den > 0 THEN
                  CAST(t.l AS DOUBLE)
                  * CAST(CAST(CAST(t.x AS DECIMAL(19,0)) * t.x
                              AS DECIMAL(38,0)) AS DOUBLE)
                  / CAST(t.den AS DOUBLE)
                ELSE 0.0 END)), (a, b) -> a + b)
           / CAST(max(n_g) AS DOUBLE) AS src_term
  FROM terms GROUP BY source
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_groups,
         list_reduce(list_prepend(0.0, list_transform(
           list({'source': source, 'src_term': src_term}
                ORDER BY source),
           t -> t.src_term)), (a, b) -> a + b) AS outer_sum
  FROM per_src
)
SELECT t.n AS n_total, a.n_groups, t.n_values,
       (CAST(t.n AS DOUBLE) - 1.0) / CAST(t.n AS DOUBLE)
         * a.outer_sum / CAST(t.n AS DOUBLE) AS a2akn,
       CAST(a.n_groups - 1 AS BIGINT) AS mean_h0
FROM agg a CROSS JOIN tot t
"""

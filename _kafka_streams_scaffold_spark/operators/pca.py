"""Distributed PCA: the top principal component of the embedding
corpus by exact-integer covariance accumulation + a fixed-fold power
iteration — the "dominant direction" every embedding-space diagnostic
downstream wants (the anisotropy audit MEASURES the cone; this names
its axis, the vector mean-centering/ABTT-style post-processing would
remove).

Spark-first shape: the ONLY corpus-sized work is one pass that
fixed-points each component and emits per-row outer products into a
d^2-cell rollup (partial-aggregatable; at 100 TB this is the textbook
Gram-matrix accumulation — n*d^2 product terms map-side-combined into
4096 cells, no shuffle wider than the cell grid). Everything after —
covariance assembly, 8 power-iteration steps, the Rayleigh quotient —
runs on d- and d^2-sized frames.

Cross-engine exactness: raw components are fixed-pointed
(floor(1e4 * x), BIGINT) so the moment sums M_ij and S_i are EXACT
integers under any aggregation order; covariance cells combine them
with single IEEE ops; every matrix-vector product and norm in the
iteration is an ORDERED fold (Spark ``aggregate``/``zip_with``, DuckDB
``list_reduce``/``list_transform`` — identical add sequence), so after
8 identical steps both engines hold the bit-identical vector. The
power iteration is in the PLAN (chained aggregations), not the driver
— no collect anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import tables
from ..pinning import pin as _pin
from ..registry import query
from ..tables import EMBED_DIM as DIM

PCA_FP = 10_000     # per-component fixed-point scale
PCA_ITERS = 8       # power-iteration steps (converges fast at gap > ~2x)


def _cov_frames(spark: SparkSession, sf_dir: str):
    """(cov, n_row): the d^2-cell scaled covariance C'_ij =
    n*M_ij - S_i*S_j as one exact-integer corpus pass — the shared
    front half of pca_top_component and participation_ratio. Cell
    values are assembled with single IEEE ops on exact BIGINT moments,
    so every consumer sees bit-identical cells cross-engine."""
    emb = tables.spread(
        tables.table(spark, sf_dir, "embeddings"), "vec_id"
    )
    q = _pin(
        emb.select(
            F.expr(
                f"transform(embedding, x -> cast(floor({PCA_FP}.0 "
                "* cast(x as double)) as bigint))"
            ).alias("q")
        )
    )
    # d^2-cell exact moment matrix: one corpus pass, map-side combine
    prods = q.select(
        F.posexplode(
            F.expr(
                "flatten(transform(q, a -> transform(q, b -> a * b)))"
            )
        ).alias("idx", "p")
    )
    m_cells = prods.groupBy("idx").agg(
        F.sum("p").cast("bigint").alias("m")
    ).select(
        F.expr(f"idx div {DIM}").cast("int").alias("i"),
        (F.col("idx") % DIM).cast("int").alias("j"),
        "m",
    )
    s_cells = (
        q.select(F.posexplode("q").alias("i", "qi"))
        .groupBy("i")
        .agg(F.sum("qi").cast("bigint").alias("s"))
    )
    n_row = q.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    si = s_cells.select(F.col("i"), F.col("s").alias("s_i"))
    sj = s_cells.select(F.col("i").alias("j"), F.col("s").alias("s_j"))
    cov = (
        m_cells.join(F.broadcast(si), "i")
        .join(F.broadcast(sj), "j")
        .crossJoin(F.broadcast(n_row))
        .select(
            "i",
            "j",
            (
                F.col("n").cast("double") * F.col("m").cast("double")
                - F.col("s_i").cast("double") * F.col("s_j").cast("double")
            ).alias("c"),
        )
    )
    return cov, n_row


@query()
def pca_top_component_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(pos, loading, eigenvalue, explained_frac): the PCA_ITERS-step
    power-iteration estimate of the embedding covariance's dominant
    direction — one row per dimension with its loading, plus the
    Rayleigh-quotient "eigenvalue" of the reported axis and its share
    of the covariance trace. ``explained_frac`` IS the variance
    fraction along the reported direction regardless of convergence
    (the Rayleigh quotient of the iterate), which is the number the
    rogue-dimension / cone diagnostics consume; > ~0.3 on a 64-d
    space is the signature worth acting on.

    Convergence contract (honest): alignment with the true top
    eigenvector improves as (lambda2/lambda1)^PCA_ITERS — on a
    SPIKED spectrum 8 steps lock on; on a near-flat spectrum (the
    synthetic fixtures measure lambda2/lambda1 ~ 0.93) the iterate is
    a top-SUBSPACE blend, and the Rayleigh quotient still
    lower-bounds lambda_1 while upper-bounding the variance along
    any reported axis. Raising PCA_ITERS buys alignment linearly in
    plan depth; the default keeps the chained-aggregation plan
    shallow.

    See the module docstring for the scale/exactness contract. The
    eigenvalue is reported in quantized-covariance units and
    ``explained_frac`` is the unit-free number to read."""
    cov, _ = _cov_frames(spark, sf_dir)
    rows = _pin(
        cov.groupBy("i").agg(
            F.expr(
                "transform(array_sort(collect_list(struct(j, c))), "
                "x -> x.c)"
            ).alias("arr")
        )
    )
    trace = cov.filter(F.col("i") == F.col("j")).agg(
        F.expr(
            "aggregate(transform(array_sort(collect_list(struct(i, c))), "
            "x -> x.c), cast(0.0 as double), (a, x) -> a + x)"
        ).alias("tr")
    )
    # power iteration IN THE PLAN: v starts uniform, each step is a
    # fold-form mat-vec + L2 normalization on d-sized frames
    # Round-11 reshape (guide §2.4, the markov/power_iteration
    # pattern): the iteration used to be PCA_ITERS chained
    # crossJoin + collect_list aggregation rounds over the pinned
    # 64-row covariance frame — ~2 tiny stages per round of pure
    # scheduling overhead. The i-sorted covariance rows collapse into
    # ONE checkpointed row (bound VALUE — collapsed projections would
    # otherwise re-evaluate the matrix expression per element access)
    # and the matvec+normalize steps run as a single higher-order
    # fold. Per-element arithmetic is expression-for-expression the
    # old one (ascending zip_with dot folds, per-element /sqrt(sum
    # of squares) with the norm recomputed per element exactly as the
    # old transform did), so the output is bit-identical
    # (oracle-checked).
    one = _pin(
        rows.agg(
            F.expr(
                "transform(array_sort(collect_list(struct(i, arr))), "
                "x -> x.arr)"
            ).alias("mat")
        )
    )
    fold = (
        f"aggregate(sequence(1, {PCA_ITERS}), "
        f"transform(sequence(1, {DIM}), x -> cast(1.0 as double) "
        f"/ cast({DIM} as double)), "
        "(vv, k) -> aggregate("
        "array(transform(mat, row -> aggregate("
        "zip_with(row, vv, (a, b) -> a * b), "
        "cast(0.0 as double), (acc, t) -> acc + t))), "
        "cast(array() as array<double>), "
        "(zz, warr) -> transform(warr, x -> x / sqrt(aggregate("
        "transform(warr, y -> y * y), cast(0.0 as double), "
        "(a, t) -> a + t)))))"
    )
    one = one.select(F.col("mat"), F.expr(fold).alias("v"))
    # final matvec + Rayleigh quotient on the SAME value-bound row:
    # w_fin ordered by i (mat order), lam folds (w_i * v_i) ascending
    # — the exact order the old i-sorted collect_list fold used.
    one = one.select(
        F.col("v"),
        F.expr(
            "aggregate(zip_with("
            "transform(mat, row -> aggregate("
            "zip_with(row, v, (a, b) -> a * b), "
            "cast(0.0 as double), (acc, t) -> acc + t)), "
            "v, (w, x) -> w * x), "
            "cast(0.0 as double), (a, x) -> a + x)"
        ).alias("lam"),
    )
    return (
        one.crossJoin(F.broadcast(trace))
        .select(
            F.posexplode("v").alias("pos", "loading"),
            F.col("lam").alias("eigenvalue"),
            F.when(F.col("tr") > 0, F.col("lam") / F.col("tr"))
            .otherwise(F.lit(0.0))
            .alias("explained_frac"),
        )
        .select("pos", "loading", "eigenvalue", "explained_frac")
    )


def _pca_oracle() -> str:
    it_ctes = []
    prev = "it0"
    for k in range(1, PCA_ITERS + 1):
        it_ctes.append(f"""
w{k} AS MATERIALIZED (
  SELECT r.i,
         list_reduce(list_transform(generate_series(1, {DIM}),
             t -> r.arr[t] * v.v[t]), (a, b) -> a + b) AS w
  FROM rows_ r, {prev} v
),
it{k} AS MATERIALIZED (
  SELECT list_transform(wl.l, x -> x / sqrt(nrm.s2)) AS v
  FROM (SELECT list(w ORDER BY i) AS l FROM w{k}) wl,
       (SELECT list_reduce(list_transform(list(w ORDER BY i),
            x -> x * x), (a, b) -> a + b) AS s2 FROM w{k}) nrm
)""".strip())
        prev = f"it{k}"
    its = ",\n".join(it_ctes)
    return f"""
WITH q AS MATERIALIZED (
  SELECT list_transform(embedding,
           x -> CAST(floor({PCA_FP}.0 * CAST(x AS DOUBLE)) AS BIGINT))
         AS q
  FROM embeddings
),
m_cells AS MATERIALIZED (
  SELECT gi.i AS i, gj.j AS j,
         CAST(sum(q.q[gi.i] * q.q[gj.j]) AS BIGINT) AS m
  FROM q,
       LATERAL (SELECT unnest(generate_series(1, {DIM})) AS i) gi,
       LATERAL (SELECT unnest(generate_series(1, {DIM})) AS j) gj
  GROUP BY 1, 2
),
s_cells AS (
  SELECT gi.i AS i, CAST(sum(q.q[gi.i]) AS BIGINT) AS s
  FROM q, LATERAL (SELECT unnest(generate_series(1, {DIM})) AS i) gi
  GROUP BY 1
),
nrow AS (SELECT CAST(count(*) AS BIGINT) AS n FROM q),
cov AS MATERIALIZED (
  SELECT m.i, m.j,
         CAST(nrow.n AS DOUBLE) * CAST(m.m AS DOUBLE)
           - CAST(si.s AS DOUBLE) * CAST(sj.s AS DOUBLE) AS c
  FROM m_cells m
  JOIN s_cells si ON si.i = m.i
  JOIN s_cells sj ON sj.i = m.j
  CROSS JOIN nrow
),
rows_ AS MATERIALIZED (
  SELECT i, list(c ORDER BY j) AS arr FROM cov GROUP BY i
),
trace AS (
  SELECT list_reduce(list_transform(list(c ORDER BY i), x -> x),
                     (a, b) -> a + b) AS tr
  FROM cov WHERE i = j
),
it0 AS (
  SELECT list_transform(generate_series(1, {DIM}),
           x -> CAST(1.0 AS DOUBLE) / CAST({DIM} AS DOUBLE)) AS v
),
{its},
wfin AS MATERIALIZED (
  SELECT r.i,
         list_reduce(list_transform(generate_series(1, {DIM}),
             t -> r.arr[t] * v.v[t]), (a, b) -> a + b) AS w
  FROM rows_ r, it{PCA_ITERS} v
),
lam2 AS (
  SELECT list_reduce(
           list_transform(generate_series(1, {DIM}),
             t -> wl.l[t] * v.v[t]), (a, b) -> a + b) AS lam
  FROM (SELECT list(w ORDER BY i) AS l FROM wfin) wl, it{PCA_ITERS} v
)
SELECT CAST(g.i - 1 AS INT) AS pos,
       v.v[g.i] AS loading,
       l.lam AS eigenvalue,
       CASE WHEN t.tr > 0 THEN l.lam / t.tr ELSE 0.0 END
         AS explained_frac
FROM it{PCA_ITERS} v,
     LATERAL (SELECT unnest(generate_series(1, {DIM})) AS i) g,
     lam2 l, trace t
"""


PCA_TOP_COMPONENT_ORACLE = _pca_oracle()


# --------------------------------------------------------------------------
# Participation ratio: effective dimensionality without eigendecomposition
# --------------------------------------------------------------------------


@query()
def participation_ratio_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n, dim, trace_c, trace_c2, participation_ratio, effective_frac):
    the embedding spectrum's participation ratio PR = trace(C)^2 /
    trace(C^2) = (sum lambda)^2 / sum lambda^2 — the standard
    "effective number of dimensions" readout, computed WITHOUT any
    eigendecomposition: trace(C) is the diagonal sum and trace(C^2) =
    ||C||_F^2 is the sum of squared cells, both available directly
    from the d^2 covariance rollup. PR = d for an isotropic cloud, ~1
    for a rank-1 cone; with anisotropy (cone direction strength),
    Two-NN (local intrinsic dim) and pca_top_component (the axis),
    this completes the embedding-geometry tier with the global
    spectral-flatness number. Scale invariant: the n^2 factor in the
    C' = n*M - S S^T cells cancels in the ratio.

    Exactness: the moments are exact integers (shared _cov_frames
    pass); trace and Frobenius sums are ORDERED folds over the d-
    (resp. d^2-) cell grid (collect_list sorted by index, the
    pca_top_component discipline), so both engines add the same
    doubles in the same sequence and the outputs hash bit-exactly.

    Scale: ONE corpus pass into the 4096-cell rollup; everything
    after is d^2-sized."""
    cov, n_row = _cov_frames(spark, sf_dir)
    tr = cov.filter(F.col("i") == F.col("j")).agg(
        F.expr(
            "aggregate(transform(array_sort(collect_list(struct(i, c))), "
            "x -> x.c), cast(0.0 as double), (a, x) -> a + x)"
        ).alias("trace_c")
    )
    fro = cov.agg(
        F.expr(
            "aggregate(transform(array_sort(collect_list(struct(i, j, c))), "
            "x -> x.c * x.c), cast(0.0 as double), (a, x) -> a + x)"
        ).alias("trace_c2")
    )
    pr = F.when(
        F.col("trace_c2") > 0,
        F.col("trace_c") * F.col("trace_c") / F.col("trace_c2"),
    ).otherwise(F.lit(0.0))
    return (
        n_row.crossJoin(F.broadcast(tr))
        .crossJoin(F.broadcast(fro))
        .select(
            "n",
            F.lit(DIM).cast("int").alias("dim"),
            "trace_c",
            "trace_c2",
            pr.alias("participation_ratio"),
            (pr / F.lit(float(DIM))).alias("effective_frac"),
        )
    )


PARTICIPATION_RATIO_ORACLE = f"""
WITH q AS MATERIALIZED (
  SELECT list_transform(embedding,
           x -> CAST(floor({PCA_FP}.0 * CAST(x AS DOUBLE)) AS BIGINT))
         AS q
  FROM embeddings
),
m_cells AS MATERIALIZED (
  SELECT gi.i AS i, gj.j AS j,
         CAST(sum(q.q[gi.i] * q.q[gj.j]) AS BIGINT) AS m
  FROM q,
       LATERAL (SELECT unnest(generate_series(1, {DIM})) AS i) gi,
       LATERAL (SELECT unnest(generate_series(1, {DIM})) AS j) gj
  GROUP BY 1, 2
),
s_cells AS (
  SELECT gi.i AS i, CAST(sum(q.q[gi.i]) AS BIGINT) AS s
  FROM q, LATERAL (SELECT unnest(generate_series(1, {DIM})) AS i) gi
  GROUP BY 1
),
nrow AS (SELECT CAST(count(*) AS BIGINT) AS n FROM q),
cov AS MATERIALIZED (
  SELECT m.i, m.j,
         CAST(nrow.n AS DOUBLE) * CAST(m.m AS DOUBLE)
           - CAST(si.s AS DOUBLE) * CAST(sj.s AS DOUBLE) AS c
  FROM m_cells m
  JOIN s_cells si ON si.i = m.i
  JOIN s_cells sj ON sj.i = m.j
  CROSS JOIN nrow
),
tr AS (
  SELECT list_reduce(list_transform(list(c ORDER BY i), x -> x),
                     (a, b) -> a + b) AS trace_c
  FROM cov WHERE i = j
),
fro AS (
  SELECT list_reduce(list_transform(list(c ORDER BY i, j), x -> x * x),
                     (a, b) -> a + b) AS trace_c2
  FROM cov
)
SELECT nrow.n, CAST({DIM} AS INTEGER) AS dim,
       tr.trace_c, fro.trace_c2,
       CASE WHEN fro.trace_c2 > 0
            THEN tr.trace_c * tr.trace_c / fro.trace_c2
            ELSE 0.0 END AS participation_ratio,
       CASE WHEN fro.trace_c2 > 0
            THEN tr.trace_c * tr.trace_c / fro.trace_c2
                 / CAST({DIM} AS DOUBLE)
            ELSE 0.0 END AS effective_frac
FROM nrow, tr, fro
"""

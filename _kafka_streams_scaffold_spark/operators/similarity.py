"""Similarity search over embedding columns (``embeddings.embedding``,
``array<float>`` of fixed dim 64).

Three operators:

- ``ann_topk``: brute-force cosine top-k for a (small) query set —
  the correctness baseline. The query set is broadcast; the big side
  streams through a nested-loop join, so the cost is one scan of the
  corpus per batch of queries, no shuffle of the corpus.
- ``ivf_near_dup``: all-pairs cosine >= tau *within a coarse
  partition* (here the ``label`` column standing in for an IVF/k-means
  cell id). This is the scale path for near-dup: a cluster-id
  blocking key turns O(n^2) into sum over cells of O(|cell|^2), and
  each cell's pairs co-locate in one shuffle partition.
- ``lsh_ann``: random-hyperplane (SRP) bucketed top-k — candidates
  only within matching sign-buckets. Approximate by construction
  (recall < 1), so it is registered rows-only, with the exact
  ``ann_topk`` as its quality reference.

Determinism contract for the oracle-checked ops: both sides sum the
64 products left-to-right — Spark via ``aggregate(zip_with(...))``
(a sequential fold), DuckDB via an explicit left-associated 64-term
sum. IEEE doubles added in the same order are bit-identical, so no
rounding tolerance is needed anywhere. The fold form matters for
performance: a 64-term unrolled expression blows past janino's 64KB
method limit, disabling whole-stage codegen for the entire stage
(measured 8.7x slower than the fold at sf0.1).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import tables
from ..functions.xhash import hash60_duck, hash60_spark
from ..pinning import pin as _pin
from ..pinning import shared_pin as _shared_pin
from ..registry import query
from ..tables import EMBED_DIM as DIM  # load-time quarantine owns the dim
TOP_K = 5
N_QUERIES = 10
NEAR_DUP_COSINE = 0.3


def _dot_sql(a: str, b: str, engine: str) -> str:
    if engine == "spark":
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> "
            "cast(x as double) * cast(y as double)), "
            "cast(0 as double), (acc, t) -> acc + t)"
        )
    terms = [
        f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)"
        for i in range(1, DIM + 1)
    ]
    return "(" + " + ".join(terms) + ")"


def _norm_sql(a: str, engine: str) -> str:
    return f"sqrt({_dot_sql(a, a, engine)})"


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    return df.withColumn("norm", F.expr(_norm_sql(vec_col, "spark")))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings spread across cores BEFORE the norm computation.

    A broadcast join needs no co-partitioning, so its parallelism is
    whatever the probe side's scan produced — for a single-row-group
    parquet file that is ONE task doing the entire O(n*m) pair
    computation (measured 7s single-core at sf0.1). Spreading by
    vec_id first also parallelizes the per-row norm/bucket arithmetic;
    at cluster scale the scan already has many splits and
    ``tables.spread`` is a no-op."""
    return with_norm(
        tables.spread(tables.table(spark, sf_dir, "embeddings"), "vec_id")
    )


@query(family="sim")
def ann_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for query vectors vec_id < 10.

    Round-11: the exact reference list is a ``sim.ann_topk`` shared
    pin — ten registered queries consume it (every recall/fusion/MRR
    audit measures against this table), and within the bench's
    embedding family block it materializes once instead of
    once per auditor (the ``_tier_pairs`` hoist pattern from r10)."""

    def build() -> DataFrame:
        emb = _emb(spark, sf_dir)
        queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_vec"),
            F.col("norm").alias("q_norm"),
        )
        corpus = emb.select(
            F.col("vec_id").alias("n_id"),
            F.col("embedding").alias("n_vec"),
            F.col("norm").alias("n_norm"),
        )
        cosine = F.expr(_dot_sql("q_vec", "n_vec", "spark")) / (
            F.col("q_norm") * F.col("n_norm")
        )
        scored = (
            corpus.crossJoin(F.broadcast(queries))
            .filter(F.col("q_id") != F.col("n_id"))
            .select("q_id", "n_id", cosine.alias("cosine"))
        )
        w = Window.partitionBy("q_id").orderBy(
            F.col("cosine").desc(), F.col("n_id")
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K)
        )

    return _shared_pin(
        ("sim.ann_topk", tables.table(spark, sf_dir, "embeddings"), N_QUERIES, TOP_K),
        build,
    )


ANN_TOPK_ORACLE = f"""
WITH normed AS (
  SELECT vec_id, embedding, {_norm_sql('embedding', 'duck')} AS norm
  FROM embeddings
),
scored AS (
  SELECT q.vec_id AS q_id, n.vec_id AS n_id,
         {_dot_sql('q.embedding', 'n.embedding', 'duck')} / (q.norm * n.norm)
             AS cosine
  FROM normed q
  CROSS JOIN normed n
  WHERE q.vec_id < {N_QUERIES} AND q.vec_id <> n.vec_id
)
SELECT q_id, n_id, cosine, rank FROM (
  SELECT q_id, n_id, cosine,
         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
  FROM scored
)
WHERE rank <= {TOP_K}
"""


IVF_TARGET_CELL = 100
_SUB_SEED = 11


def ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding rows tagged with their bounded IVF cell.

    The blocking key is the *quantizer* assignment (``ivf_assign``),
    not the raw ``label`` column: cell membership is nearest-centroid,
    the thing that actually correlates with cosine proximity. Cells
    that outgrow ``IVF_TARGET_CELL`` are split into
    ``ceil(n / target)`` deterministic hash sub-cells (md5 of vec_id,
    identical on both engines), so per-cell pair work is bounded at
    ~target^2/2 regardless of corpus size — the standard recall/cost
    trade every sharded ANN index makes. At real scale you'd *also*
    grow k with the corpus (k ~ n / target); the hash split is the
    backstop that keeps any one cell from going quadratic either way.
    """
    emb = _emb(spark, sf_dir)
    assign = ivf_assign_query(spark, sf_dir).select("vec_id", "assigned_label")
    sizes = assign.groupBy("assigned_label").agg(
        F.count(F.lit(1)).alias("cell_n")
    )
    sub_hash = hash60_spark("cast(vec_id as string)", _SUB_SEED)
    return (
        emb.join(assign, "vec_id")
        .join(F.broadcast(sizes), "assigned_label")
        .withColumn(
            "n_sub",
            F.expr(f"(cell_n + {IVF_TARGET_CELL - 1}) div {IVF_TARGET_CELL}"),
        )
        .withColumn("sub_id", F.expr(f"({sub_hash}) % n_sub"))
    )


@query(family="sim")
def ivf_near_dup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate vectors (cosine >= 0.3) within each quantizer
    cell.

    The self-join key is (assigned_label, sub_id), so Spark shuffles
    each bounded cell to one partition and the quadratic work is
    per-cell only. Join strategy is left to Catalyst: under the
    broadcast threshold the b-side broadcasts; beyond it both sides
    shuffle on the cell key and AQE splits any residual skew."""
    # Pinned: the cells table (vec, norm, cell key) feeds both join
    # sides; without it the centroid-train + assign subtree re-runs
    # three times (sizes + each side). Round-11: the verified pair
    # list itself is a ``sim.near_dup_edges`` shared pin — the
    # embedding CC clustering tier consumes exactly this table, so
    # within the bench's embedding family the cell self-join runs
    # once, not once per consumer.
    def build() -> DataFrame:
        cells = _pin(ivf_cells(spark, sf_dir))
        a = cells.select(
            F.col("assigned_label").alias("label"),
            "sub_id",
            F.col("vec_id").alias("vec_a"),
            F.col("embedding").alias("va"),
            F.col("norm").alias("na"),
        )
        b = cells.select(
            F.col("assigned_label").alias("label"),
            "sub_id",
            F.col("vec_id").alias("vec_b"),
            F.col("embedding").alias("vb"),
            F.col("norm").alias("nb"),
        )
        cosine = F.expr(_dot_sql("va", "vb", "spark")) / (
            F.col("na") * F.col("nb")
        )
        return (
            a.join(b, ["label", "sub_id"])
            .filter(F.col("vec_a") < F.col("vec_b"))
            .select("label", "vec_a", "vec_b", cosine.alias("cosine"))
            .filter(F.col("cosine") >= NEAR_DUP_COSINE)
        )

    return _shared_pin(
        (
            "sim.near_dup_edges",
            tables.table(spark, sf_dir, "embeddings"),
            IVF_TARGET_CELL,
            NEAR_DUP_COSINE,
        ),
        build,
    )


# --------------------------------------------------------------------------
# Dynamic-k sub-quantizer (cells track corpus size, data-aware splits)
# --------------------------------------------------------------------------

_DYN_SEED = 23


@query(family="sim")
def dyn_ivf_assign_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical quantizer assignment with DYNAMIC cell count:
    within each coarse cell, ``ceil(cell_n / IVF_TARGET_CELL)``
    sub-centroids are selected (the cell's vectors with the smallest
    deterministic hash — a uniform, engine-identical seeding) and every
    vector is assigned to its nearest sub-centroid by squared
    euclidean distance.

    This is the data-aware upgrade of ``ivf_cells``'s hash sub-split:
    the hash split bounds cell size but draws ARBITRARY boundaries
    (near neighbors can land in different sub-cells regardless of
    geometry); nearest-seed assignment keeps sub-cells geometrically
    coherent while the seed count — and therefore the total cell
    count — grows linearly with the corpus, k = sum over coarse cells
    of ceil(cell_n / target) ~ n / target.

    100 TB posture: per-vector work is |seeds in its coarse cell| ~
    cell_n / target comparisons (the candidate join keys on the coarse
    cell, never a global cross join); the seed-ranking window sorts
    each coarse cell once — at extreme cell sizes you would rank a
    deterministic hash-sample instead, which changes nothing below.
    SCALE.md probes that cells ∝ n while max cell size stays flat.
    Determinism: fold-form dot products, ties broken on (dist2, seed
    id) — fully oracle-checked, no tolerance.

    Round-11: a ``sim.dyn_assign`` shared pin — the kNN edge list and
    this registered query both read it; one build per family scope."""

    def build() -> DataFrame:
        emb = _emb(spark, sf_dir)
        coarse = ivf_assign_query(spark, sf_dir).select(
            "vec_id", F.col("assigned_label").alias("coarse_label")
        )
        h = hash60_spark("cast(vec_id as string)", _DYN_SEED)
        nodes = _pin(
            emb.join(coarse, "vec_id").withColumn("h", F.expr(h))
        )
        sizes = nodes.groupBy("coarse_label").agg(
            F.count(F.lit(1)).alias("cell_n")
        )
        w_seed = Window.partitionBy("coarse_label").orderBy("h", "vec_id")
        seeds = (
            nodes.join(F.broadcast(sizes), "coarse_label")
            .withColumn("sr", F.row_number().over(w_seed))
            .filter(
                F.col("sr")
                <= F.expr(
                    f"(cell_n + {IVF_TARGET_CELL - 1}) div {IVF_TARGET_CELL}"
                )
            )
            .select(
                "coarse_label",
                F.col("vec_id").alias("s_id"),
                F.col("embedding").alias("s_vec"),
            )
        )
        dot_vv = F.expr(_dot_sql("embedding", "embedding", "spark"))
        dot_ss = F.expr(_dot_sql("s_vec", "s_vec", "spark"))
        dot_vs = F.expr(_dot_sql("embedding", "s_vec", "spark"))
        w_near = Window.partitionBy("vec_id").orderBy("dist2", "s_id")
        return (
            nodes.join(seeds, "coarse_label")
            .withColumn("dist2", dot_vv - 2 * dot_vs + dot_ss)
            .withColumn("rn", F.row_number().over(w_near))
            .filter(F.col("rn") == 1)
            .select(
                "vec_id",
                "coarse_label",
                F.col("s_id").alias("sub_seed"),
                "dist2",
            )
        )

    return _shared_pin(
        ("sim.dyn_assign", tables.table(spark, sf_dir, "embeddings"), IVF_TARGET_CELL),
        build,
    )


# DYN_IVF_ASSIGN_ORACLE is defined after _DUCK_ASSIGN_CTES below
# (module-level f-strings evaluate at import, in file order).
_DYN_ORACLE_TEMPLATE = f"""
WITH {{assign_ctes}},
nodes AS (
  SELECT e.vec_id, e.embedding, a.c_label AS coarse_label,
         {hash60_duck('CAST(e.vec_id AS VARCHAR)', _DYN_SEED)} AS h
  FROM embeddings e JOIN assign a ON a.vec_id = e.vec_id
),
sizes AS (
  SELECT coarse_label, count(*) AS cell_n FROM nodes GROUP BY 1
),
seeds AS (
  SELECT coarse_label, vec_id AS s_id, embedding AS s_vec FROM (
    SELECT n.coarse_label, n.vec_id, n.embedding, s.cell_n,
           row_number() OVER (
             PARTITION BY n.coarse_label ORDER BY n.h, n.vec_id
           ) AS sr
    FROM nodes n JOIN sizes s ON s.coarse_label = n.coarse_label
  )
  WHERE sr <= (cell_n + {IVF_TARGET_CELL - 1}) // {IVF_TARGET_CELL}
),
scored_sub AS (
  SELECT n.vec_id, n.coarse_label, s.s_id,
         {_dot_sql('n.embedding', 'n.embedding', 'duck')}
           - 2 * {_dot_sql('n.embedding', 's.s_vec', 'duck')}
           + {_dot_sql('s.s_vec', 's.s_vec', 'duck')} AS dist2
  FROM nodes n JOIN seeds s ON s.coarse_label = n.coarse_label
)
SELECT vec_id, coarse_label, s_id AS sub_seed, dist2 FROM (
  SELECT vec_id, coarse_label, s_id, dist2,
         row_number() OVER (
           PARTITION BY vec_id ORDER BY dist2, s_id
         ) AS rn
  FROM scored_sub
)
WHERE rn = 1
"""  # noqa: E501 — template; formatted into DYN_IVF_ASSIGN_ORACLE below


# --------------------------------------------------------------------------
# SRP-LSH bucketed ANN (approximate -> rows-only check)
# --------------------------------------------------------------------------

N_PLANES = 8

# Deterministic hyperplanes: fixed seed, generated once at import.
_PLANES = np.random.default_rng(42).standard_normal((N_PLANES, DIM))


def _bucket_expr(vec_col: str) -> F.Column:
    """Sign-pattern bucket id: bit j = (vec . plane_j) >= 0.

    Each hyperplane is a literal double array — Catalyst constant-folds
    it to a single Literal, so the per-row work is 8 sequential folds,
    not an unrolled 512-term expression (which would break codegen)."""
    bits = []
    for j in range(N_PLANES):
        # float() before repr: numpy>=2 renders repr(np.float64) as
        # 'np.float64(x)' (syntax error when baked); byte-identical on
        # the pinned 1.26 (test_baked_literals_are_plain_floats).
        plane = (
            "array("
            + ", ".join(f"{float(v)!r}d" for v in _PLANES[j])
            + ")"
        )
        dot = (
            f"aggregate(zip_with({vec_col}, {plane}, "
            "(x, y) -> cast(x as double) * y), "
            "cast(0 as double), (acc, t) -> acc + t)"
        )
        bits.append(f"(case when ({dot}) >= 0 then {1 << j} else 0 end)")
    return F.expr("(" + " + ".join(bits) + ")")


# Approximate by construction (bucketed recall < 1): rows-only
# check; lsh_ann_recall hash-checks its quality.
@query(oracle=None)
def lsh_ann_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: rank only within the query's sign bucket.
    Registered without an oracle (approximate recall); compare against
    ann_topk to measure it."""
    emb = _emb(spark, sf_dir).withColumn("bucket", _bucket_expr("embedding"))
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.col("norm").alias("q_norm"),
        F.col("bucket"),
    )
    corpus = emb.select(
        F.col("vec_id").alias("n_id"),
        F.col("embedding").alias("n_vec"),
        F.col("norm").alias("n_norm"),
        F.col("bucket"),
    )
    cosine = F.expr(_dot_sql("q_vec", "n_vec", "spark")) / (
        F.col("q_norm") * F.col("n_norm")
    )
    scored = (
        queries.join(corpus, "bucket")
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id", cosine.alias("cosine"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
    )


def _duck_bucket_expr(vec_col: str) -> str:
    """DuckDB twin of ``_bucket_expr``: same plane literals (Python
    repr doubles), same left-associated 64-term dot sum, so the sign
    pattern — and therefore every bucket id — is bit-identical to the
    Spark fold."""
    bits = []
    for j in range(N_PLANES):
        dot = " + ".join(
            f"CAST({vec_col}[{i}] AS DOUBLE) * {float(_PLANES[j][i - 1])!r}"
            for i in range(1, DIM + 1)
        )
        bits.append(f"(CASE WHEN ({dot}) >= 0 THEN {1 << j} ELSE 0 END)")
    return "(" + " + ".join(bits) + ")"


@query(family="sim")
def lsh_ann_recall_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the SRP-LSH search against the exact baseline,
    per query: |lsh_ann top-k ∩ ann_topk top-k| / |ann_topk top-k|.

    ``lsh_ann`` itself is approximate (bucketed recall < 1) and so is
    registered rows-only — but its RECALL against ``ann_topk`` is a
    deterministic function of the data (both searches are
    deterministic, the planes are fixed literals), so this companion
    query puts the LSH tier's quality contract on the driver's
    hash-checked surface. Scale: both operands are |queries| x k rows;
    the join and aggregate are trivial next to the searches
    themselves."""
    exact = ann_topk_query(spark, sf_dir).select("q_id", "n_id")
    approx = (
        lsh_ann_query(spark, sf_dir)
        .select("q_id", "n_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        exact.join(approx, ["q_id", "n_id"], "left")
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_exact"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_hits"),
        )
        .withColumn(
            "recall",
            F.col("n_hits").cast("double") / F.col("n_exact").cast("double"),
        )
    )


LSH_ANN_RECALL_ORACLE = f"""
WITH normed AS (
  SELECT vec_id, embedding, {_norm_sql('embedding', 'duck')} AS norm
  FROM embeddings
),
bucketed AS (
  SELECT vec_id, embedding, norm,
         {_duck_bucket_expr('embedding')} AS bucket
  FROM normed
),
exact AS (
  SELECT q_id, n_id FROM (
    SELECT q.vec_id AS q_id, n.vec_id AS n_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_dot_sql('q.embedding', 'n.embedding', 'duck')}
                          / (q.norm * n.norm) DESC,
                      n.vec_id
           ) AS rank
    FROM normed q CROSS JOIN normed n
    WHERE q.vec_id < {N_QUERIES} AND q.vec_id <> n.vec_id
  )
  WHERE rank <= {TOP_K}
),
approx AS (
  SELECT q_id, n_id FROM (
    SELECT q.vec_id AS q_id, n.vec_id AS n_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_dot_sql('q.embedding', 'n.embedding', 'duck')}
                          / (q.norm * n.norm) DESC,
                      n.vec_id
           ) AS rank
    FROM bucketed q
    JOIN bucketed n ON n.bucket = q.bucket AND n.vec_id <> q.vec_id
    WHERE q.vec_id < {N_QUERIES}
  )
  WHERE rank <= {TOP_K}
)
SELECT e.q_id,
       CAST(count(*) AS BIGINT) AS n_exact,
       CAST(SUM(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hits,
       CAST(SUM(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS recall
FROM exact e
LEFT JOIN approx a ON a.q_id = e.q_id AND a.n_id = e.n_id
GROUP BY e.q_id
"""


# --------------------------------------------------------------------------
# Per-label centroids (the quantizer-training step behind IVF)
# --------------------------------------------------------------------------

_FP_SCALE = 1_000_000


@query()
def label_centroids_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean vector per label cell — one k-means update step, the
    operator that *produces* the coarse quantizer ivf_near_dup blocks
    on. Emitted as (label, pos, ...) rows rather than arrays so the
    oracle hash works over scalars.

    Determinism: float sums are partitioning-order-dependent, so each
    component is fixed-pointed first — ``floor(x * 1e6)`` is exact
    IEEE (multiply correctly rounded, floor exact) and the BIGINT sums
    are associative; the final centroid is one correctly-rounded
    double division. Scale: posexplode multiplies rows by dim (64),
    but the groupBy(label, pos) aggregate is partial-aggregatable, so
    the shuffle carries at most |labels| x dim partial sums per task.
    """
    emb = tables.spread(tables.table(spark, sf_dir, "embeddings"), "vec_id")
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("pos0", "x")
    ).select(
        "label",
        (F.col("pos0") + 1).alias("pos"),
        F.floor(F.col("x").cast("double") * _FP_SCALE).alias("x_fp"),
    )
    return exploded.groupBy("label", "pos").agg(
        F.sum("x_fp").alias("sum_fp"),
        F.count(F.lit(1)).alias("n"),
        (
            F.sum("x_fp").cast("double")
            / (F.count(F.lit(1)) * F.lit(_FP_SCALE)).cast("double")
        ).alias("centroid"),
    )


LABEL_CENTROIDS_ORACLE = f"""
SELECT label, i AS pos,
       CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * {_FP_SCALE}) AS BIGINT))
           AS BIGINT) AS sum_fp,
       COUNT(*) AS n,
       CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * {_FP_SCALE}) AS BIGINT))
            AS DOUBLE)
           / CAST(COUNT(*) * {_FP_SCALE} AS DOUBLE) AS centroid
FROM embeddings, generate_series(1, {DIM}) AS t(i)
GROUP BY label, i
"""


def _packed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroids re-packed from (label, pos, centroid) rows into
    (c_label, cvec array) — the broadcastable quantizer table."""
    return (
        label_centroids_query(spark, sf_dir)
        .groupBy("label")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "centroid"))
            ).alias("pc")
        )
        .select(
            F.col("label").alias("c_label"),
            F.expr("transform(pc, s -> s.centroid)").alias("cvec"),
        )
    )


def _vec_cell_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, orig_label, c_label, dist2) for EVERY vector x cell —
    the Spark twin of the oracle's ``scored`` CTE. The centroid table
    is tiny (|cells| x dim) and broadcasts; distance uses the same
    fold dot products as the rest of this module, so orderings —
    including ties, broken by label — are bit-identical to the oracle.
    dist^2 = |v|^2 - 2 v.c + |c|^2 needs only dot products of things
    both engines hold."""
    emb = tables.spread(tables.table(spark, sf_dir, "embeddings"), "vec_id")
    cents = _packed_centroids(spark, sf_dir)
    dot_vc = (
        "aggregate(zip_with(embedding, cvec, (x, y) -> "
        "cast(x as double) * y), cast(0 as double), (acc, t) -> acc + t)"
    )
    dot_cc = (
        "aggregate(zip_with(cvec, cvec, (x, y) -> x * y), "
        "cast(0 as double), (acc, t) -> acc + t)"
    )
    dot_vv = _dot_sql("embedding", "embedding", "spark")
    dist2 = F.expr(dot_vv) - 2 * F.expr(dot_vc) + F.expr(dot_cc)
    return emb.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        F.col("label").alias("orig_label"),
        "c_label",
        dist2.alias("dist2"),
    )


@query(family="sim")
def ivf_assign_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every vector to its nearest label centroid (squared
    euclidean): label_centroids is the quantizer-update step, this is
    the assignment step, ivf_near_dup and ivf_ann are the query steps
    over the resulting cells.

    Round-11: a ``sim.assign`` shared pin — eight registered queries
    derive from this assignment (cells, dyn sub-quantizer, the
    cell-label audits); one materialization per family scope."""

    def build() -> DataFrame:
        w = Window.partitionBy("vec_id").orderBy("dist2", "c_label")
        return (
            _vec_cell_scores(spark, sf_dir)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "vec_id",
                "orig_label",
                F.col("c_label").alias("assigned_label"),
                "dist2",
            )
        )

    return _shared_pin(
        ("sim.assign", tables.table(spark, sf_dir, "embeddings")), build
    )


def _duck_centroid_dots() -> tuple[str, str]:
    """Unrolled v.c and c.c over the centroid-row representation."""
    vc = " + ".join(
        f"CAST(e.embedding[{i}] AS DOUBLE) * c.c{i}" for i in range(1, DIM + 1)
    )
    cc = " + ".join(f"c.c{i} * c.c{i}" for i in range(1, DIM + 1))
    return f"({vc})", f"({cc})"


_DUCK_VC, _DUCK_CC = _duck_centroid_dots()

# Shared CTE block: quantizer training + assignment, reused verbatim by
# IVF_ASSIGN_ORACLE and IVF_NEAR_DUP_ORACLE so the cell definition the
# near-dup oracle blocks on is exactly the assignment the driver
# already hash-checks.
_DUCK_ASSIGN_CTES = f"""cent_rows AS (
  SELECT label, i AS pos,
         CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * {_FP_SCALE}) AS BIGINT))
              AS DOUBLE)
             / CAST(COUNT(*) * {_FP_SCALE} AS DOUBLE) AS centroid
  FROM embeddings, generate_series(1, {DIM}) AS t(i)
  GROUP BY label, i
),
cents AS (
  SELECT label AS c_label,
         {", ".join(f"MAX(CASE WHEN pos = {i} THEN centroid END) AS c{i}" for i in range(1, DIM + 1))}
  FROM cent_rows GROUP BY label
),
scored AS (
  SELECT e.vec_id, e.label AS orig_label, c.c_label,
         {_norm_sql('e.embedding', 'duck').replace('sqrt', '')} - 2 * {_DUCK_VC} + {_DUCK_CC}
             AS dist2
  FROM embeddings e CROSS JOIN cents c
),
assign AS (
  SELECT vec_id, orig_label, c_label, dist2 FROM (
    SELECT vec_id, orig_label, c_label, dist2,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist2, c_label) AS rn
    FROM scored
  )
  WHERE rn = 1
)"""

IVF_ASSIGN_ORACLE = f"""
WITH {_DUCK_ASSIGN_CTES}
SELECT vec_id, orig_label, c_label AS assigned_label, dist2 FROM assign
"""

# Near-dup CTE chain and final select exposed separately so the
# embedding-cluster oracle can inline the pair derivation inside a
# recursive CTE (DuckDB has no cross-statement CTE reuse).
DUCK_NEAR_DUP_CTES = f"""{_DUCK_ASSIGN_CTES},
sizes AS (SELECT c_label, count(*) AS cell_n FROM assign GROUP BY 1),
cells AS (
  SELECT e.vec_id, e.embedding, a.c_label,
         {hash60_duck('CAST(e.vec_id AS VARCHAR)', _SUB_SEED)}
             % ((s.cell_n + {IVF_TARGET_CELL - 1}) // {IVF_TARGET_CELL})
             AS sub_id,
         {_norm_sql('e.embedding', 'duck')} AS norm
  FROM embeddings e
  JOIN assign a ON a.vec_id = e.vec_id
  JOIN sizes s ON s.c_label = a.c_label
)"""

DUCK_NEAR_DUP_SELECT = f"""SELECT a.c_label AS label, a.vec_id AS vec_a, b.vec_id AS vec_b,
       {_dot_sql('a.embedding', 'b.embedding', 'duck')} / (a.norm * b.norm)
           AS cosine
FROM cells a
JOIN cells b ON a.c_label = b.c_label AND a.sub_id = b.sub_id
            AND a.vec_id < b.vec_id
WHERE {_dot_sql('a.embedding', 'b.embedding', 'duck')} / (a.norm * b.norm)
      >= {NEAR_DUP_COSINE}"""

IVF_NEAR_DUP_ORACLE = f"""
WITH {DUCK_NEAR_DUP_CTES}
{DUCK_NEAR_DUP_SELECT}
"""

# Deferred from the dyn-quantizer section above: needs _DUCK_ASSIGN_CTES.
# .replace (not .format) — the SQL body contains no other placeholder
# and format() would trip on any brace duckdb syntax might introduce.
DYN_IVF_ASSIGN_ORACLE = _DYN_ORACLE_TEMPLATE.replace(
    "{assign_ctes}", _DUCK_ASSIGN_CTES
)


# --------------------------------------------------------------------------
# IVF ANN search (cell-probed top-k — the scale path for queries)
# --------------------------------------------------------------------------

N_PROBE = 3


@query(family="sim")
def ivf_ann_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k search: rank the quantizer cells per query, probe the
    N_PROBE nearest, and run exact cosine only against vectors
    assigned to the probed cells — the standard IVF recall/cost dial
    (nprobe/|cells| of the corpus scanned per query instead of all of
    it). Unlike SRP-LSH this is fully deterministic — cell ranking and
    tie-breaks reuse the assignment's bit-exact distance — so the
    whole search is oracle-checked, not rows-only.

    Scale: the probe table is |queries| x N_PROBE rows; the candidate
    join keys on the cell id, so each query's work co-locates with the
    (bounded) cells it probes. ann_topk stays the recall-1.0 reference;
    recall here is measured against it in tests.

    Round-11: a ``sim.ivf_ann`` shared pin — mrr_audit and
    ann_rank_fusion re-ran this search; one materialization per
    family scope."""

    def build() -> DataFrame:
        emb = _emb(spark, sf_dir)
        scores = _vec_cell_scores(spark, sf_dir)
        w_cell = Window.partitionBy("vec_id").orderBy("dist2", "c_label")
        probes = (
            scores.filter(F.col("vec_id") < N_QUERIES)
            .withColumn("pr", F.row_number().over(w_cell))
            .filter(F.col("pr") <= N_PROBE)
            .select(
                F.col("vec_id").alias("q_id"), F.col("c_label").alias("cell")
            )
        )
        assign = ivf_assign_query(spark, sf_dir).select(
            "vec_id", F.col("assigned_label").alias("cell")
        )
        corpus = emb.join(assign, "vec_id").select(
            F.col("vec_id").alias("n_id"),
            "cell",
            F.col("embedding").alias("n_vec"),
            F.col("norm").alias("n_norm"),
        )
        queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_vec"),
            F.col("norm").alias("q_norm"),
        )
        cosine = F.expr(_dot_sql("q_vec", "n_vec", "spark")) / (
            F.col("q_norm") * F.col("n_norm")
        )
        cand = (
            probes.join(corpus, "cell")
            .join(F.broadcast(queries), "q_id")
            .filter(F.col("q_id") != F.col("n_id"))
            .select("q_id", "n_id", cosine.alias("cosine"))
        )
        w = Window.partitionBy("q_id").orderBy(
            F.col("cosine").desc(), F.col("n_id")
        )
        return (
            cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K)
        )

    # the probe dial and panel/top-k sizes are part of the pin's
    # identity: tests (and future callers) monkeypatch them and must
    # get a fresh build, never the memoized other-dial table
    return _shared_pin(
        (
            "sim.ivf_ann",
            tables.table(spark, sf_dir, "embeddings"),
            N_PROBE,
            N_QUERIES,
            TOP_K,
        ),
        build,
    )


IVF_ANN_ORACLE = f"""
WITH {_DUCK_ASSIGN_CTES},
probes AS (
  SELECT q_id, c_label FROM (
    SELECT vec_id AS q_id, c_label,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist2, c_label)
               AS pr
    FROM scored WHERE vec_id < {N_QUERIES}
  )
  WHERE pr <= {N_PROBE}
),
normed AS (
  SELECT vec_id, embedding, {_norm_sql('embedding', 'duck')} AS norm
  FROM embeddings
),
cand AS (
  SELECT p.q_id, n.vec_id AS n_id,
         {_dot_sql('q.embedding', 'n.embedding', 'duck')} / (q.norm * n.norm)
             AS cosine
  FROM probes p
  JOIN assign a ON a.c_label = p.c_label
  JOIN normed n ON n.vec_id = a.vec_id
  JOIN normed q ON q.vec_id = p.q_id
  WHERE n.vec_id <> p.q_id
)
SELECT q_id, n_id, cosine, rank FROM (
  SELECT q_id, n_id, cosine,
         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id)
             AS rank
  FROM cand
)
WHERE rank <= {TOP_K}
"""


# --------------------------------------------------------------------------
# Embedding outlier scoring (distance-to-centroid, cell-normalized)
# --------------------------------------------------------------------------

OUTLIER_RATIO = 2.0


@query(family="sim")
def embedding_outliers_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector outlier score: squared distance to the assigned IVF
    centroid, ranked and thresholded against the cell's mean distance
    (the standard embedding-space noise/diversity filter for training
    corpora — far-from-centroid vectors are either valuable diversity
    or junk, and either way you want them surfaced).

    Reuses the quantizer chain (label_centroids -> ivf_assign), so
    the cell definition is the one the driver already hash-checks.
    Determinism: the cell mean would be a float sum (partitioning-
    order dependent), so distances are fixed-pointed exactly
    (floor(d * 1e6), same trick as label_centroids) and the mean is
    one correctly-rounded division of two exact integers. Scale: one
    window shuffle on the cell id; rows carry scalars only.
    """
    assign = ivf_assign_query(spark, sf_dir)
    w = Window.partitionBy("assigned_label")
    wr = Window.partitionBy("assigned_label").orderBy("dist2", "vec_id")
    mean_d = F.col("sum_fp").cast("double") / (
        F.col("cell_n") * F.lit(_FP_SCALE)
    ).cast("double")
    return (
        assign.withColumn(
            "fpv", F.floor(F.col("dist2") * _FP_SCALE)
        )
        .withColumn("sum_fp", F.sum("fpv").over(w))
        .withColumn("cell_n", F.count(F.lit(1)).over(w))
        .withColumn("dist_rank", F.row_number().over(wr))
        .select(
            "vec_id",
            "assigned_label",
            "dist2",
            "cell_n",
            "dist_rank",
            mean_d.alias("mean_dist2"),
            (F.col("dist2") > F.lit(OUTLIER_RATIO) * mean_d).alias("is_outlier"),
        )
    )


EMBEDDING_OUTLIERS_ORACLE = f"""
WITH {_DUCK_ASSIGN_CTES},
fp AS (
  SELECT vec_id, c_label, dist2,
         CAST(floor(dist2 * {_FP_SCALE}) AS BIGINT) AS fpv
  FROM assign
),
win AS (
  SELECT vec_id, c_label, dist2,
         SUM(fpv) OVER (PARTITION BY c_label) AS sum_fp,
         COUNT(*) OVER (PARTITION BY c_label) AS cell_n,
         CAST(ROW_NUMBER() OVER (
             PARTITION BY c_label ORDER BY dist2, vec_id
         ) AS INTEGER) AS dist_rank
  FROM fp
)
SELECT vec_id, c_label AS assigned_label, dist2, cell_n, dist_rank,
       CAST(sum_fp AS DOUBLE) / CAST(cell_n * {_FP_SCALE} AS DOUBLE)
           AS mean_dist2,
       dist2 > {OUTLIER_RATIO}
           * (CAST(sum_fp AS DOUBLE) / CAST(cell_n * {_FP_SCALE} AS DOUBLE))
           AS is_outlier
FROM win
"""


# --------------------------------------------------------------------------
# k-NN graph (cell-blocked all-vectors neighbor graph + mutuality)
# --------------------------------------------------------------------------

KNN_K = 3


def _knn_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinned (q_id, n_id, cosine, rank) top-KNN_K edge list, exact
    within each DYNAMIC sub-quantizer cell — the shared construction
    under knn_graph (mutuality flag), knn_triangles,
    knn_lof_outliers, and knn_label_purity. Pinned because every
    consumer reads it at least twice (self-joins).

    Blocking is (coarse_label, sub_seed) from ``dyn_ivf_assign``, NOT
    the raw coarse assignment: coarse cells grow with the corpus (the
    label count is fixed), so a coarse-blocked self-join is a hidden
    quadratic — the 10x probe measured 145x before this was moved to
    the sub-quantizer, whose cell sizes stay ~flat (~IVF_TARGET_CELL)
    while the CELL COUNT grows with n. Per-cell work is then bounded
    and total cost is O(n * target) at any corpus size."""
    def build() -> DataFrame:
        emb = _emb(spark, sf_dir)
        assign = dyn_ivf_assign_query(spark, sf_dir).select(
            "vec_id", "coarse_label", "sub_seed"
        )
        nodes = emb.join(assign, "vec_id")
        a = nodes.select(
            F.col("vec_id").alias("q_id"),
            "coarse_label",
            "sub_seed",
            F.col("embedding").alias("q_vec"),
            F.col("norm").alias("q_norm"),
        )
        b = nodes.select(
            F.col("vec_id").alias("n_id"),
            "coarse_label",
            "sub_seed",
            F.col("embedding").alias("n_vec"),
            F.col("norm").alias("n_norm"),
        )
        cosine = F.expr(_dot_sql("q_vec", "n_vec", "spark")) / (
            F.col("q_norm") * F.col("n_norm")
        )
        w = Window.partitionBy("q_id").orderBy(
            F.col("cosine").desc(), F.col("n_id")
        )
        return (
            a.join(b, ["coarse_label", "sub_seed"])
            .filter(F.col("q_id") != F.col("n_id"))
            .select("q_id", "n_id", cosine.alias("cosine"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= KNN_K)
        )

    return _shared_pin(
        (
            "sim.knn_edges",
            tables.table(spark, sf_dir, "embeddings"),
            KNN_K,
            IVF_TARGET_CELL,
        ),
        build,
    )


@query(family="sim")
def knn_graph_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-KNN_K cosine neighbor graph over EVERY vector, blocked by
    the assigned IVF cell, with a mutual-edge flag — the construction
    step behind semantic-dedup clustering and diversity sampling
    (e.g. mutual-kNN pruning keeps only edges both endpoints agree
    on). Unlike ``ivf_ann`` (a 10-query probe), this builds the full
    graph: |V| * KNN_K edges.

    Candidate generation is exact *within the dynamic sub-cell*
    ((coarse_label, sub_seed) from ``dyn_ivf_assign`` — see
    _knn_edges): each vector ranks only co-cell vectors, turning
    O(n^2) scoring into sum-over-cells O(|cell|^2) with every cell's
    work co-located in one shuffle partition, and the sub-quantizer
    keeps |cell| ~ IVF_TARGET_CELL at ANY corpus size (cell COUNT
    grows instead). Cross-cell true neighbors can be missed — at the
    cell boundary this is the standard IVF recall trade — but the
    result is fully deterministic (fold-form dot products, ties
    broken on neighbor id), so the whole graph is oracle-checked, not
    rows-only. The mutuality flag is one self-join of the edge list
    on the reversed key.

    100 TB posture: the edge list carries 2 ids + 2 scalars per row;
    the mutual join keys on (q,n) pairs — all shuffles are id-width;
    total scoring cost is O(n * IVF_TARGET_CELL) because the
    sub-quantizer's k grows with |V| (SCALE.md's dyn tables measure
    exactly that bound holding at 10x).
    """
    # Pinned shared edges: they feed BOTH sides of the mutual-edge
    # self-join below; without the pin the full O(|cell|^2) cell
    # self-join + rank window re-runs in each branch (two FileScans,
    # no ReusedExchange), doubling the dominant quadratic stage.
    edges = _knn_edges(spark, sf_dir)
    rev = edges.select(
        F.col("q_id").alias("r_q"), F.col("n_id").alias("r_n")
    )
    return (
        edges.join(
            rev,
            (edges.q_id == rev.r_n) & (edges.n_id == rev.r_q),
            "left",
        )
        .select(
            F.col("q_id").alias("vec_id"),
            F.col("n_id").alias("nbr_id"),
            "cosine",
            "rank",
            F.col("r_q").isNotNull().alias("is_mutual"),
        )
    )


# Shared CTE chain for every kNN-graph-derived oracle: the dynamic
# sub-quantizer assignment (bounded cells — see _knn_edges) feeding
# the within-sub-cell exact top-KNN_K edge list.
_DUCK_KNN_EDGES_CTES = f"""{_DUCK_ASSIGN_CTES},
dnodes AS MATERIALIZED (
  SELECT e.vec_id, e.embedding, a.c_label AS coarse_label,
         {hash60_duck('CAST(e.vec_id AS VARCHAR)', _DYN_SEED)} AS h
  FROM embeddings e JOIN assign a ON a.vec_id = e.vec_id
),
dsizes AS (
  SELECT coarse_label, count(*) AS cell_n FROM dnodes GROUP BY 1
),
dseeds AS (
  SELECT coarse_label, vec_id AS s_id, embedding AS s_vec FROM (
    SELECT n.coarse_label, n.vec_id, n.embedding, s.cell_n,
           row_number() OVER (
             PARTITION BY n.coarse_label ORDER BY n.h, n.vec_id
           ) AS sr
    FROM dnodes n JOIN dsizes s ON s.coarse_label = n.coarse_label
  )
  WHERE sr <= (cell_n + {IVF_TARGET_CELL - 1}) // {IVF_TARGET_CELL}
),
dassign AS MATERIALIZED (
  SELECT vec_id, coarse_label, sub_seed FROM (
    SELECT n.vec_id, n.coarse_label, s.s_id AS sub_seed,
           row_number() OVER (
             PARTITION BY n.vec_id
             ORDER BY {_dot_sql('n.embedding', 'n.embedding', 'duck')}
                      - 2 * {_dot_sql('n.embedding', 's.s_vec', 'duck')}
                      + {_dot_sql('s.s_vec', 's.s_vec', 'duck')},
                      s.s_id
           ) AS rn
    FROM dnodes n JOIN dseeds s ON s.coarse_label = n.coarse_label
  ) WHERE rn = 1
),
normed AS (
  SELECT vec_id, embedding, {_norm_sql('embedding', 'duck')} AS norm
  FROM embeddings
),
knodes AS (
  SELECT nm.vec_id, nm.embedding, nm.norm, da.coarse_label, da.sub_seed
  FROM normed nm JOIN dassign da ON da.vec_id = nm.vec_id
),
edges AS MATERIALIZED (
  SELECT q_id, n_id, cosine, rank FROM (
    SELECT a.vec_id AS q_id, b.vec_id AS n_id,
           {_dot_sql('a.embedding', 'b.embedding', 'duck')} / (a.norm * b.norm)
               AS cosine,
           CAST(row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY {_dot_sql('a.embedding', 'b.embedding', 'duck')}
                            / (a.norm * b.norm) DESC,
                        b.vec_id
           ) AS INTEGER) AS rank
    FROM knodes a
    JOIN knodes b ON a.coarse_label = b.coarse_label
                 AND a.sub_seed = b.sub_seed
                 AND a.vec_id <> b.vec_id
  )
  WHERE rank <= {KNN_K}
)"""

KNN_GRAPH_ORACLE = f"""
WITH {_DUCK_KNN_EDGES_CTES}
SELECT e.q_id AS vec_id, e.n_id AS nbr_id, e.cosine, e.rank,
       (r.q_id IS NOT NULL) AS is_mutual
FROM edges e
LEFT JOIN edges r ON r.q_id = e.n_id AND r.n_id = e.q_id
"""


# --------------------------------------------------------------------------
# Local Outlier Factor over the kNN graph (density-ratio outliers)
# --------------------------------------------------------------------------

LOF_THRESHOLD = 1.1  # neighbors >=10% denser than self -> flagged

# cosine distance fixed-pointed to BIGINT (1 - cos in [0, 2] -> <= 2e9)
_LOF_D_SCALE = 10**9
# lrd is emitted as floor(1e15 * n / sum_reach_fp): with n <= KNN_K and
# sum_reach_fp <= n * 2e9, the quotient sits in [~1.6e5, 3e15] — exact
# BIGINT integer division, never 0, never overflowing
_LOF_LRD_SCALE = 10**15


@query(oracle="KNN_LOF_ORACLE", family="sim")
def knn_lof_outliers_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, n_nbrs, lof, is_outlier): Local Outlier Factor
    (Breunig et al., SIGMOD 2000) over the cell-blocked kNN graph —
    the density-RATIO upgrade of embedding_outliers' absolute
    distance rule: a point is anomalous iff its local reachability
    density is low *relative to its own neighbors'*, which catches
    sparse-region points that a global threshold misses and spares
    dense-cluster fringe points a global threshold would flag.

    Exactness contract (the float-heavy textbook form made
    hash-stable): distances fixed-point to BIGINT
    (floor((1-cosine)*1e9)); k-distance and reach-distances are then
    integer maxes; each node's lrd ships as the exact integer
    division floor(1e15*n/sum_reach) — so the final
    lof = sum(nbr_lrd) / (n * own_lrd) is ONE correctly-rounded
    division of bit-identical BIGINTs. Nodes whose neighborhood
    collapses to duplicates (sum_reach 0) take the documented
    greatest(.,1) floor — lrd saturates instead of dividing by zero.

    Scale: everything after the (pinned, shared) edge list is
    id-width joins keyed on vec_id — 2 hash joins + 3 grouped
    aggregations over |V|*k rows, partial-aggregatable throughout.
    Singleton cells have no edges and are correctly absent: LOF is
    undefined without neighbors (embedding_outliers covers them)."""
    edges = _knn_edges(spark, sf_dir)
    dfp = edges.select(
        "q_id",
        "n_id",
        F.expr(
            f"cast(floor((1.0d - cosine) * {_LOF_D_SCALE}L) as bigint)"
        ).alias("d_fp"),
    )
    kd = dfp.groupBy("q_id").agg(F.max("d_fp").alias("kd_fp"))
    nbr_kd = kd.select(
        F.col("q_id").alias("n_id"), F.col("kd_fp").alias("n_kd_fp")
    )
    reach = dfp.join(nbr_kd, "n_id").select(
        "q_id", "n_id", F.greatest("n_kd_fp", "d_fp").alias("rd_fp")
    )
    agg = reach.groupBy("q_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("rd_fp").cast("bigint").alias("sumr"),
    )
    lrd = agg.select(
        "q_id",
        "n",
        F.expr(
            f"({_LOF_LRD_SCALE}L * n) div greatest(sumr, 1L)"
        ).alias("lrd_fp"),
    )
    nbr_lrd = lrd.select(
        F.col("q_id").alias("n_id"), F.col("lrd_fp").alias("nbr_lrd_fp")
    )
    sums = (
        dfp.join(nbr_lrd, "n_id")
        .groupBy("q_id")
        .agg(F.sum("nbr_lrd_fp").cast("bigint").alias("sum_nbr"))
    )
    lof = (
        F.col("sum_nbr").cast("double")
        / (F.col("n") * F.col("lrd_fp")).cast("double")
    )
    return (
        sums.join(lrd, "q_id")
        .select(
            F.col("q_id").alias("vec_id"),
            F.col("n").alias("n_nbrs"),
            lof.alias("lof"),
            (lof > F.lit(float(LOF_THRESHOLD))).alias("is_outlier"),
        )
    )


KNN_LOF_ORACLE = f"""
WITH {_DUCK_KNN_EDGES_CTES},
dfp AS (
  SELECT q_id, n_id,
         CAST(floor((1.0 - cosine) * {_LOF_D_SCALE}) AS BIGINT) AS d_fp
  FROM edges
),
kd AS (SELECT q_id, max(d_fp) AS kd_fp FROM dfp GROUP BY q_id),
reach AS (
  SELECT d.q_id, d.n_id, greatest(k.kd_fp, d.d_fp) AS rd_fp
  FROM dfp d JOIN kd k ON k.q_id = d.n_id
),
agg AS (
  SELECT q_id, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(rd_fp) AS BIGINT) AS sumr
  FROM reach GROUP BY q_id
),
lrd AS (
  SELECT q_id, n,
         ({_LOF_LRD_SCALE} * n) // greatest(sumr, 1) AS lrd_fp
  FROM agg
),
sums AS (
  SELECT d.q_id, CAST(sum(l.lrd_fp) AS BIGINT) AS sum_nbr
  FROM dfp d JOIN lrd l ON l.q_id = d.n_id
  GROUP BY d.q_id
)
SELECT s.q_id AS vec_id, l.n AS n_nbrs,
       CAST(s.sum_nbr AS DOUBLE) / CAST(l.n * l.lrd_fp AS DOUBLE) AS lof,
       CAST(s.sum_nbr AS DOUBLE) / CAST(l.n * l.lrd_fp AS DOUBLE)
         > {LOF_THRESHOLD} AS is_outlier
FROM sums s JOIN lrd l ON l.q_id = s.q_id
"""


# --------------------------------------------------------------------------
# Embedding diversity (per-cell mean pairwise distance, O(n) power sums)
# --------------------------------------------------------------------------


@query()
def embedding_diversity_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean pairwise squared distance within each label cell — the
    corpus-diversity dial (collapsed/duplicated clusters score near 0;
    healthy diverse cells score high) — WITHOUT the pair join:

        sum_{i<j} |x_i - x_j|^2  =  n * sum_i |x_i|^2 - |sum_i x_i|^2

    turns an O(n^2) pair computation into two linear power sums. Both
    sums run on fixed-point BIGINTs (floor(x * 1e6), the
    label_centroids contract) so they are exact and associative; the
    squares are widened to DECIMAL(38,0) (still exact), and the one
    double division at the end is correctly rounded — bit-identical
    cross-engine with no ordering anywhere.

    Scale: one partial-aggregatable pass per (cell, pos) for the
    component sums plus one per cell for the norms; shuffle rows are
    |cells| x dim scalars. The pair semantics need no pair to exist.
    """
    emb = tables.spread(tables.table(spark, sf_dir, "embeddings"), "vec_id")
    exploded = emb.select(
        "label", "vec_id", F.posexplode("embedding").alias("pos0", "x")
    ).select(
        "label",
        "vec_id",
        "pos0",
        F.floor(F.col("x").cast("double") * _FP_SCALE).alias("x_fp"),
    )
    # per (label, pos) component sums; per label the total squared norm
    comp = exploded.groupBy("label", "pos0").agg(
        F.sum("x_fp").alias("s_fp")
    )
    d38 = "decimal(38,0)"
    sumsq = comp.groupBy("label").agg(
        F.sum(F.col("s_fp").cast(d38) * F.col("s_fp").cast(d38)).alias(
            "sumsq_of_sums"
        )
    )
    norms = exploded.groupBy("label").agg(
        F.sum(F.col("x_fp").cast(d38) * F.col("x_fp").cast(d38)).alias("q_fp2"),
        (F.countDistinct("vec_id")).alias("n"),
    )
    pairs = (F.col("n") * (F.col("n") - 1) / 2).cast("bigint")
    num = F.col("n").cast(d38) * F.col("q_fp2") - F.col("sumsq_of_sums")
    scale2 = float(_FP_SCALE) * float(_FP_SCALE)
    return (
        norms.join(sumsq, "label")
        .filter(F.col("n") > 1)
        .select(
            "label",
            F.col("n").cast("bigint").alias("n"),
            (
                num.cast("double")
                / (pairs.cast("double") * F.lit(scale2))
            ).alias("mean_pair_dist2"),
        )
    )


EMBEDDING_DIVERSITY_ORACLE = f"""
WITH fp AS (
  SELECT label, vec_id, i AS pos,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * {_FP_SCALE}) AS BIGINT)
             AS x_fp
  FROM embeddings, generate_series(1, {DIM}) AS t(i)
),
comp AS (
  SELECT label, pos, SUM(x_fp) AS s_fp FROM fp GROUP BY 1, 2
),
sumsq AS (
  SELECT label,
         SUM(CAST(s_fp AS DECIMAL(38,0)) * CAST(s_fp AS DECIMAL(38,0)))
             AS sumsq_of_sums
  FROM comp GROUP BY 1
),
norms AS (
  SELECT label,
         SUM(CAST(x_fp AS DECIMAL(38,0)) * CAST(x_fp AS DECIMAL(38,0)))
             AS q_fp2,
         COUNT(DISTINCT vec_id) AS n
  FROM fp GROUP BY 1
)
SELECT n.label, CAST(n.n AS BIGINT) AS n,
       CAST(CAST(n.n AS DECIMAL(38,0)) * n.q_fp2 - s.sumsq_of_sums AS DOUBLE)
           / (CAST(CAST(n.n * (n.n - 1) / 2 AS BIGINT) AS DOUBLE)
              * {float(_FP_SCALE)} * {float(_FP_SCALE)})
           AS mean_pair_dist2
FROM norms n JOIN sumsq s ON s.label = n.label
WHERE n.n > 1
"""


# --------------------------------------------------------------------------
# Mutual-kNN triangle census (manifold-quality triad closure)
# --------------------------------------------------------------------------


@query(family="sim")
def knn_triangles_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row triad census of the mutual-kNN graph: (n_edges,
    n_triangles, closure) where closure = 3*triangles / open wedges.
    High closure means the embedding manifold is locally consistent
    (neighbors of neighbors are neighbors); a drop after re-embedding
    is the canonical regression signal for an embedding model swap.

    Scale: mutual-kNN degree is bounded by k, so the oriented
    wedge join (src < mid < dst ordering on ids) touches at most
    k^2/2 candidate wedges per node — O(n * k^2) total regardless of
    corpus size, the textbook bounded-degree triangle count. All
    shuffles are id-pair width."""
    g = knn_graph_query(spark, sf_dir)
    # undirected mutual edge set, one row per pair, id-oriented
    e = (
        g.filter(F.col("is_mutual") & (F.col("vec_id") < F.col("nbr_id")))
        .select(F.col("vec_id").alias("a"), F.col("nbr_id").alias("b"))
    )
    e = _pin(e)
    # wedges a<b<c sharing the middle vertex... count closed ones:
    # triangle a<b<c needs edges (a,b), (a,c), (b,c)
    ab = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    w = (
        ab.alias("e1")
        .join(ab.alias("e2"), F.col("e1.x") == F.col("e2.x"))
        .filter(F.col("e1.y") < F.col("e2.y"))
        .select(F.col("e1.y").alias("p"), F.col("e2.y").alias("q"))
    )
    tri = w.join(
        ab.alias("e3"),
        (F.col("p") == F.col("e3.x")) & (F.col("q") == F.col("e3.y")),
    )
    n_edges = e.count()  # scalar; bounded driver crossing
    deg = (
        e.select(F.col("a").alias("v"))
        .union(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    wedges = deg.agg(
        F.sum(F.expr("d * (d - 1) div 2")).alias("n_wedges")
    )
    return (
        tri.agg(F.count(F.lit(1)).alias("n_triangles"))
        .crossJoin(F.broadcast(wedges))
        .select(
            F.lit(n_edges).alias("n_edges"),
            "n_triangles",
            "n_wedges",
            (
                F.lit(3.0) * F.col("n_triangles").cast("double")
                / F.col("n_wedges").cast("double")
            ).alias("closure"),
        )
    )


KNN_TRIANGLES_ORACLE = f"""
{KNN_GRAPH_ORACLE.split("SELECT e.q_id")[0].strip().rstrip(",")},
mutual AS MATERIALIZED (
  SELECT e.q_id AS a, e.n_id AS b
  FROM edges e JOIN edges r ON r.q_id = e.n_id AND r.n_id = e.q_id
  WHERE e.q_id < e.n_id
),
w AS (
  SELECT e1.b AS p, e2.b AS q
  FROM mutual e1 JOIN mutual e2 ON e1.a = e2.a
  WHERE e1.b < e2.b
),
tri AS (
  SELECT count(*) AS n_triangles
  FROM w JOIN mutual e3 ON w.p = e3.a AND w.q = e3.b
),
deg AS (
  SELECT v, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT a AS v FROM mutual UNION ALL SELECT b AS v FROM mutual
  ) GROUP BY v
),
wedges AS (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges FROM deg)
SELECT CAST((SELECT count(*) FROM mutual) AS BIGINT) AS n_edges,
       CAST(tri.n_triangles AS BIGINT) AS n_triangles,
       wedges.n_wedges,
       3.0 * CAST(tri.n_triangles AS DOUBLE) / CAST(wedges.n_wedges AS DOUBLE)
         AS closure
FROM tri, wedges
"""


# --------------------------------------------------------------------------
# Multi-probe SRP-LSH (deterministic probe set -> fully hash-checked)
# --------------------------------------------------------------------------

@query()
def lsh_multiprobe_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(q_id, n_id, cosine, rank): SRP-LSH search probing the query's
    own sign bucket PLUS every bucket at Hamming distance 1 (flip one
    of the N_PLANES bits) — the multi-probe dial (Lv et al., VLDB'07)
    that trades N_PLANES+1 bucket reads for recall instead of
    maintaining more hash tables. Unlike ``lsh_ann`` (single probe,
    rows-only), the probe SET is a deterministic function of the
    bucket id, so the whole search is hash-checkable.

    Shape: queries explode to N_PLANES+1 (q, probe_bucket) rows — a
    constant fan-out — and equi-join the bucketed corpus on the
    bucket id; a corpus vector lives in exactly one bucket, so no
    candidate dedup is needed. Candidate work per query is
    sum(|probed buckets|) ~ (P+1)/2^P of the corpus; ranking is the
    standard per-query top-k window over candidates."""
    emb = _emb(spark, sf_dir).withColumn("bucket", _bucket_expr("embedding"))
    probes = F.array(
        F.col("bucket"),
        *[
            F.expr(f"int(bucket) ^ {1 << j}").cast("int")
            for j in range(N_PLANES)
        ],
    )
    queries = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_vec"),
            F.col("norm").alias("q_norm"),
            F.explode(probes).alias("bucket"),
        )
    )
    corpus = emb.select(
        F.col("vec_id").alias("n_id"),
        F.col("embedding").alias("n_vec"),
        F.col("norm").alias("n_norm"),
        F.col("bucket").cast("int").alias("bucket"),
    )
    cosine = F.expr(_dot_sql("q_vec", "n_vec", "spark")) / (
        F.col("q_norm") * F.col("n_norm")
    )
    scored = (
        queries.join(corpus, "bucket")
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id", cosine.alias("cosine"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
    )


def _duck_probe_list(bucket: str) -> str:
    flips = ", ".join(f"xor({bucket}, {1 << j})" for j in range(N_PLANES))
    return f"[{bucket}, {flips}]"


LSH_MULTIPROBE_ORACLE = f"""
WITH normed AS (
  SELECT vec_id, embedding, {_norm_sql('embedding', 'duck')} AS norm
  FROM embeddings
),
bucketed AS (
  SELECT vec_id, embedding, norm,
         {_duck_bucket_expr('embedding')} AS bucket
  FROM normed
),
probes AS (
  SELECT vec_id AS q_id, embedding AS q_vec, norm AS q_norm,
         unnest({_duck_probe_list('bucket')}) AS bucket
  FROM bucketed
  WHERE vec_id < {N_QUERIES}
)
SELECT q_id, n_id, cosine, rank FROM (
  SELECT p.q_id, n.vec_id AS n_id,
         {_dot_sql('p.q_vec', 'n.embedding', 'duck')}
             / (p.q_norm * n.norm) AS cosine,
         row_number() OVER (
           PARTITION BY p.q_id
           ORDER BY {_dot_sql('p.q_vec', 'n.embedding', 'duck')}
                        / (p.q_norm * n.norm) DESC,
                    n.vec_id
         ) AS rank
  FROM probes p
  JOIN bucketed n ON n.bucket = p.bucket AND n.vec_id <> p.q_id
)
WHERE rank <= {TOP_K}
"""


@query(family="sim")
def lsh_multiprobe_recall_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(q_id, n_exact, n_hits, recall): recall@k of the multi-probe
    search vs the exact baseline — registered alongside
    ``lsh_ann_recall`` so the driver's hash check pins BOTH ends of
    the probe dial (recall must be >= the single-probe tier's on
    every query: probing strictly more buckets can only add
    candidates)."""
    exact = ann_topk_query(spark, sf_dir).select("q_id", "n_id")
    approx = (
        lsh_multiprobe_query(spark, sf_dir)
        .select("q_id", "n_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        exact.join(approx, ["q_id", "n_id"], "left")
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_exact"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_hits"),
        )
        .withColumn(
            "recall",
            F.col("n_hits").cast("double") / F.col("n_exact").cast("double"),
        )
    )


LSH_MULTIPROBE_RECALL_ORACLE = LSH_ANN_RECALL_ORACLE.replace(
    """approx AS (
  SELECT q_id, n_id FROM (
    SELECT q.vec_id AS q_id, n.vec_id AS n_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {dot}
                          / (q.norm * n.norm) DESC,
                      n.vec_id
           ) AS rank
    FROM bucketed q
    JOIN bucketed n ON n.bucket = q.bucket AND n.vec_id <> q.vec_id
    WHERE q.vec_id < {nq}
  )
  WHERE rank <= {k}
)""".format(dot=_dot_sql('q.embedding', 'n.embedding', 'duck'),
            nq=N_QUERIES, k=TOP_K),
    """probes AS (
  SELECT vec_id AS q_id, embedding AS q_vec, norm AS q_norm,
         unnest({plist}) AS bucket
  FROM bucketed
  WHERE vec_id < {nq}
),
approx AS (
  SELECT q_id, n_id FROM (
    SELECT p.q_id, n.vec_id AS n_id,
           row_number() OVER (
             PARTITION BY p.q_id
             ORDER BY {dot}
                          / (p.q_norm * n.norm) DESC,
                      n.vec_id
           ) AS rank
    FROM probes p
    JOIN bucketed n ON n.bucket = p.bucket AND n.vec_id <> p.q_id
  )
  WHERE rank <= {k}
)""".format(plist=_duck_probe_list('bucket'),
            dot=_dot_sql('p.q_vec', 'n.embedding', 'duck'),
            nq=N_QUERIES, k=TOP_K),
)


# --------------------------------------------------------------------------
# Reciprocal-rank fusion across the ANN tiers
# --------------------------------------------------------------------------

RRF_K = 60  # the standard RRF damping constant (Cormack et al. 2009)

# Exact-integer RRF: 1/(K + rank) summed as BIGINT numerators over the
# common denominator lcm(K+1 .. K+TOP_K) — float summation would make
# the fused score depend on partition accumulation order (double
# addition is non-associative); the scaled-integer sum is order-free
# and bit-identical on both engines.
import math as _m

_RRF_L = _m.lcm(*[RRF_K + r for r in range(1, TOP_K + 1)])


@query(family="sim")
def ann_rank_fusion_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(q_id, n_id, n_tiers, rrf_scaled, fused_rank): reciprocal-rank
    fusion of the three registered ANN tiers (exact cosine top-k, IVF
    cell-probed, PQ compressed-domain) — the standard ensemble that
    recovers results any single approximate tier misses while keeping
    exact consensus neighbors on top. rrf_scaled is the exact integer
    sum of lcm/(K+rank) contributions (divide by lcm for the textbook
    score); n_tiers counts how many tiers returned the neighbor.

    Scale: each tier's cost is its own documented shape; fusion
    itself shuffles only (q_id, n_id, small-int) rows — Q * TOP_K * 3
    of them — and the final per-query ordering is a window over
    <= 3*TOP_K candidates per query."""
    from .pq import pq_ann_query

    def tier(df: DataFrame) -> DataFrame:
        return df.select(
            "q_id",
            "n_id",
            (F.lit(_RRF_L) / (F.lit(RRF_K) + F.col("rank")))
            .cast("bigint")
            .alias("w"),
        )

    u = (
        tier(ann_topk_query(spark, sf_dir))
        .unionAll(tier(ivf_ann_query(spark, sf_dir)))
        .unionAll(tier(pq_ann_query(spark, sf_dir)))
    )
    fused = u.groupBy("q_id", "n_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tiers"),
        F.sum("w").cast("bigint").alias("rrf_scaled"),
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("rrf_scaled").desc(), "n_id"
    )
    return fused.select(
        "q_id",
        "n_id",
        "n_tiers",
        "rrf_scaled",
        F.row_number().over(w).cast("int").alias("fused_rank"),
    )


def _rank_fusion_oracle() -> str:
    from .pq import PQ_ANN_ORACLE

    return f"""
WITH exact_t AS ({ANN_TOPK_ORACLE.strip().rstrip(';')}),
ivf_t AS ({IVF_ANN_ORACLE.strip().rstrip(';')}),
pq_t AS ({PQ_ANN_ORACLE.strip().rstrip(';')}),
u AS (
  SELECT q_id, n_id, CAST({_RRF_L} / ({RRF_K} + rank) AS BIGINT) AS w
  FROM exact_t
  UNION ALL
  SELECT q_id, n_id, CAST({_RRF_L} / ({RRF_K} + rank) AS BIGINT) FROM ivf_t
  UNION ALL
  SELECT q_id, n_id, CAST({_RRF_L} / ({RRF_K} + rank) AS BIGINT) FROM pq_t
),
fused AS (
  SELECT q_id, n_id, CAST(count(*) AS BIGINT) AS n_tiers,
         CAST(sum(w) AS BIGINT) AS rrf_scaled
  FROM u GROUP BY 1, 2
)
SELECT q_id, n_id, n_tiers, rrf_scaled,
       CAST(row_number() OVER (
         PARTITION BY q_id ORDER BY rrf_scaled DESC, n_id
       ) AS INT) AS fused_rank
FROM fused
"""


ANN_RANK_FUSION_ORACLE = _rank_fusion_oracle()


# --------------------------------------------------------------------------
# Matryoshka truncation recall (dimension-adaptive retrieval audit)
# --------------------------------------------------------------------------

MRL_DIM = DIM // 2  # truncated prefix dimensionality


def _mrl_dot_duck(a: str, b: str) -> str:
    terms = [
        f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)"
        for i in range(1, MRL_DIM + 1)
    ]
    return "(" + " + ".join(terms) + ")"


@query(family="sim")
def matryoshka_recall_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(q_id, n_exact, n_hits, recall): recall@k of cosine search over
    the FIRST MRL_DIM dimensions against the full-dimensional exact
    search — the audit behind Matryoshka-style dimension-adaptive
    retrieval (run the cheap prefix search first; only if the recall
    gate holds can the deployment halve its vector bandwidth). Both
    rankings are deterministic (exact scores, id tiebreaks), so the
    overlap — and hence the recall — is hash-checkable.

    Scale: two broadcast-query scans of the corpus; the truncated
    side reads the same parquet but folds half the terms, which is
    exactly the bandwidth saving being audited."""
    emb = tables.spread(tables.table(spark, sf_dir, "embeddings"), "vec_id")
    trunc = emb.select(
        "vec_id", F.expr(f"slice(embedding, 1, {MRL_DIM})").alias("v")
    ).select(
        "vec_id", "v", F.expr(_norm_sql("v", "spark")).alias("norm")
    ).filter(F.col("norm") > 0)
    queries = trunc.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("q_v"),
        F.col("norm").alias("q_norm"),
    )
    corpus = trunc.select(
        F.col("vec_id").alias("n_id"),
        F.col("v").alias("n_v"),
        F.col("norm").alias("n_norm"),
    )
    cosine = F.expr(_dot_sql("q_v", "n_v", "spark")) / (
        F.col("q_norm") * F.col("n_norm")
    )
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id", cosine.alias("cosine"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id"))
    approx = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "n_id")
        .withColumn("hit", F.lit(1))
    )
    exact = ann_topk_query(spark, sf_dir).select("q_id", "n_id")
    return (
        exact.join(approx, ["q_id", "n_id"], "left")
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_exact"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_hits"),
        )
        .select(
            "q_id",
            "n_exact",
            "n_hits",
            (
                F.col("n_hits").cast("double") / F.col("n_exact").cast("double")
            ).alias("recall"),
        )
    )


MATRYOSHKA_RECALL_ORACLE = f"""
WITH trunc AS (
  SELECT vec_id, embedding,
         sqrt({_mrl_dot_duck('embedding', 'embedding')}) AS tnorm
  FROM embeddings
),
approx AS (
  SELECT q_id, n_id FROM (
    SELECT q.vec_id AS q_id, n.vec_id AS n_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_mrl_dot_duck('q.embedding', 'n.embedding')}
                      / (q.tnorm * n.tnorm) DESC, n.vec_id
           ) AS rank
    FROM trunc q CROSS JOIN trunc n
    WHERE q.vec_id < {N_QUERIES} AND q.vec_id <> n.vec_id
      AND q.tnorm > 0 AND n.tnorm > 0
  ) WHERE rank <= {TOP_K}
),
normed AS (
  SELECT vec_id, embedding, {_norm_sql('embedding', 'duck')} AS norm
  FROM embeddings
),
exact AS (
  SELECT q_id, n_id FROM (
    SELECT q.vec_id AS q_id, n.vec_id AS n_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_dot_sql('q.embedding', 'n.embedding', 'duck')}
                      / (q.norm * n.norm) DESC, n.vec_id
           ) AS rank
    FROM normed q CROSS JOIN normed n
    WHERE q.vec_id < {N_QUERIES} AND q.vec_id <> n.vec_id
  ) WHERE rank <= {TOP_K}
)
SELECT e.q_id,
       CAST(count(*) AS BIGINT) AS n_exact,
       CAST(sum(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hits,
       CAST(sum(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS recall
FROM exact e
LEFT JOIN approx a ON a.q_id = e.q_id AND a.n_id = e.n_id
GROUP BY e.q_id
"""


# --------------------------------------------------------------------------
# Cluster cohesion (per-label mean cosine to the label centroid)
# --------------------------------------------------------------------------

_COH_SCALE = 10**9


@query()
def cluster_cohesion_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(label, n_members, avg_cos, min_cos): how tightly each label's
    members hug their own centroid — the cohesion audit run after any
    clustering/labeling step (a label whose cohesion collapses is two
    clusters wearing one id; one whose min_cos is negative contains a
    mislabeled point). Centroids are the exact fixed-point means of
    label_centroids; per-member cosines fold (pos-aligned) products
    in a fixed order, and the per-label mean fixed-points each cosine
    before summing so the reduction is order-independent and
    cross-engine exact.

    Scale: one posexplode join on (label, pos) — partial-aggregatable
    at every step, shuffle keys never wider than (vec_id) or
    (label, pos); no |members| x |members| pair work (cohesion is
    member-to-centroid, not member-to-member)."""
    emb = tables.spread(tables.table(spark, sf_dir, "embeddings"), "vec_id")
    cent = label_centroids_query(spark, sf_dir).select(
        F.col("label").alias("c_label"),
        F.col("pos").alias("c_pos"),
        "centroid",
    )
    member = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos0", "x")
    ).select(
        "vec_id",
        "label",
        (F.col("pos0") + 1).alias("pos"),
        F.col("x").cast("double").alias("x"),
    )
    joined = member.join(
        cent,
        (member.label == cent.c_label) & (member.pos == cent.c_pos),
    )
    per_vec = joined.groupBy("vec_id", "label").agg(
        F.sum(
            F.floor(F.col("x") * F.col("centroid") * F.lit(_COH_SCALE)).cast(
                "bigint"
            )
        ).alias("dot_fp"),
        F.sum(
            F.floor(F.col("x") * F.col("x") * F.lit(_COH_SCALE)).cast("bigint")
        ).alias("m2_fp"),
        F.sum(
            F.floor(
                F.col("centroid") * F.col("centroid") * F.lit(_COH_SCALE)
            ).cast("bigint")
        ).alias("c2_fp"),
    )
    cos = F.when(
        (F.col("m2_fp") > 0) & (F.col("c2_fp") > 0),
        F.col("dot_fp").cast("double")
        / (
            F.sqrt(F.col("m2_fp").cast("double"))
            * F.sqrt(F.col("c2_fp").cast("double"))
        ),
    )
    scored = per_vec.select(
        "label", F.floor(cos * F.lit(_COH_SCALE)).cast("bigint").alias("cos_fp")
    ).filter(F.col("cos_fp").isNotNull())
    return scored.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        (
            F.sum("cos_fp").cast("double")
            / (F.count(F.lit(1)) * F.lit(_COH_SCALE)).cast("double")
        ).alias("avg_cos"),
        (
            F.min("cos_fp").cast("double") / F.lit(float(_COH_SCALE))
        ).alias("min_cos"),
    )


CLUSTER_COHESION_ORACLE = f"""
WITH cent AS (
  SELECT label, i AS pos,
         CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * {_FP_SCALE})
              AS BIGINT)) AS DOUBLE)
           / CAST(COUNT(*) * {_FP_SCALE} AS DOUBLE) AS centroid
  FROM embeddings, generate_series(1, {DIM}) AS t(i)
  GROUP BY label, i
),
member AS (
  SELECT vec_id, label, i AS pos,
         CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, generate_series(1, {DIM}) AS t(i)
),
per_vec AS (
  SELECT m.vec_id, m.label,
         CAST(sum(CAST(floor(m.x * c.centroid * {_COH_SCALE}) AS BIGINT))
              AS BIGINT) AS dot_fp,
         CAST(sum(CAST(floor(m.x * m.x * {_COH_SCALE}) AS BIGINT))
              AS BIGINT) AS m2_fp,
         CAST(sum(CAST(floor(c.centroid * c.centroid * {_COH_SCALE})
              AS BIGINT)) AS BIGINT) AS c2_fp
  FROM member m
  JOIN cent c ON c.label = m.label AND c.pos = m.pos
  GROUP BY m.vec_id, m.label
),
scored AS (
  SELECT label,
         CAST(floor(CASE WHEN m2_fp > 0 AND c2_fp > 0 THEN
           CAST(dot_fp AS DOUBLE)
             / (sqrt(CAST(m2_fp AS DOUBLE)) * sqrt(CAST(c2_fp AS DOUBLE)))
         END * {_COH_SCALE}) AS BIGINT) AS cos_fp
  FROM per_vec
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(sum(cos_fp) AS DOUBLE)
         / CAST(count(*) * {_COH_SCALE} AS DOUBLE) AS avg_cos,
       CAST(min(cos_fp) AS DOUBLE) / {_COH_SCALE}.0 AS min_cos
FROM scored
WHERE cos_fp IS NOT NULL
GROUP BY label
"""


# --------------------------------------------------------------------------
# kNN label purity (embedding-quality eval: neighbor label agreement)
# --------------------------------------------------------------------------


@query(family="sim")
def knn_label_purity_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(label, n_nodes, n_edges, n_same, purity): per-class neighbor
    label agreement over the kNN graph — the leave-one-out kNN
    classifier signal, THE standard cheap embedding-quality eval: if
    an embedding model is any good, a vector's nearest neighbors
    carry its own label, and a per-class purity drop after a model
    swap localizes exactly which classes the new space collapsed.
    purity = n_same / n_edges on exact integer counts (one
    correctly-rounded division; no floats anywhere else), so the
    whole eval is oracle-hash-checked.

    Scale: rides the shared pinned edge list (id-width rows); the
    label join is a broadcast against the corpus's (vec_id, label)
    projection, and the rollup is |labels|-sized —
    partial-aggregatable, no new quadratic stage."""
    edges = _knn_edges(spark, sf_dir)
    labels = tables.table(spark, sf_dir, "embeddings").select(
        "vec_id", "label"
    )
    q_lab = labels.select(
        F.col("vec_id").alias("q_id"), F.col("label").alias("q_label")
    )
    n_lab = labels.select(
        F.col("vec_id").alias("n_id"), F.col("label").alias("n_label")
    )
    per_node = (
        edges.join(q_lab, "q_id")
        .join(n_lab, "n_id")
        .groupBy("q_id", "q_label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("deg"),
            F.sum(
                F.when(F.col("q_label") == F.col("n_label"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("same"),
        )
    )
    return (
        per_node.groupBy(F.col("q_label").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.sum("deg").cast("bigint").alias("n_edges"),
            F.sum("same").cast("bigint").alias("n_same"),
        )
        .select(
            "label",
            "n_nodes",
            "n_edges",
            "n_same",
            (
                F.col("n_same").cast("double") / F.col("n_edges").cast("double")
            ).alias("purity"),
        )
    )


KNN_LABEL_PURITY_ORACLE = f"""
WITH {_DUCK_KNN_EDGES_CTES},
per_node AS (
  SELECT e.q_id, ql.label AS q_label,
         CAST(count(*) AS BIGINT) AS deg,
         CAST(sum(CASE WHEN ql.label = nl.label THEN 1 ELSE 0 END)
              AS BIGINT) AS same
  FROM edges e
  JOIN embeddings ql ON ql.vec_id = e.q_id
  JOIN embeddings nl ON nl.vec_id = e.n_id
  GROUP BY e.q_id, ql.label
)
SELECT q_label AS label,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(sum(deg) AS BIGINT) AS n_edges,
       CAST(sum(same) AS BIGINT) AS n_same,
       CAST(sum(same) AS DOUBLE) / CAST(sum(deg) AS DOUBLE) AS purity
FROM per_node
GROUP BY q_label
"""


# --------------------------------------------------------------------------
# MMR diversity re-rank (maximal marginal relevance over ANN candidates)
# --------------------------------------------------------------------------

MMR_K = 5   # results per query after re-rank
MMR_C = 16  # candidate pool per query entering the re-rank
# trade-off weight lambda = 1/2: exact dyadic, so every score is a
# deterministic combination of the fold-form cosines both engines
# compute bit-identically.


@query()
def mmr_rerank_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(q_id, step, vec_id, rel, mmr_score): Maximal Marginal
    Relevance re-ranking (Carbonell & Goldstein '98) — for each query
    vector, take the top-MMR_C cosine candidates, then greedily pick
    MMR_K results maximizing lambda*rel - (1-lambda)*max_sim_to_
    already_picked. THE standard diversity pass between ANN retrieval
    and a RAG prompt/dedup-aware search page: pure top-k returns
    near-duplicates of one good hit; MMR spends the same k slots
    covering distinct regions of the neighborhood.

    Greedy selection is inherently sequential in k but its state is
    BOUNDED (MMR_C candidates + MMR_C^2 pair sims per query), so it
    runs as ONE cogrouped applyInPandas stage — the exact case the
    escape hatch exists for (an unrolled k-stage dataframe form was
    measured first: bit-identical output, 13.5s vs ~2s warm at sf0.1
    purely from ~30 tiny shuffle stages of scheduling overhead).
    The relevance and pair cosines are computed JVM-side with the
    fold-form dot product and passed IN; Python only compares and
    halves them (exact IEEE ops), so the result stays bit-identical
    to the unrolled-SQL DuckDB oracle and the whole greedy
    trajectory is hash-checked, not rows-only.

    Scale: candidate generation is the ann_topk shape (broadcast
    query panel, one corpus scan, per-query top-C heap); the re-rank
    shuffles MMR_C + MMR_C^2 rows per query — constant per query
    however big the corpus is. Ties break on vec_id, so twin corpora
    stay deterministic."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.col("norm").alias("q_norm"),
    )
    corpus = emb.select(
        F.col("vec_id").alias("n_id"),
        F.col("embedding").alias("n_vec"),
        F.col("norm").alias("n_norm"),
    )
    rel = F.expr(_dot_sql("q_vec", "n_vec", "spark")) / (
        F.col("q_norm") * F.col("n_norm")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("rel"), F.asc("n_id"))
    cand = _pin(
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id", rel.alias("rel"), "n_vec", "n_norm")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= MMR_C)
    )
    sim = F.expr(_dot_sql("a_vec", "b_vec", "spark")) / (
        F.col("a_norm") * F.col("b_norm")
    )
    a = cand.select(
        "q_id",
        F.col("n_id").alias("a_id"),
        F.col("n_vec").alias("a_vec"),
        F.col("n_norm").alias("a_norm"),
    )
    b = cand.select(
        "q_id",
        F.col("n_id").alias("b_id"),
        F.col("n_vec").alias("b_vec"),
        F.col("n_norm").alias("b_norm"),
    )
    # sims' key is RENAMED (sq_id): pool and sims share the pinned
    # cand lineage, and cogrouping two frames over the same source
    # attribute trips Spark's ambiguous-self-join analyzer; cogroup
    # aligns grouping keys positionally, so the name may differ.
    sims = _pin(
        a.join(b, "q_id")
        .filter(F.col("a_id") != F.col("b_id"))
        .select(
            F.col("q_id").alias("sq_id"), "a_id", "b_id", sim.alias("sim")
        )
    )
    pool = cand.select("q_id", "n_id", "rel")

    def _greedy(cdf, sdf):
        import pandas as pd

        if cdf.empty:
            return pd.DataFrame(
                columns=["q_id", "step", "vec_id", "rel", "mmr_score"]
            )
        rel = dict(zip(cdf["n_id"], cdf["rel"]))
        sim = {
            (a, b): s
            for a, b, s in zip(sdf["a_id"], sdf["b_id"], sdf["sim"])
        }
        q = int(cdf["q_id"].iloc[0])
        chosen: list[tuple[int, float, float]] = []
        remaining = set(rel)
        for step in range(1, MMR_K + 1):
            if not remaining:
                break
            best = None
            for c in remaining:
                if step == 1:
                    sc = 0.5 * rel[c]
                else:
                    ms = max(sim[(c, s)] for s, _r, _s in chosen)
                    sc = 0.5 * rel[c] - 0.5 * ms
                # argmax with deterministic (score desc, id asc) ties
                if best is None or sc > best[1] or (
                    sc == best[1] and c < best[0]
                ):
                    best = (c, sc)
            chosen.append((best[0], rel[best[0]], best[1]))
            remaining.discard(best[0])
        return pd.DataFrame(
            {
                "q_id": [q] * len(chosen),
                "step": list(range(1, len(chosen) + 1)),
                "vec_id": [c for c, _r, _s in chosen],
                "rel": [r for _c, r, _s in chosen],
                "mmr_score": [s for _c, _r, s in chosen],
            }
        )

    return (
        pool.groupBy("q_id")
        .cogroup(sims.groupBy("sq_id"))
        .applyInPandas(
            _greedy,
            "q_id bigint, step int, vec_id bigint, rel double, "
            "mmr_score double",
        )
    )


def _mmr_oracle() -> str:
    dot_qn = _dot_sql("q.embedding", "e.embedding", "duck")
    dot_ab = _dot_sql("ca.n_vec", "cb.n_vec", "duck")
    nrm = _norm_sql("embedding", "duck")
    parts = [f"""
queries AS MATERIALIZED (
  SELECT vec_id AS q_id, embedding, {nrm} AS norm
  FROM embeddings WHERE vec_id < {N_QUERIES}
),
corpus AS MATERIALIZED (
  SELECT vec_id AS n_id, embedding, {nrm} AS norm FROM embeddings
),
cand AS MATERIALIZED (
  SELECT q_id, n_id, rel, n_vec, n_norm FROM (
    SELECT q.q_id, e.n_id,
           {dot_qn.replace('q.embedding', 'q.embedding').replace('e.embedding', 'e.embedding')}
             / (q.norm * e.norm) AS rel,
           e.embedding AS n_vec, e.norm AS n_norm,
           row_number() OVER (
             PARTITION BY q.q_id
             ORDER BY {dot_qn} / (q.norm * e.norm) DESC, e.n_id
           ) AS rk
    FROM queries q JOIN corpus e ON e.n_id <> q.q_id
  ) WHERE rk <= {MMR_C}
),
sims AS MATERIALIZED (
  SELECT ca.q_id, ca.n_id AS a_id, cb.n_id AS b_id,
         {dot_ab} / (ca.n_norm * cb.n_norm) AS sim
  FROM cand ca JOIN cand cb
    ON ca.q_id = cb.q_id AND ca.n_id <> cb.n_id
),
pool AS MATERIALIZED (SELECT q_id, n_id, rel FROM cand),
sel1 AS MATERIALIZED (
  SELECT q_id, 1 AS step, n_id AS vec_id, rel, 0.5 * rel AS mmr_score
  FROM (
    SELECT q_id, n_id, rel,
           row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, n_id)
             AS pk
    FROM pool
  ) WHERE pk = 1
),
chosen1 AS MATERIALIZED (SELECT q_id, step, vec_id, rel, mmr_score FROM sel1)"""]
    for step in range(2, MMR_K + 1):
        p = step - 1
        parts.append(f"""
sel{step} AS MATERIALIZED (
  SELECT q_id, {step} AS step, n_id AS vec_id, rel, sc AS mmr_score
  FROM (
    SELECT s.q_id, s.n_id, s.rel, s.sc,
           row_number() OVER (
             PARTITION BY s.q_id ORDER BY s.sc DESC, s.n_id
           ) AS pk
    FROM (
      SELECT r.q_id, r.n_id, r.rel,
             0.5 * r.rel - 0.5 * max(si.sim) AS sc
      FROM pool r
      JOIN sims si ON si.q_id = r.q_id AND si.a_id = r.n_id
      JOIN chosen{p} ch ON ch.q_id = si.q_id AND ch.vec_id = si.b_id
      WHERE NOT EXISTS (
        SELECT 1 FROM chosen{p} c2
        WHERE c2.q_id = r.q_id AND c2.vec_id = r.n_id
      )
      GROUP BY r.q_id, r.n_id, r.rel
    ) s
  ) WHERE pk = 1
),
chosen{step} AS MATERIALIZED (
  SELECT * FROM chosen{p} UNION ALL SELECT * FROM sel{step}
)""")
    return (
        "WITH "
        + ",".join(parts)
        + f"\nSELECT q_id, step, vec_id, rel, mmr_score FROM chosen{MMR_K}"
    )


MMR_RERANK_ORACLE = _mmr_oracle()


# --------------------------------------------------------------------------
# IVF probe-count recall curve (the recall/cost dial, measured)
# --------------------------------------------------------------------------

PROBE_CURVE_LEVELS = (1, 2, 4)


@query(family="sim")
def ivf_probe_recall_curve_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(nprobe, n_expected, n_hits, recall): recall@TOP_K of IVF
    search at nprobe = 1, 2, 4, all measured against the exact
    cosine top-k in ONE plan — the capacity-planning curve for the
    IVF dial (ivf_ann runs at a fixed N_PROBE; this query is how
    that constant gets CHOSEN: the knee of this curve is the probe
    budget where extra scanning stops buying recall).

    One plan, not three runs: every (query, cell) probe pair carries
    its probe rank pr; joining the literal level table on pr <= level
    replicates candidates at most |levels| times (bounded), and one
    window per (level, query) ranks them. The exact reference joins
    once at the end.

    Scale: the probed candidate join keys on the cell id exactly as
    ivf_ann; the replication factor is len(PROBE_CURVE_LEVELS); the
    reference is |queries| x TOP_K rows."""
    emb = _emb(spark, sf_dir)
    scores = _vec_cell_scores(spark, sf_dir)
    w_cell = Window.partitionBy("vec_id").orderBy("dist2", "c_label")
    max_probe = max(PROBE_CURVE_LEVELS)
    probes = (
        scores.filter(F.col("vec_id") < N_QUERIES)
        .withColumn("pr", F.row_number().over(w_cell))
        .filter(F.col("pr") <= max_probe)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("c_label").alias("cell"),
            "pr",
        )
    )
    levels = spark.createDataFrame(
        [(lv,) for lv in PROBE_CURVE_LEVELS], "nprobe int"
    )
    lev_probes = probes.join(
        F.broadcast(levels), F.col("pr") <= F.col("nprobe")
    ).select("nprobe", "q_id", "cell")
    assign = ivf_assign_query(spark, sf_dir).select(
        "vec_id", F.col("assigned_label").alias("cell")
    )
    corpus = emb.join(assign, "vec_id").select(
        F.col("vec_id").alias("n_id"),
        "cell",
        F.col("embedding").alias("n_vec"),
        F.col("norm").alias("n_norm"),
    )
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.col("norm").alias("q_norm"),
    )
    cosine = F.expr(_dot_sql("q_vec", "n_vec", "spark")) / (
        F.col("q_norm") * F.col("n_norm")
    )
    cand = (
        lev_probes.join(corpus, "cell")
        .join(F.broadcast(queries), "q_id")
        .filter(F.col("q_id") != F.col("n_id"))
        .select("nprobe", "q_id", "n_id", cosine.alias("cosine"))
    )
    w = Window.partitionBy("nprobe", "q_id").orderBy(
        F.col("cosine").desc(), F.col("n_id")
    )
    approx = (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("nprobe", "q_id", "n_id")
    )
    exact = ann_topk_query(spark, sf_dir).select("q_id", "n_id")
    hits = approx.join(exact, ["q_id", "n_id"], "left_semi")
    per_level = hits.groupBy("nprobe").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hits")
    )
    n_expected = exact.count()  # |queries| x TOP_K, a bounded scalar
    return (
        F.broadcast(levels)
        .join(per_level, "nprobe", "left")
        .select(
            "nprobe",
            F.lit(n_expected).cast("bigint").alias("n_expected"),
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            (
                F.coalesce("n_hits", F.lit(0)).cast("double")
                / F.lit(float(max(n_expected, 1)))
            ).alias("recall"),
        )
    )


IVF_PROBE_RECALL_CURVE_ORACLE = f"""
WITH {_DUCK_ASSIGN_CTES},
levels AS (SELECT unnest([{", ".join(str(x) for x in PROBE_CURVE_LEVELS)}]) AS nprobe),
probes AS (
  SELECT q_id, c_label, pr FROM (
    SELECT vec_id AS q_id, c_label,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist2, c_label)
               AS pr
    FROM scored WHERE vec_id < {N_QUERIES}
  )
  WHERE pr <= {max(PROBE_CURVE_LEVELS)}
),
normed AS MATERIALIZED (
  SELECT vec_id, embedding, {_norm_sql('embedding', 'duck')} AS norm
  FROM embeddings
),
approx AS MATERIALIZED (
  SELECT nprobe, q_id, n_id FROM (
    SELECT l.nprobe, p.q_id, n.vec_id AS n_id,
           row_number() OVER (
             PARTITION BY l.nprobe, p.q_id
             ORDER BY {_dot_sql('q.embedding', 'n.embedding', 'duck')}
                      / (q.norm * n.norm) DESC, n.vec_id
           ) AS rank
    FROM probes p
    JOIN levels l ON p.pr <= l.nprobe
    JOIN assign a ON a.c_label = p.c_label
    JOIN normed n ON n.vec_id = a.vec_id
    JOIN normed q ON q.vec_id = p.q_id
    WHERE n.vec_id <> p.q_id
  ) WHERE rank <= {TOP_K}
),
exact AS MATERIALIZED (
  SELECT q_id, n_id FROM (
    SELECT q.vec_id AS q_id, n.vec_id AS n_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_dot_sql('q.embedding', 'n.embedding', 'duck')}
                      / (q.norm * n.norm) DESC, n.vec_id
           ) AS rank
    FROM normed q JOIN normed n ON n.vec_id <> q.vec_id
    WHERE q.vec_id < {N_QUERIES}
  ) WHERE rank <= {TOP_K}
),
expected AS (SELECT CAST(count(*) AS BIGINT) AS n_expected FROM exact),
hits AS (
  SELECT a.nprobe, CAST(count(*) AS BIGINT) AS n_hits
  FROM approx a
  WHERE EXISTS (SELECT 1 FROM exact e
                WHERE e.q_id = a.q_id AND e.n_id = a.n_id)
  GROUP BY 1
)
SELECT l.nprobe, x.n_expected,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(coalesce(h.n_hits, 0) AS DOUBLE)
         / CAST(greatest(x.n_expected, 1) AS DOUBLE) AS recall
FROM levels l
CROSS JOIN expected x
LEFT JOIN hits h ON h.nprobe = l.nprobe
"""

# --------------------------------------------------------------------------
# IVF assignment-margin audit (quantizer boundary mass)
# --------------------------------------------------------------------------


@query()
def ivf_margin_audit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(bucket, n_vecs): histogram of each vector's RELATIVE
    assignment margin — (d2nd - d1st) / d2nd over the IVF cell
    distances, bucketed at floor(100 * margin) (PERCENT bins; in
    64-d, distance concentration squeezes relative margins into a
    few percent, so percent resolution is what actually separates
    the population) — the quantizer-confidence audit: bucket-0 mass
    is vectors sitting within 1% of a cell boundary, i.e. the
    population whose assignment flips under any centroid drift and
    whose recall depends on multi-probe. A boundary-heavy histogram
    says nprobe must rise or cells must split; a right-shifted one
    licenses nprobe = 1.

    Exactness: distances are the bit-identical fold-form dist^2 the
    assignment itself uses; ranks and buckets are integers off one
    window; the single division is guarded (d2nd = 0 exact-dup-with-
    centroid degenerates are excluded and counted in bucket -1).

    Scale: rides the |vectors| x |cells| broadcast score frame the
    assignment already computes; one window, one rollup."""
    scores = _vec_cell_scores(spark, sf_dir)
    w = Window.partitionBy("vec_id").orderBy("dist2", "c_label")
    top2 = (
        scores.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 2)
        .groupBy("vec_id")
        .agg(
            F.min(F.when(F.col("r") == 1, F.col("dist2"))).alias("d1"),
            F.min(F.when(F.col("r") == 2, F.col("dist2"))).alias("d2"),
        )
        .filter(F.col("d2").isNotNull())
    )
    bucket = F.when(
        F.col("d2") > 0,
        F.floor(100.0 * (F.col("d2") - F.col("d1")) / F.col("d2"))
        .cast("int"),
    ).otherwise(F.lit(-1))
    return top2.select(bucket.alias("bucket")).groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs")
    )


IVF_MARGIN_AUDIT_ORACLE = f"""
WITH {_DUCK_ASSIGN_CTES},
ranked AS (
  SELECT vec_id, dist2,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist2, c_label)
           AS r
  FROM scored
),
top2 AS (
  SELECT vec_id,
         min(CASE WHEN r = 1 THEN dist2 END) AS d1,
         min(CASE WHEN r = 2 THEN dist2 END) AS d2
  FROM ranked WHERE r <= 2 GROUP BY 1
)
SELECT CASE WHEN d2 > 0
            THEN CAST(floor(100.0 * (d2 - d1) / d2) AS INT)
            ELSE -1 END AS bucket,
       CAST(count(*) AS BIGINT) AS n_vecs
FROM top2
WHERE d2 IS NOT NULL
GROUP BY 1
"""

# --------------------------------------------------------------------------
# Simplified silhouette per label (centroid-based cluster quality)
# --------------------------------------------------------------------------

_SIL_FP = 1_000_000_000


@query()
def simplified_silhouette_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(label, n_vecs, mean_silhouette): the simplified (centroid-
    based) silhouette per label — s = (b - a) / max(a, b) with a =
    distance to the OWN label centroid and b = the nearest OTHER
    centroid distance, averaged per label. The standard clustering-
    quality read at corpus scale (the exact silhouette is all-pairs;
    the centroid form is the one production uses): labels near 0 are
    boundary-blurred with a neighbor, negative means systematically
    mislabeled — the upgrade over ``cluster_cohesion`` (own-centroid
    only), which cannot see BETWEEN-cluster confusion.

    Exactness: centroids are the fixed-point means (label_centroids'
    arithmetic) packed into pos-sorted arrays; distances are ordered
    zip_with folds; each silhouette is fixed-pointed independently
    (floor(1e9 s)) before the per-label integer mean — no unordered
    float sums anywhere.

    Scale: |labels| x dim centroid table broadcasts; one corpus pass
    scores |labels| distances per vector (bounded, in-codegen); one
    partial-aggregatable rollup."""
    emb = tables.spread(tables.table(spark, sf_dir, "embeddings"), "vec_id")
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("pos0", "x")
    ).select(
        "label",
        F.col("pos0").alias("pos"),
        F.floor(F.col("x").cast("double") * _FP_SCALE).alias("x_fp"),
    )
    cents = exploded.groupBy("label", "pos").agg(
        (
            F.sum("x_fp").cast("double")
            / (F.count(F.lit(1)) * F.lit(_FP_SCALE)).cast("double")
        ).alias("c")
    )
    packed = cents.groupBy("label").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(pos, c))), "
            "x -> x.c)"
        ).alias("carr")
    ).select(F.col("label").alias("c_label"), "carr")
    d2 = (
        "aggregate(zip_with(embedding, carr, (x, y) -> "
        "(cast(x as double) - y) * (cast(x as double) - y)), "
        "cast(0.0 as double), (acc, t) -> acc + t)"
    )
    scored = emb.crossJoin(F.broadcast(packed)).select(
        "vec_id",
        "label",
        "c_label",
        F.expr(d2).alias("d2"),
    )
    ab = scored.groupBy("vec_id", "label").agg(
        F.min(F.when(F.col("c_label") == F.col("label"), F.col("d2")))
        .alias("a2"),
        F.min(F.when(F.col("c_label") != F.col("label"), F.col("d2")))
        .alias("b2"),
    ).filter(F.col("a2").isNotNull() & F.col("b2").isNotNull())
    sil = ab.select(
        "label",
        F.floor(
            F.lit(float(_SIL_FP))
            * F.when(
                F.greatest(F.sqrt("a2"), F.sqrt("b2")) > 0,
                (F.sqrt("b2") - F.sqrt("a2"))
                / F.greatest(F.sqrt("a2"), F.sqrt("b2")),
            ).otherwise(F.lit(0.0))
        ).cast("bigint").alias("s_fp"),
    )
    return sil.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        (
            F.sum("s_fp").cast("double")
            / F.count(F.lit(1)).cast("double")
            / F.lit(float(_SIL_FP))
        ).alias("mean_silhouette"),
    )


SIMPLIFIED_SILHOUETTE_ORACLE = f"""
WITH cents AS MATERIALIZED (
  SELECT label, i - 1 AS pos,
         CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * {_FP_SCALE})
              AS BIGINT)) AS DOUBLE)
           / CAST(COUNT(*) * {_FP_SCALE} AS DOUBLE) AS c
  FROM embeddings, generate_series(1, {DIM}) AS t(i)
  GROUP BY label, i
),
packed AS MATERIALIZED (
  SELECT label AS c_label, list(c ORDER BY pos) AS carr
  FROM cents GROUP BY label
),
scored AS (
  SELECT e.vec_id, e.label, p.c_label,
         list_reduce(list_transform(generate_series(1, {DIM}),
             t -> (CAST(e.embedding[t] AS DOUBLE) - p.carr[t])
                  * (CAST(e.embedding[t] AS DOUBLE) - p.carr[t])),
           (a, b) -> a + b) AS d2
  FROM embeddings e CROSS JOIN packed p
),
ab AS (
  SELECT vec_id, label,
         min(CASE WHEN c_label = label THEN d2 END) AS a2,
         min(CASE WHEN c_label <> label THEN d2 END) AS b2
  FROM scored GROUP BY 1, 2
),
sil AS (
  SELECT label,
         CAST(floor(CAST({_SIL_FP} AS DOUBLE) *
           CASE WHEN greatest(sqrt(a2), sqrt(b2)) > 0
                THEN (sqrt(b2) - sqrt(a2)) / greatest(sqrt(a2), sqrt(b2))
                ELSE 0.0 END) AS BIGINT) AS s_fp
  FROM ab WHERE a2 IS NOT NULL AND b2 IS NOT NULL
)
SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(s_fp) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         / CAST({_SIL_FP} AS DOUBLE) AS mean_silhouette
FROM sil GROUP BY 1
"""


# --------------------------------------------------------------------------
# Centroid-shift drift between ingestion halves
# --------------------------------------------------------------------------


@query()
def centroid_shift_drift_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(label, n_first, n_second, l2_shift): per label, the L2
    distance between the centroid of the FIRST ingestion half and the
    SECOND (halves by vec_id against the observed id range — the
    novelty_decay_curve construction, no global ranking window). The
    re-embedding / upstream-drift tripwire at the distribution level:
    a label whose centroid moves between halves means the encoder or
    the source mix changed mid-corpus, and every centroid-anchored
    structure (IVF cells, silhouettes, semantic dedup) is straddling
    two regimes.

    Exactness: per-(label, half, pos) fixed-point means (the
    label_centroids arithmetic), the shift is an ordered fold over
    the pos-sorted squared differences, one final sqrt.

    Scale: one posexplode rollup to |labels| x 2 x dim cells; the
    join/fold run on that bounded frame."""
    emb = tables.spread(tables.table(spark, sf_dir, "embeddings"), "vec_id")
    bounds = emb.agg(
        F.min("vec_id").cast("bigint").alias("lo"),
        F.max("vec_id").cast("bigint").alias("hi"),
    )
    halved = emb.crossJoin(F.broadcast(bounds)).select(
        "label",
        "embedding",
        F.expr("((vec_id - lo) * 2) div (hi - lo + 1)")
        .cast("int")
        .alias("half"),
    )
    exploded = halved.select(
        "label",
        "half",
        F.posexplode("embedding").alias("pos", "x"),
    ).select(
        "label",
        "half",
        "pos",
        F.floor(F.col("x").cast("double") * _FP_SCALE).alias("x_fp"),
    )
    cents = exploded.groupBy("label", "half", "pos").agg(
        (
            F.sum("x_fp").cast("double")
            / (F.count(F.lit(1)) * F.lit(_FP_SCALE)).cast("double")
        ).alias("c")
    )
    counts = halved.groupBy("label", "half").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    c0 = cents.filter(F.col("half") == 0).select(
        "label", "pos", F.col("c").alias("c0")
    )
    c1 = cents.filter(F.col("half") == 1).select(
        "label", "pos", F.col("c").alias("c1")
    )
    diff = c0.join(c1, ["label", "pos"]).groupBy("label").agg(
        F.sqrt(
            F.expr(
                "aggregate(transform(array_sort(collect_list("
                "struct(pos, c0, c1))), x -> (x.c0 - x.c1) "
                "* (x.c0 - x.c1)), cast(0.0 as double), (a, t) -> a + t)"
            )
        ).alias("l2_shift")
    )
    n0 = counts.filter(F.col("half") == 0).select(
        "label", F.col("n").alias("n_first")
    )
    n1 = counts.filter(F.col("half") == 1).select(
        "label", F.col("n").alias("n_second")
    )
    return (
        diff.join(n0, "label")
        .join(n1, "label")
        .select("label", "n_first", "n_second", "l2_shift")
    )


CENTROID_SHIFT_DRIFT_ORACLE = f"""
WITH bounds AS (
  SELECT CAST(min(vec_id) AS BIGINT) AS lo,
         CAST(max(vec_id) AS BIGINT) AS hi
  FROM embeddings
),
halved AS MATERIALIZED (
  SELECT e.label, e.embedding,
         CAST(((e.vec_id - b.lo) * 2) // (b.hi - b.lo + 1) AS INT) AS half
  FROM embeddings e, bounds b
),
cents AS MATERIALIZED (
  SELECT label, half, i - 1 AS pos,
         CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * {_FP_SCALE})
              AS BIGINT)) AS DOUBLE)
           / CAST(COUNT(*) * {_FP_SCALE} AS DOUBLE) AS c
  FROM halved, generate_series(1, {DIM}) AS t(i)
  GROUP BY label, half, i
),
counts AS (
  SELECT label, half, CAST(count(*) AS BIGINT) AS n
  FROM halved GROUP BY 1, 2
),
diff AS (
  SELECT c0.label,
         sqrt(list_reduce(list_transform(
             list({{'c0': c0.c, 'c1': c1.c}} ORDER BY c0.pos),
             x -> (x.c0 - x.c1) * (x.c0 - x.c1)), (a, b) -> a + b))
           AS l2_shift
  FROM (SELECT * FROM cents WHERE half = 0) c0
  JOIN (SELECT * FROM cents WHERE half = 1) c1
    ON c1.label = c0.label AND c1.pos = c0.pos
  GROUP BY c0.label
)
SELECT d.label, n0.n AS n_first, n1.n AS n_second, d.l2_shift
FROM diff d
JOIN (SELECT label, n FROM counts WHERE half = 0) n0 ON n0.label = d.label
JOIN (SELECT label, n FROM counts WHERE half = 1) n1 ON n1.label = d.label
"""


# --------------------------------------------------------------------------
# Nearest-centroid classifier confusion matrix
# --------------------------------------------------------------------------


@query(family="sim")
def ncc_confusion_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(orig_label, assigned_label, n, row_frac, is_correct): the
    confusion matrix of the nearest-class-centroid classifier over
    the embedding space — each vector assigned to its closest label
    centroid (exactly ivf_assign's quantizer step read as a
    classifier). NCC accuracy is the standard cheap probe of
    embedding linear separability (a Rocchio/prototype classifier):
    the diagonal mass says whether labels form compact separated
    clusters BEFORE anyone trains a probe model, and the off-diagonal
    cells name which label pairs bleed into each other — the
    label-noise / taxonomy-merge signal at curation time.

    Exactness: rides ivf_assign's deterministic assignment (fold-form
    dot products, ties to the lower label); counts are exact; the row
    fraction is one division per |labels|^2 cell.

    Scale: one assignment pass (centroid table broadcast), then a
    |labels|^2 rollup — partial-aggregatable, nothing pairwise."""
    assign = ivf_assign_query(spark, sf_dir).select(
        "orig_label", "assigned_label"
    )
    counts = assign.groupBy("orig_label", "assigned_label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    row_tot = counts.groupBy("orig_label").agg(
        F.sum("n").cast("bigint").alias("t")
    )
    return counts.join(F.broadcast(row_tot), "orig_label").select(
        "orig_label",
        "assigned_label",
        "n",
        (F.col("n").cast("double") / F.col("t").cast("double")).alias(
            "row_frac"
        ),
        (F.col("orig_label") == F.col("assigned_label")).alias(
            "is_correct"
        ),
    )


NCC_CONFUSION_ORACLE = f"""
WITH {_DUCK_ASSIGN_CTES},
counts AS (
  SELECT orig_label, c_label AS assigned_label,
         CAST(count(*) AS BIGINT) AS n
  FROM assign GROUP BY 1, 2
),
row_tot AS (
  SELECT orig_label, CAST(sum(n) AS BIGINT) AS t FROM counts GROUP BY 1
)
SELECT c.orig_label, c.assigned_label, c.n,
       CAST(c.n AS DOUBLE) / CAST(r.t AS DOUBLE) AS row_frac,
       c.orig_label = c.assigned_label AS is_correct
FROM counts c JOIN row_tot r USING (orig_label)
"""


# --------------------------------------------------------------------------
# Adamic-Adar link prediction over the kNN graph
# --------------------------------------------------------------------------

_AA_FP = 1_000_000_000  # 1e9 fixed point for 1/ln(deg) terms


@query(family="sim")
def adamic_adar_links_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_a, vec_b, cn, aa_fp, aa): Adamic-Adar link-prediction
    scores over the cell-blocked kNN graph — for every pair of
    vectors sharing at least one common out-neighbor,
    aa = sum over common neighbors z of 1/ln(indeg(z)), the classic
    "rare shared neighbors count more" score. In a corpus pipeline
    this ranks MISSING edges of the semantic graph: pairs the kNN
    construction didn't connect but whose neighborhoods overlap —
    dedup candidates one hop beyond what ivf_near_dup emits, and the
    candidate-generation step of graph-based retrieval indexes
    (HNSW-style link repair reads exactly this signal).

    Exactness: indeg is an exact BIGINT count over the pinned edge
    list; each z's term floors 1e9/ln(indeg(z)) to BIGINT BEFORE the
    per-pair sum (a common neighbor has indeg >= 2 by construction —
    both endpoints point at it — so ln >= ln 2 and the division is
    safe); aa is one final division.

    Scale: the common-neighbor join keys edges on the shared
    neighbor id: cost sum_z indeg(z)^2, the hubness-audit quantity —
    bounded because sub-cell blocking caps cell sizes (worst-case
    indeg ~ |cell|); every frame is id-width."""
    edges = _knn_edges(spark, sf_dir).select("q_id", "n_id")
    indeg = edges.groupBy("n_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    )
    # a COMMON neighbor has indeg >= 2 by construction, so restricting
    # the term table to deg >= 2 is lossless — and keeps ln(deg) > 0
    # out of ANSI division-by-zero territory for deg-1 leaves
    terms = indeg.filter(F.col("deg") >= 2).select(
        "n_id",
        F.expr(
            f"cast(floor({float(_AA_FP)!r} / ln(cast(deg as double))) "
            "as bigint)"
        ).alias("term_fp"),
    )
    a = edges.select(F.col("q_id").alias("vec_a"), "n_id")
    b = edges.select(F.col("q_id").alias("vec_b"), "n_id")
    return (
        a.join(b, "n_id")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .join(terms, "n_id")
        .groupBy("vec_a", "vec_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cn"),
            F.sum("term_fp").cast("bigint").alias("aa_fp"),
            (
                F.sum("term_fp").cast("double") / F.lit(float(_AA_FP))
            ).alias("aa"),
        )
    )


ADAMIC_ADAR_LINKS_ORACLE = f"""
WITH {_DUCK_KNN_EDGES_CTES},
indeg AS (
  SELECT n_id, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY 1
),
terms AS (
  SELECT n_id,
         CAST(floor({float(_AA_FP)!r} / ln(CAST(deg AS DOUBLE)))
              AS BIGINT) AS term_fp
  FROM indeg WHERE deg >= 2
)
SELECT a.q_id AS vec_a, b.q_id AS vec_b,
       CAST(count(*) AS BIGINT) AS cn,
       CAST(sum(t.term_fp) AS BIGINT) AS aa_fp,
       CAST(sum(t.term_fp) AS DOUBLE) / {float(_AA_FP)!r} AS aa
FROM edges a
JOIN edges b ON b.n_id = a.n_id AND a.q_id < b.q_id
JOIN terms t ON t.n_id = a.n_id
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Davies-Bouldin index per label
# --------------------------------------------------------------------------

_DB_FP = 1_000_000_000  # 1e9 per-vector own-centroid distance fixed point


@query()
def davies_bouldin_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(label, n_vecs, s_mean, worst_label, db_ratio): the
    Davies-Bouldin clustering-quality readout per label — dispersion
    s_i = mean member distance to the OWN centroid, and db_ratio =
    max over other labels of (s_i + s_j) / d(c_i, c_j), the
    worst-case "how mergeable is this label with its most-confusable
    neighbor" (higher = worse; the global DB index is the mean of the
    column). Complements simplified_silhouette: silhouette scores
    each VECTOR's boundary position, DB scores each LABEL pair's
    separation-vs-spread — the readout taxonomy decisions read.

    Exactness: centroids are the fixed-point means (label_centroids
    arithmetic) packed into pos-sorted arrays; per-vector distances
    are ordered zip_with folds fixed-pointed per vector
    (floor(1e9*d)) before the per-label integer mean; the pairwise
    centroid distances are identical-input ordered folds, so the
    argmax over j (ties to the lower label) is deterministic
    cross-engine.

    Scale: the centroid table broadcasts; ONE corpus pass scores the
    own-centroid distance per vector; all pairwise work runs on the
    |labels|^2 frame."""
    emb = tables.spread(tables.table(spark, sf_dir, "embeddings"), "vec_id")
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("pos0", "x")
    ).select(
        "label",
        F.col("pos0").alias("pos"),
        F.floor(F.col("x").cast("double") * _FP_SCALE).alias("x_fp"),
    )
    cents = exploded.groupBy("label", "pos").agg(
        (
            F.sum("x_fp").cast("double")
            / (F.count(F.lit(1)) * F.lit(_FP_SCALE)).cast("double")
        ).alias("c")
    )
    packed = cents.groupBy("label").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(pos, c))), "
            "x -> x.c)"
        ).alias("carr")
    ).select(F.col("label").alias("c_label"), "carr")
    d2_own = (
        "aggregate(zip_with(embedding, carr, (x, y) -> "
        "(cast(x as double) - y) * (cast(x as double) - y)), "
        "cast(0.0 as double), (acc, t) -> acc + t)"
    )
    disp = (
        emb.join(
            F.broadcast(packed), F.col("label") == F.col("c_label")
        )
        .select(
            "label",
            F.floor(
                F.lit(float(_DB_FP)) * F.sqrt(F.expr(d2_own))
            ).cast("bigint").alias("d_fp"),
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.sum("d_fp").cast("bigint").alias("sum_fp"),
        )
    )
    a = packed.select(
        F.col("c_label").alias("la"), F.col("carr").alias("ca")
    )
    b = packed.select(
        F.col("c_label").alias("lb"), F.col("carr").alias("cb")
    )
    dcent = (
        "sqrt(aggregate(zip_with(ca, cb, (x, y) -> (x - y) * (x - y)), "
        "cast(0.0 as double), (acc, t) -> acc + t))"
    )
    da = disp.select(
        F.col("label").alias("la"),
        F.col("n_vecs").alias("n_a"),
        F.col("sum_fp").alias("sfa"),
    )
    db_ = disp.select(
        F.col("label").alias("lb"),
        F.col("n_vecs").alias("n_b"),
        F.col("sum_fp").alias("sfb"),
    )
    pairs = (
        a.join(F.broadcast(b), F.col("la") != F.col("lb"))
        .join(F.broadcast(da), "la")
        .join(F.broadcast(db_), "lb")
        .select(
            "la",
            "lb",
            "n_a",
            "sfa",
            (
                (
                    F.col("sfa").cast("double")
                    / F.col("n_a").cast("double")
                    + F.col("sfb").cast("double")
                    / F.col("n_b").cast("double")
                )
                / F.lit(float(_DB_FP))
                / F.expr(dcent)
            ).alias("ratio"),
        )
    )
    w = Window.partitionBy("la").orderBy(
        F.col("ratio").desc(), F.col("lb").asc()
    )
    best = pairs.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    return best.select(
        F.col("la").alias("label"),
        F.col("n_a").alias("n_vecs"),
        (
            F.col("sfa").cast("double")
            / F.col("n_a").cast("double")
            / F.lit(float(_DB_FP))
        ).alias("s_mean"),
        F.col("lb").alias("worst_label"),
        F.col("ratio").alias("db_ratio"),
    )


DAVIES_BOULDIN_ORACLE = f"""
WITH cents AS MATERIALIZED (
  SELECT label, i - 1 AS pos,
         CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * {_FP_SCALE})
              AS BIGINT)) AS DOUBLE)
           / CAST(COUNT(*) * {_FP_SCALE} AS DOUBLE) AS c
  FROM embeddings, generate_series(1, {DIM}) AS t(i)
  GROUP BY label, i
),
packed AS MATERIALIZED (
  SELECT label AS c_label, list(c ORDER BY pos) AS carr
  FROM cents GROUP BY label
),
disp AS MATERIALIZED (
  SELECT e.label,
         CAST(count(*) AS BIGINT) AS n_vecs,
         CAST(sum(CAST(floor({float(_DB_FP)!r} * sqrt(
           list_reduce(list_transform(generate_series(1, {DIM}),
               t -> (CAST(e.embedding[t] AS DOUBLE) - p.carr[t])
                    * (CAST(e.embedding[t] AS DOUBLE) - p.carr[t])),
             (a, b) -> a + b))) AS BIGINT)) AS BIGINT) AS sum_fp
  FROM embeddings e JOIN packed p ON p.c_label = e.label
  GROUP BY 1
),
pairs AS (
  SELECT a.c_label AS la, b.c_label AS lb,
         da.n_vecs AS n_a, da.sum_fp AS sfa,
         (CAST(da.sum_fp AS DOUBLE) / CAST(da.n_vecs AS DOUBLE)
          + CAST(dbx.sum_fp AS DOUBLE) / CAST(dbx.n_vecs AS DOUBLE))
           / {float(_DB_FP)!r}
           / sqrt(list_reduce(list_transform(generate_series(1, {DIM}),
                 t -> (a.carr[t] - b.carr[t]) * (a.carr[t] - b.carr[t])),
               (x, y) -> x + y)) AS ratio
  FROM packed a
  JOIN packed b ON a.c_label <> b.c_label
  JOIN disp da ON da.label = a.c_label
  JOIN disp dbx ON dbx.label = b.c_label
),
best AS (
  SELECT la, lb, n_a, sfa, ratio,
         row_number() OVER (
           PARTITION BY la ORDER BY ratio DESC, lb ASC
         ) AS rn
  FROM pairs
)
SELECT la AS label, n_a AS n_vecs,
       CAST(sfa AS DOUBLE) / CAST(n_a AS DOUBLE) / {float(_DB_FP)!r}
         AS s_mean,
       lb AS worst_label, ratio AS db_ratio
FROM best WHERE rn = 1
"""


# --------------------------------------------------------------------------
# Label Gini impurity per IVF cell
# --------------------------------------------------------------------------


@query(family="sim")
def cell_label_gini_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cell, n_vecs, n_labels, majority_label, gini_num, gini): the
    Gini impurity of the TRUE label distribution inside each IVF
    quantizer cell — gini = 1 - sum_l (n_l/n)^2, carried as the exact
    integer numerator gini_num = n^2 - sum n_l^2 over denominator
    n^2. Zero means the quantizer's cells align with the labeling
    (cell routing can stand in for classification); high impurity
    cells are where ANN search pays its recall tax and where
    knn_label_purity's noise flags will concentrate — this is the
    CELL-level rollup of that per-vector story.

    Exactness: pure integer counts; the majority label ties to the
    LOWER label id via a deterministic rank; gini is one final
    division. Scale: one assignment pass (centroids broadcast), a
    |cells| x |labels| rollup, then |cells|-sized frames."""
    assign = ivf_assign_query(spark, sf_dir).select(
        F.col("assigned_label").alias("cell"), "orig_label"
    )
    counts = assign.groupBy("cell", "orig_label").agg(
        F.count(F.lit(1)).cast("bigint").alias("nl")
    )
    w = Window.partitionBy("cell").orderBy(
        F.col("nl").desc(), F.col("orig_label").asc()
    )
    ranked = counts.withColumn("rn", F.row_number().over(w))
    agg = counts.groupBy("cell").agg(
        F.sum("nl").cast("bigint").alias("n_vecs"),
        F.count(F.lit(1)).cast("bigint").alias("n_labels"),
        F.sum(F.col("nl") * F.col("nl")).cast("bigint").alias("sum_sq"),
    )
    maj = ranked.filter(F.col("rn") == 1).select(
        "cell", F.col("orig_label").alias("majority_label")
    )
    return agg.join(F.broadcast(maj), "cell").select(
        "cell",
        "n_vecs",
        "n_labels",
        "majority_label",
        (
            F.col("n_vecs") * F.col("n_vecs") - F.col("sum_sq")
        ).cast("bigint").alias("gini_num"),
        (
            (F.col("n_vecs") * F.col("n_vecs") - F.col("sum_sq"))
            .cast("double")
            / (F.col("n_vecs") * F.col("n_vecs")).cast("double")
        ).alias("gini"),
    )


CELL_LABEL_GINI_ORACLE = f"""
WITH {_DUCK_ASSIGN_CTES},
counts AS (
  SELECT c_label AS cell, orig_label, CAST(count(*) AS BIGINT) AS nl
  FROM assign GROUP BY 1, 2
),
agg AS (
  SELECT cell,
         CAST(sum(nl) AS BIGINT) AS n_vecs,
         CAST(count(*) AS BIGINT) AS n_labels,
         CAST(sum(nl * nl) AS BIGINT) AS sum_sq
  FROM counts GROUP BY 1
),
maj AS (
  SELECT cell, orig_label AS majority_label
  FROM (
    SELECT cell, orig_label,
           row_number() OVER (
             PARTITION BY cell ORDER BY nl DESC, orig_label ASC
           ) AS rn
    FROM counts
  ) WHERE rn = 1
)
SELECT a.cell, a.n_vecs, a.n_labels, m.majority_label,
       CAST(a.n_vecs * a.n_vecs - a.sum_sq AS BIGINT) AS gini_num,
       CAST(a.n_vecs * a.n_vecs - a.sum_sq AS DOUBLE)
         / CAST(a.n_vecs * a.n_vecs AS DOUBLE) AS gini
FROM agg a JOIN maj m USING (cell)
"""


# --------------------------------------------------------------------------
# V-measure of the quantizer cells against the true labels
# --------------------------------------------------------------------------

_VM_FP = 1_000_000  # 1e6 fixed point for per-cell ln terms (token_entropy's)


@query(family="sim")
def v_measure_cells_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n, n_cells, n_labels, hlc_fp, hcl_fp, hl_fp, hc_fp,
    homogeneity, completeness, v_measure): the information-theoretic
    cluster-quality triple over the IVF quantizer's cells vs the true
    labels — homogeneity = 1 - H(label|cell)/H(label), completeness =
    1 - H(cell|label)/H(cell), V = their harmonic mean. The
    entropy-based complement of cell_label_gini: Gini says how mixed
    each cell is; V-measure says whether the PARTITION as a whole
    both isolates labels (h) and keeps each label together (c) — the
    quantizer-quality readout ANN recall ultimately traces back to.

    Exactness (token_entropy's discipline): every conditional/marginal
    entropy is carried as an exact BIGINT fixed-point sum
    sum(n_xy * floor(1e6 * ln(n_x / n_xy))) — counts are exact
    integers, ln() of an integer ratio is floored once per distinct
    cell — so the four *_fp columns hash bit-exactly and the three
    scores are final-step divisions.

    Scale: one assignment pass (centroids broadcast), then a
    |cells| x |labels| rollup; everything after is dimension-sized.
    Cites reference WordCountTopology.java:33 count() as the nearest
    scaffold analog (grouped counting); the information-theoretic
    rollup is a north-star addition."""
    assign = ivf_assign_query(spark, sf_dir).select(
        F.col("assigned_label").alias("cell"), F.col("orig_label").alias("lbl")
    )
    joint = _pin(
        assign.groupBy("cell", "lbl").agg(
            F.count(F.lit(1)).cast("bigint").alias("ncl")
        )
    )
    cells = joint.groupBy("cell").agg(
        F.sum("ncl").cast("bigint").alias("nc")
    )
    labels = joint.groupBy("lbl").agg(
        F.sum("ncl").cast("bigint").alias("nl")
    )
    n = joint.agg(F.sum("ncl").cast("bigint").alias("n"))

    def _fp(num: F.Column, den: F.Column) -> F.Column:
        # n_xy * floor(FP * ln(n_x / n_xy)) — the product runs through
        # DECIMAL (burrows_delta's r09 fix pattern): as a raw BIGINT it
        # overflows int64 once counts approach ~3e11 with ln factors of
        # ~3e7 (plausible at extreme corpus scale). The final total is
        # cast back to BIGINT at the output boundary (driver canon bans
        # top-level DECIMAL); ANSI mode makes any residual total
        # overflow loud, never silent.
        return F.sum(
            den.cast("decimal(19,0)")
            * F.floor(
                F.lit(_VM_FP)
                * F.log(num.cast("double") / den.cast("double"))
            ).cast("bigint")
        ).cast("decimal(38,0)").cast("bigint")

    cond = (
        joint.join(F.broadcast(cells), "cell")
        .join(F.broadcast(labels), "lbl")
        .agg(
            _fp(F.col("nc"), F.col("ncl")).alias("hlc_fp"),
            _fp(F.col("nl"), F.col("ncl")).alias("hcl_fp"),
        )
    )
    hl = labels.crossJoin(F.broadcast(n)).agg(
        _fp(F.col("n"), F.col("nl")).alias("hl_fp")
    )
    hc = cells.crossJoin(F.broadcast(n)).agg(
        _fp(F.col("n"), F.col("nc")).alias("hc_fp")
    )
    dims = joint.agg(
        F.countDistinct("cell").cast("bigint").alias("n_cells"),
        F.countDistinct("lbl").cast("bigint").alias("n_labels"),
    )
    h = F.when(
        F.col("hl_fp") > 0,
        F.lit(1.0) - F.col("hlc_fp").cast("double") / F.col("hl_fp").cast("double"),
    ).otherwise(F.lit(1.0))
    c = F.when(
        F.col("hc_fp") > 0,
        F.lit(1.0) - F.col("hcl_fp").cast("double") / F.col("hc_fp").cast("double"),
    ).otherwise(F.lit(1.0))
    return (
        n.crossJoin(F.broadcast(dims))
        .crossJoin(F.broadcast(cond))
        .crossJoin(F.broadcast(hl))
        .crossJoin(F.broadcast(hc))
        .select(
            "n",
            "n_cells",
            "n_labels",
            "hlc_fp",
            "hcl_fp",
            "hl_fp",
            "hc_fp",
            h.alias("homogeneity"),
            c.alias("completeness"),
            F.when(
                (h + c) > 0, F.lit(2.0) * h * c / (h + c)
            ).otherwise(F.lit(0.0)).alias("v_measure"),
        )
    )


V_MEASURE_CELLS_ORACLE = f"""
WITH {_DUCK_ASSIGN_CTES},
joint AS (
  SELECT c_label AS cell, orig_label AS lbl,
         CAST(count(*) AS BIGINT) AS ncl
  FROM assign GROUP BY 1, 2
),
cells AS (SELECT cell, CAST(sum(ncl) AS BIGINT) AS nc FROM joint GROUP BY 1),
labels AS (SELECT lbl, CAST(sum(ncl) AS BIGINT) AS nl FROM joint GROUP BY 1),
tot AS (SELECT CAST(sum(ncl) AS BIGINT) AS n FROM joint),
cond AS (
  SELECT CAST(sum(CAST(j.ncl AS DECIMAL(19,0)) * CAST(floor({_VM_FP} * ln(
             CAST(c.nc AS DOUBLE) / CAST(j.ncl AS DOUBLE))) AS BIGINT))
           AS BIGINT) AS hlc_fp,
         CAST(sum(CAST(j.ncl AS DECIMAL(19,0)) * CAST(floor({_VM_FP} * ln(
             CAST(l.nl AS DOUBLE) / CAST(j.ncl AS DOUBLE))) AS BIGINT))
           AS BIGINT) AS hcl_fp
  FROM joint j JOIN cells c USING (cell) JOIN labels l USING (lbl)
),
hl AS (
  SELECT CAST(sum(CAST(nl AS DECIMAL(19,0)) * CAST(floor({_VM_FP} * ln(
             CAST(t.n AS DOUBLE) / CAST(nl AS DOUBLE))) AS BIGINT))
           AS BIGINT) AS hl_fp
  FROM labels CROSS JOIN tot t
),
hc AS (
  SELECT CAST(sum(CAST(nc AS DECIMAL(19,0)) * CAST(floor({_VM_FP} * ln(
             CAST(t.n AS DOUBLE) / CAST(nc AS DOUBLE))) AS BIGINT))
           AS BIGINT) AS hc_fp
  FROM cells CROSS JOIN tot t
),
dims AS (
  SELECT CAST(count(DISTINCT cell) AS BIGINT) AS n_cells,
         CAST(count(DISTINCT lbl) AS BIGINT) AS n_labels
  FROM joint
)
SELECT t.n, d.n_cells, d.n_labels,
       co.hlc_fp, co.hcl_fp, h1.hl_fp, h2.hc_fp,
       CASE WHEN h1.hl_fp > 0
            THEN 1.0 - CAST(co.hlc_fp AS DOUBLE) / CAST(h1.hl_fp AS DOUBLE)
            ELSE 1.0 END AS homogeneity,
       CASE WHEN h2.hc_fp > 0
            THEN 1.0 - CAST(co.hcl_fp AS DOUBLE) / CAST(h2.hc_fp AS DOUBLE)
            ELSE 1.0 END AS completeness,
       CASE WHEN (CASE WHEN h1.hl_fp > 0
                       THEN 1.0 - CAST(co.hlc_fp AS DOUBLE)
                            / CAST(h1.hl_fp AS DOUBLE) ELSE 1.0 END
                  + CASE WHEN h2.hc_fp > 0
                         THEN 1.0 - CAST(co.hcl_fp AS DOUBLE)
                              / CAST(h2.hc_fp AS DOUBLE) ELSE 1.0 END) > 0
            THEN 2.0
                 * (CASE WHEN h1.hl_fp > 0
                         THEN 1.0 - CAST(co.hlc_fp AS DOUBLE)
                              / CAST(h1.hl_fp AS DOUBLE) ELSE 1.0 END)
                 * (CASE WHEN h2.hc_fp > 0
                         THEN 1.0 - CAST(co.hcl_fp AS DOUBLE)
                              / CAST(h2.hc_fp AS DOUBLE) ELSE 1.0 END)
                 / ((CASE WHEN h1.hl_fp > 0
                          THEN 1.0 - CAST(co.hlc_fp AS DOUBLE)
                               / CAST(h1.hl_fp AS DOUBLE) ELSE 1.0 END)
                    + (CASE WHEN h2.hc_fp > 0
                            THEN 1.0 - CAST(co.hcl_fp AS DOUBLE)
                                 / CAST(h2.hc_fp AS DOUBLE) ELSE 1.0 END))
            ELSE 0.0 END AS v_measure
FROM tot t
CROSS JOIN dims d CROSS JOIN cond co CROSS JOIN hl h1 CROSS JOIN hc h2
"""


# --------------------------------------------------------------------------
# Recall@k curve: IVF-probed search vs the exact reference, per cutoff
# --------------------------------------------------------------------------


@query(family="sim")
def recall_at_k_curve_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(k, n_exact, n_hits, recall): the IVF search's recall measured
    against the exact top-k reference at EVERY cutoff k in {1, 3,
    TOP_K}, from one pass over the two (already bounded) rankings.
    The single-k recall gates (ivf_margin_audit & friends) answer
    "is nprobe enough at k"; the curve answers WHERE the recall
    budget erodes as k grows — the dial a 100 TB corpus tunes before
    raising nprobe (paying cells) versus raising k (paying re-rank).

    Exactness: both rankings are themselves hash-checked queries
    (ann_topk, ivf_ann) with deterministic total orders; hits and
    denominators are exact integer counts; recall is one division.

    Scale: both inputs are |queries| x TOP_K rows by construction —
    this is a composition over bounded frames, the corpus never
    re-scans (the rankings derive from the shared assignment/probe
    chain Catalyst already prunes)."""
    exact = ann_topk_query(spark, sf_dir).select(
        "q_id", "n_id", F.col("rank").alias("e_rank")
    )
    probed = ivf_ann_query(spark, sf_dir).select(
        "q_id", "n_id", F.col("rank").alias("p_rank")
    )
    both = exact.join(probed, ["q_id", "n_id"], "left")
    # array_distinct (r09 ADVICE): if TOP_K were ever lowered to 3 or
    # 1 a raw [1, 3, TOP_K] would double-count that cutoff (grouped
    # rows merge but n_exact/n_hits double, silently skewing the
    # curve); the oracle's unnest carries DISTINCT for the same reason.
    ks = F.explode(
        F.array_distinct(F.array(F.lit(1), F.lit(3), F.lit(TOP_K)))
    ).alias("k")
    return (
        both.select(ks, "e_rank", "p_rank")
        .filter(F.col("e_rank") <= F.col("k"))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_exact"),
            F.sum(
                (
                    F.col("p_rank").isNotNull()
                    & (F.col("p_rank") <= F.col("k"))
                ).cast("bigint")
            ).cast("bigint").alias("n_hits"),
        )
        .select(
            F.col("k").cast("int").alias("k"),
            "n_exact",
            "n_hits",
            (
                F.col("n_hits").cast("double")
                / F.col("n_exact").cast("double")
            ).alias("recall"),
        )
    )


RECALL_AT_K_CURVE_ORACLE = f"""
WITH exact_r AS ({ANN_TOPK_ORACLE.strip()}),
probed_r AS ({IVF_ANN_ORACLE.strip()}),
both_r AS (
  SELECT e.q_id, e.n_id, e.rank AS e_rank, p.rank AS p_rank
  FROM exact_r e
  LEFT JOIN probed_r p ON p.q_id = e.q_id AND p.n_id = e.n_id
),
ks AS (SELECT DISTINCT unnest([1, 3, {TOP_K}]) AS k)
SELECT CAST(k.k AS INTEGER) AS k,
       CAST(count(*) AS BIGINT) AS n_exact,
       CAST(sum(CASE WHEN b.p_rank IS NOT NULL AND b.p_rank <= k.k
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       CAST(sum(CASE WHEN b.p_rank IS NOT NULL AND b.p_rank <= k.k
                     THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS recall
FROM ks k JOIN both_r b ON b.e_rank <= k.k
GROUP BY k.k
"""

"""Retrieval-quality operators over the embedding corpus: hubness
audit, k-center coreset selection, late-interaction (MaxSim) scoring,
and pseudo-relevance-feedback (Rocchio) query expansion.

The reference scaffold's query surface is point/range lookups over
materialized KTables (`streams/WordCountTopology.java:36`,
`services/PurchasesService.java:43`); an embedding-era pipeline asks
the same "serve me the relevant records" question against a vector
column. This module adds the evaluation/selection layer on top of the
ANN tiers in ``similarity.py``:

- **ann_hubness_audit** — the k-occurrence distribution of the kNN
  graph. High-dimensional spaces concentrate: a few "hub" points
  appear in a disproportionate share of neighbor lists (Radovanovic
  et al., JMLR 2010), which silently skews semantic-dedup and
  diversity sampling. The audit is the exact in-degree histogram of
  the bounded kNN edge list.
- **kcenter_coreset** — Gonzalez' greedy 2-approximate k-center
  (max-min farthest-point traversal): the classic diverse-coreset
  selector for "pick K maximally-spread exemplars" (training-data
  subset selection, seed picking for clustering). Exactly
  deterministic: squared-L2 scores with ties broken on vec_id.
- **maxsim_late_interaction** — ColBERT-style late interaction: both
  sides are treated as BAGS of sub-vectors (the 64-d vector split
  into 4 contiguous 16-d pieces) and score(q, d) = sum over query
  pieces of the max cosine against any document piece. The shape of
  multi-vector retrieval without needing a token-level encoder.
- **rocchio_expansion** — one PRF round: exact top-K for each query,
  fold the neighbors' centroid back into the query (q' = q + 0.75 *
  centroid), re-rank with q'. The centroid sum is FIXED-POINT
  (floor(1e9 * x) per component, BIGINT-summed) so the expanded
  query vector is bit-identical across engines regardless of
  aggregation order — float sums over unordered groups are the one
  non-determinism this repo bans from hashed outputs.

Scale posture: hubness rides the sub-quantizer-bounded kNN edge list
(O(n * IVF_TARGET_CELL) total work, see ``similarity._knn_edges``);
k-center touches the corpus K times with one driver-side scalar per
round (the same bounded-loop contract as the CC engine in
``clustering.py``); MaxSim and Rocchio score broadcast-sized query
panels against the corpus — O(|Q| * n) with |Q| fixed, the corpus
never self-joined, all arithmetic inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import tables
from ..pinning import pin as _pin
from ..registry import query
from ..tables import EMBED_DIM as DIM
from .similarity import (
    _DUCK_ASSIGN_CTES,
    _DUCK_KNN_EDGES_CTES,
    N_PROBE,
    N_QUERIES,
    TOP_K,
    _dot_sql,
    _emb,
    _knn_edges,
    _norm_sql,
    ann_topk_query,
    ivf_ann_query,
)

# --------------------------------------------------------------------------
# Hubness audit (k-occurrence distribution of the kNN graph)
# --------------------------------------------------------------------------


@query(family="sim")
def ann_hubness_audit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(in_degree, n_vecs): exact histogram of how many neighbor
    lists each vector appears in (its k-occurrence) over the
    sub-cell-bounded kNN edge list — zero-degree vectors included
    via a left join from the corpus, so the histogram masses sum to
    |V| and anti-hubs are visible.

    A symmetric-ish corpus concentrates mass near KNN_K; a heavy
    right tail (hubs) means cosine neighborhoods are collapsing onto
    a few points and any dedup/sampling built on the graph inherits
    that bias. Scale: the edge list is id-width and
    O(n * KNN_K) rows; both aggregations are partial-aggregatable."""
    edges = _knn_edges(spark, sf_dir)
    counts = edges.groupBy(F.col("n_id").alias("vec_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    corpus = tables.table(spark, sf_dir, "embeddings").select("vec_id")
    deg = corpus.join(counts, "vec_id", "left").select(
        F.coalesce("c", F.lit(0)).cast("bigint").alias("in_degree")
    )
    return (
        deg.groupBy("in_degree")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"))
    )


ANN_HUBNESS_AUDIT_ORACLE = f"""
WITH {_DUCK_KNN_EDGES_CTES},
counts AS (
  SELECT n_id AS vec_id, CAST(count(*) AS BIGINT) AS c
  FROM edges GROUP BY 1
),
deg AS (
  SELECT COALESCE(c.c, 0) AS in_degree
  FROM embeddings e LEFT JOIN counts c ON c.vec_id = e.vec_id
)
SELECT in_degree, CAST(count(*) AS BIGINT) AS n_vecs
FROM deg GROUP BY 1
"""


# --------------------------------------------------------------------------
# Gonzalez greedy k-center coreset (farthest-point traversal)
# --------------------------------------------------------------------------

KCENTER_K = 6  # exemplars selected; bounded driver loop of K rounds


@query()
def kcenter_coreset_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(sel_round, vec_id, d2): the first KCENTER_K centers chosen by
    Gonzalez' farthest-point greedy — seed with the smallest vec_id,
    then repeatedly take the point whose squared-L2 distance to its
    NEAREST already-chosen center is LARGEST (ties on vec_id). ``d2``
    is that max-min score at selection time (0 for the seed); the
    selected set 2-approximates the optimal k-center radius.

    Exactness: squared distances expand to ||a||^2 + ||b||^2 - 2a.b
    with the fold-form dot (fixed ascending element order) — including
    the self-dot ``n2``, which is computed with the SAME fold form as
    the oracle rather than squaring the sqrt'd ``norm`` column
    ((sqrt(x))^2 differs from x by ~1 ulp, enough to flip the greedy
    argmax on near-tied candidates and cascade through later rounds) —
    so every score is bit-identical across engines and the
    argmax/tie-break is deterministic.

    Scale/driver contract: K bounded rounds; each round is one
    corpus-parallel ``least(mind, d2_to_new_center)`` column update
    (the new center enters as a 64-literal broadcast expression, no
    join, no shuffle) plus ONE driver-side row collect (the argmax) —
    the same O(rounds) driver-scalar budget as the CC/PageRank loops
    in ``clustering.py``. Lineage grows K select steps with no
    self-join, so no checkpoint is needed (cf. the iterative-loop
    pitfalls note: only loop frames that re-enter joins need one)."""
    emb = _pin(
        _emb(spark, sf_dir).select(
            "vec_id",
            "embedding",
            F.expr(_dot_sql("embedding", "embedding", "spark")).alias("n2"),
        )
    )
    seed = emb.orderBy("vec_id").limit(1).collect()
    if not seed:
        return spark.createDataFrame(
            [], "sel_round int, vec_id bigint, d2 double"
        )
    picked = [(0, int(seed[0]["vec_id"]), 0.0)]

    def _d2_to(center_row) -> F.Column:
        vec = [float(x) for x in center_row["embedding"]]
        lits = ", ".join(f"cast({v!r} as double)" for v in vec)
        dot = (
            f"aggregate(zip_with(embedding, array({lits}), (x, y) -> "
            "cast(x as double) * y), cast(0 as double), (acc, t) -> acc + t)"
        )
        return (
            F.col("n2") + F.lit(float(center_row["n2"])) - 2.0 * F.expr(dot)
        )

    frame = emb.withColumn("mind", _d2_to(seed[0]))
    for r in range(1, KCENTER_K):
        top = (
            frame.orderBy(F.col("mind").desc(), F.col("vec_id"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        picked.append((r, int(top[0]["vec_id"]), float(top[0]["mind"])))
        if r < KCENTER_K - 1:
            frame = frame.withColumn(
                "mind", F.least(F.col("mind"), _d2_to(top[0]))
            )
    return spark.createDataFrame(
        picked, "sel_round int, vec_id bigint, d2 double"
    )


def _kcenter_oracle() -> str:
    """Chained-CTE mirror: c0 = seed, d{r} carries the running
    min-distance, c{r+1} = argmax of d{r}. MATERIALIZED throughout
    (deep reused CTE chains inline exponentially in DuckDB
    otherwise)."""
    dot_pc = _dot_sql("p.embedding", "c.embedding", "duck")
    parts = [
        "WITH pts AS MATERIALIZED (",
        "  SELECT vec_id, embedding,",
        f"         {_dot_sql('embedding', 'embedding', 'duck')} AS n2",
        "  FROM embeddings",
        "),",
        "c0 AS MATERIALIZED (",
        "  SELECT vec_id, embedding, n2 FROM pts ORDER BY vec_id LIMIT 1",
        "),",
        "d0 AS MATERIALIZED (",
        "  SELECT p.vec_id, p.embedding, p.n2,",
        f"         p.n2 + c.n2 - 2 * ({dot_pc}) AS mind",
        "  FROM pts p, c0 c",
        "),",
    ]
    for r in range(1, KCENTER_K):
        parts.append(
            f"c{r} AS MATERIALIZED (\n"
            f"  SELECT vec_id, embedding, n2, mind FROM d{r - 1}\n"
            "  ORDER BY mind DESC, vec_id LIMIT 1\n"
            "),"
        )
        if r < KCENTER_K - 1:
            parts.append(
                f"d{r} AS MATERIALIZED (\n"
                "  SELECT p.vec_id, p.embedding, p.n2,\n"
                f"         least(p.mind, p.n2 + c.n2 - 2 * ({dot_pc}))"
                " AS mind\n"
                f"  FROM d{r - 1} p, c{r} c\n"
                "),"
            )
    parts[-1] = parts[-1].rstrip(",")
    selects = [
        "SELECT 0 AS sel_round, vec_id, CAST(0.0 AS DOUBLE) AS d2 FROM c0"
    ] + [
        f"SELECT {r} AS sel_round, vec_id, mind AS d2 FROM c{r}"
        for r in range(1, KCENTER_K)
    ]
    return "\n".join(parts) + "\n" + "\nUNION ALL ".join(selects)


KCENTER_CORESET_ORACLE = _kcenter_oracle()


# --------------------------------------------------------------------------
# Late interaction (MaxSim over contiguous sub-vectors)
# --------------------------------------------------------------------------

MAXSIM_PIECES = 4  # 64-d vector -> 4 x 16-d sub-vectors
MAXSIM_SUB = 16
MAXSIM_QUERIES = 5
MAXSIM_TOP = 3


def _sub_dot(a: str, b: str, i: int, j: int, engine: str) -> str:
    """Dot of a's i-th sub-vector with b's j-th (0-based pieces),
    fixed ascending element order on both engines."""
    if engine == "spark":
        return (
            f"aggregate(zip_with(slice({a}, {1 + MAXSIM_SUB * i}, "
            f"{MAXSIM_SUB}), slice({b}, {1 + MAXSIM_SUB * j}, "
            f"{MAXSIM_SUB}), (x, y) -> cast(x as double) * "
            "cast(y as double)), cast(0 as double), (acc, t) -> acc + t)"
        )
    terms = [
        f"CAST({a}[{MAXSIM_SUB * i + t}] AS DOUBLE) * "
        f"CAST({b}[{MAXSIM_SUB * j + t}] AS DOUBLE)"
        for t in range(1, MAXSIM_SUB + 1)
    ]
    return "(" + " + ".join(terms) + ")"


def _sub_norm(a: str, i: int, engine: str) -> str:
    return f"sqrt({_sub_dot(a, a, i, i, engine)})"


def _maxsim_expr(q: str, d: str, engine: str) -> str:
    """sum over query pieces i of max over doc pieces j of
    cos(q_i, d_j); zero-norm pieces contribute a guarded -1 cosine
    (identical CASE on both engines — Spark ANSI would otherwise
    throw on the 0/0)."""
    per_i = []
    for i in range(MAXSIM_PIECES):
        cands = []
        for j in range(MAXSIM_PIECES):
            den = f"(qn{i} * dn{j})"
            cands.append(
                f"(CASE WHEN {den} > 0 THEN "
                f"{_sub_dot(q, d, i, j, engine)} / {den} "
                "ELSE -1.0 END)"
            )
        per_i.append("greatest(" + ", ".join(cands) + ")")
    return "(" + " + ".join(per_i) + ")"


@query()
def maxsim_late_interaction_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(q_id, d_id, maxsim, rank): ColBERT-style late-interaction
    retrieval — queries are vec_id < MAXSIM_QUERIES, each side's
    vector is split into MAXSIM_PIECES contiguous sub-vectors, and
    score(q, d) = sum over query pieces of the best cosine any doc
    piece offers. Top-MAXSIM_TOP docs per query, self excluded, ties
    on d_id.

    MaxSim rewards documents that cover EACH facet of the query
    rather than matching its average direction — the standard
    multi-vector upgrade over single-vector cosine (Khattab &
    Zaharia, SIGIR 2020), here with deterministic contiguous pieces
    standing in for token embeddings (the plumbing — piece norms,
    guarded cosines, greatest-of composition — is the real operator;
    a model would only change where the pieces come from).

    Scale: the query panel is broadcast (MAXSIM_QUERIES rows); one
    pass over the corpus computes all PIECES^2 guarded sub-cosines
    inside whole-stage codegen — no explode, no shuffle beyond the
    final |Q| * MAXSIM_TOP rank window."""
    emb = tables.spread(
        tables.table(spark, sf_dir, "embeddings"), "vec_id"
    )

    def _with_norms(df: DataFrame, vec: str, pref: str) -> DataFrame:
        for i in range(MAXSIM_PIECES):
            df = df.withColumn(
                f"{pref}{i}", F.expr(_sub_norm(vec, i, "spark"))
            )
        return df

    queries = _with_norms(
        emb.filter(F.col("vec_id") < MAXSIM_QUERIES).select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_vec"),
        ),
        "q_vec",
        "qn",
    )
    docs = _with_norms(
        emb.select(
            F.col("vec_id").alias("d_id"),
            F.col("embedding").alias("d_vec"),
        ),
        "d_vec",
        "dn",
    )
    scored = (
        docs.crossJoin(F.broadcast(queries))
        .filter(F.col("q_id") != F.col("d_id"))
        .select(
            "q_id",
            "d_id",
            F.expr(_maxsim_expr("q_vec", "d_vec", "spark")).alias("maxsim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("maxsim").desc(), F.col("d_id")
    )
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("int")
    ).filter(F.col("rank") <= MAXSIM_TOP)


def _maxsim_oracle() -> str:
    qn = ",\n         ".join(
        f"{_sub_norm('embedding', i, 'duck')} AS qn{i}"
        for i in range(MAXSIM_PIECES)
    )
    dn = ",\n         ".join(
        f"{_sub_norm('embedding', i, 'duck')} AS dn{i}"
        for i in range(MAXSIM_PIECES)
    )
    return f"""
WITH q AS MATERIALIZED (
  SELECT vec_id AS q_id, embedding AS q_vec,
         {qn}
  FROM embeddings WHERE vec_id < {MAXSIM_QUERIES}
),
d AS MATERIALIZED (
  SELECT vec_id AS d_id, embedding AS d_vec,
         {dn}
  FROM embeddings
),
scored AS (
  SELECT q.q_id, d.d_id,
         {_maxsim_expr('q_vec', 'd_vec', 'duck')} AS maxsim
  FROM q CROSS JOIN d
  WHERE q.q_id <> d.d_id
)
SELECT q_id, d_id, maxsim, rank FROM (
  SELECT q_id, d_id, maxsim,
         CAST(row_number() OVER (
           PARTITION BY q_id ORDER BY maxsim DESC, d_id
         ) AS INTEGER) AS rank
  FROM scored
)
WHERE rank <= {MAXSIM_TOP}
"""


MAXSIM_LATE_INTERACTION_ORACLE = _maxsim_oracle()


# --------------------------------------------------------------------------
# Rocchio pseudo-relevance-feedback expansion (one PRF round)
# --------------------------------------------------------------------------

ROCCHIO_QUERIES = 5
ROCCHIO_FB = 5       # feedback depth: neighbors folded into the query
ROCCHIO_BETA = 0.75  # feedback weight (alpha = 1.0)
ROCCHIO_TOP = 5
_ROCCHIO_FP = 1_000_000_000  # centroid fixed-point scale


@query()
def rocchio_expansion_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(q_id, n_id, cosine2, rank): one Rocchio PRF round — exact
    cosine top-ROCCHIO_FB neighbors per query (vec_id <
    ROCCHIO_QUERIES, self excluded), fold their centroid into the
    query as q' = q + ROCCHIO_BETA * mean(neighbors), then re-rank
    the corpus by cosine against q' and keep top-ROCCHIO_TOP.

    Bit-stability across engines: the centroid is a float SUM over an
    unordered 5-row group — the one aggregation shape this repo bans
    from hashed outputs — so each neighbor component is fixed-pointed
    to floor(1e9 * x) BIGINT first and the mean is taken on the exact
    integer sum (the neyman_allocation pattern); q' components and
    every downstream cosine are then identical IEEE expressions on
    identical inputs.

    Scale: queries are a fixed panel — the feedback join, the
    per-(query, dim) centroid rollup (|Q| * 64 rows), and the q'
    re-assembly are all broadcast-sized; the two corpus passes
    (initial rank, re-rank) are each one broadcast-join scan, and
    the re-ranked q' panel re-enters as a broadcast again. No
    corpus self-join anywhere."""
    emb = _pin(_emb(spark, sf_dir))
    queries = emb.filter(F.col("vec_id") < ROCCHIO_QUERIES).select(
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
    w0 = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("n_id")
    )
    fb = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id", "n_vec", cosine.alias("cosine"))
        .withColumn("r0", F.row_number().over(w0))
        .filter(F.col("r0") <= ROCCHIO_FB)
    )
    # fixed-point centroid: exact BIGINT sum per (query, dimension)
    comp = fb.select(
        "q_id",
        F.posexplode("n_vec").alias("pos", "val"),
    ).select(
        "q_id",
        "pos",
        F.floor(F.col("val").cast("double") * _ROCCHIO_FP)
        .cast("bigint")
        .alias("vfp"),
    )
    cent = comp.groupBy("q_id", "pos").agg(
        F.sum("vfp").cast("bigint").alias("sfp"),
        F.count(F.lit(1)).cast("bigint").alias("nfb"),
    )
    q2_long = cent.join(
        F.broadcast(queries.select("q_id", "q_vec")), "q_id"
    ).select(
        "q_id",
        "pos",
        (
            F.element_at("q_vec", F.col("pos") + 1).cast("double")
            + F.lit(ROCCHIO_BETA)
            * (
                F.col("sfp").cast("double")
                / (F.col("nfb").cast("double") * F.lit(float(_ROCCHIO_FP)))
            )
        ).alias("q2v"),
    )
    q2 = q2_long.groupBy("q_id").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(pos, q2v))),"
            " s -> s.q2v)"
        ).alias("q2_vec")
    )
    q2n = q2.withColumn("q2_norm", F.expr(_norm_sql("q2_vec", "spark")))
    cosine2 = F.when(
        (F.col("q2_norm") * F.col("n_norm")) > 0,
        F.expr(_dot_sql("q2_vec", "n_vec", "spark"))
        / (F.col("q2_norm") * F.col("n_norm")),
    ).otherwise(F.lit(-1.0))
    w1 = Window.partitionBy("q_id").orderBy(
        F.col("cosine2").desc(), F.col("n_id")
    )
    return (
        corpus.crossJoin(F.broadcast(q2n))
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id", cosine2.alias("cosine2"))
        .withColumn("rank", F.row_number().over(w1).cast("int"))
        .filter(F.col("rank") <= ROCCHIO_TOP)
    )


def _rocchio_oracle() -> str:
    # q' as a DuckDB LIST built with an explicit ORDER BY pos, so the
    # unrolled re-rank dot reads elements in the same ascending order
    # as Spark's fold.
    q2_dot = _dot_sql("q2_vec", "n_vec", "duck").replace(
        "q2_vec[", "q.q2_vec["
    ).replace("n_vec[", "d.embedding[")
    return f"""
WITH normed AS MATERIALIZED (
  SELECT vec_id, embedding, {_norm_sql('embedding', 'duck')} AS norm
  FROM embeddings
),
fb AS MATERIALIZED (
  SELECT q_id, n_id, n_vec FROM (
    SELECT q.vec_id AS q_id, d.vec_id AS n_id, d.embedding AS n_vec,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_dot_sql('q.embedding', 'd.embedding', 'duck')}
                      / (q.norm * d.norm) DESC,
                      d.vec_id
           ) AS r0
    FROM normed q CROSS JOIN normed d
    WHERE q.vec_id < {ROCCHIO_QUERIES} AND q.vec_id <> d.vec_id
  ) WHERE r0 <= {ROCCHIO_FB}
),
comp AS (
  SELECT q_id, g.i - 1 AS pos,
         CAST(floor(CAST(n_vec[g.i] AS DOUBLE) * {_ROCCHIO_FP}) AS BIGINT)
           AS vfp
  FROM fb, LATERAL (SELECT unnest(generate_series(1, {DIM})) AS i) g
),
cent AS (
  SELECT q_id, pos, CAST(sum(vfp) AS BIGINT) AS sfp,
         CAST(count(*) AS BIGINT) AS nfb
  FROM comp GROUP BY 1, 2
),
q2_long AS (
  SELECT c.q_id, c.pos,
         CAST(n.embedding[c.pos + 1] AS DOUBLE)
           + {ROCCHIO_BETA} * (CAST(c.sfp AS DOUBLE)
               / (CAST(c.nfb AS DOUBLE) * {float(_ROCCHIO_FP)}))
           AS q2v
  FROM cent c JOIN normed n ON n.vec_id = c.q_id
),
q2 AS MATERIALIZED (
  SELECT q_id, list(q2v ORDER BY pos) AS q2_vec
  FROM q2_long GROUP BY 1
),
q2n AS MATERIALIZED (
  SELECT q_id, q2_vec, {_norm_sql('q2_vec', 'duck')} AS q2_norm FROM q2
)
SELECT q_id, n_id, cosine2, rank FROM (
  SELECT q.q_id, d.vec_id AS n_id,
         CASE WHEN (q.q2_norm * d.norm) > 0 THEN
           {q2_dot} / (q.q2_norm * d.norm)
         ELSE -1.0 END AS cosine2,
         CAST(row_number() OVER (
           PARTITION BY q.q_id
           ORDER BY CASE WHEN (q.q2_norm * d.norm) > 0 THEN
                      {q2_dot} / (q.q2_norm * d.norm)
                    ELSE -1.0 END DESC,
                    d.vec_id
         ) AS INTEGER) AS rank
  FROM q2n q CROSS JOIN normed d
  WHERE q.q_id <> d.vec_id
)
WHERE rank <= {ROCCHIO_TOP}
"""


ROCCHIO_EXPANSION_ORACLE = _rocchio_oracle()


# --------------------------------------------------------------------------
# Facility-location greedy coreset (submodular coverage selection)
# --------------------------------------------------------------------------

FACLOC_K = 4        # exemplars selected
FACLOC_POOL = 32    # candidate pool: vec_id < FACLOC_POOL
_FL_FP = 1_000_000  # similarity fixed-point scale


@query()
def facility_location_coreset_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(sel_round, vec_id, coverage_fp): greedy maximization of the
    facility-location objective sum_p max_{c in C} sim(p, c) — the
    submodular "every point should have a similar exemplar" selector
    (the coverage-style complement of ``kcenter_coreset``'s max-min
    spread; greedy is (1 - 1/e)-optimal by Nemhauser et al. 1978).
    Candidates come from a fixed FACLOC_POOL panel; ``coverage_fp``
    is the objective AFTER each pick, in exact floor(1e6 * cosine)
    units, so the marginal-gain trajectory is part of the hashed
    contract.

    Exactness: every similarity fixes to floor(1e6 * cos) BIGINT
    BEFORE any aggregation (max and sum over BIGINTs are order-free),
    so the greedy argmax (ties on vec_id) and the objective are
    bit-stable — no float sum ever forms.

    Scale/driver contract: FACLOC_K bounded rounds; each evaluates
    all pool candidates' marginal gains in ONE pool-broadcast join
    over the corpus (|pool| * n fixed-point cosines, partial-
    aggregated per candidate) plus one driver-side argmax row; the
    running per-point coverage column updates via a broadcast of the
    chosen exemplar's similarities — id-width state, no corpus
    self-join. The same O(rounds) driver-scalar budget as the
    CC/k-center loops."""
    emb = _pin(_emb(spark, sf_dir))
    pool = emb.filter(F.col("vec_id") < FACLOC_POOL).select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("c_vec"),
        F.col("norm").alias("c_norm"),
    )
    pts = emb.select(
        F.col("vec_id").alias("p_id"),
        F.col("embedding").alias("p_vec"),
        F.col("norm").alias("p_norm"),
    )
    sim_fp = F.floor(
        F.lit(float(_FL_FP))
        * F.when(
            (F.col("p_norm") * F.col("c_norm")) > 0,
            F.expr(_dot_sql("p_vec", "c_vec", "spark"))
            / (F.col("p_norm") * F.col("c_norm")),
        ).otherwise(F.lit(-1.0))
    ).cast("bigint")
    # (p_id, c_id, s): the full pool-similarity table, pinned — every
    # round's gain evaluation and coverage update reads it
    sims = _pin(
        pts.crossJoin(F.broadcast(pool)).select(
            "p_id", "c_id", sim_fp.alias("s")
        )
    )
    cov = pts.select("p_id", F.lit(-_FL_FP).cast("bigint").alias("cov"))
    picked: list[tuple[int, int, int]] = []
    chosen: set[int] = set()
    for r in range(FACLOC_K):
        gains = (
            sims.filter(~F.col("c_id").isin(*chosen) if chosen else F.lit(True))
            .join(cov, "p_id")
            .groupBy("c_id")
            .agg(
                F.sum(F.greatest(F.col("cov"), F.col("s")))
                .cast("bigint")
                .alias("total")
            )
            .orderBy(F.col("total").desc(), F.col("c_id"))
            .limit(1)
            .collect()
        )
        if not gains:
            break
        c = int(gains[0]["c_id"])
        total = int(gains[0]["total"])
        picked.append((r, c, total))
        chosen.add(c)
        upd = sims.filter(F.col("c_id") == c).select(
            "p_id", F.col("s").alias("s_new")
        )
        cov = _pin(
            cov.join(upd, "p_id", "left").select(
                "p_id",
                F.greatest(
                    F.col("cov"), F.coalesce(F.col("s_new"), F.lit(-_FL_FP))
                ).alias("cov"),
            )
        )
    return spark.createDataFrame(
        picked, "sel_round int, vec_id bigint, coverage_fp bigint"
    )


def _facloc_oracle() -> str:
    sim = (
        f"CAST(floor({_FL_FP}.0 * (CASE WHEN p.norm * c.norm > 0 THEN "
        f"{_dot_sql('p.embedding', 'c.embedding', 'duck')} / (p.norm * c.norm)"
        f" ELSE -1.0 END)) AS BIGINT)"
    )
    parts = [
        "WITH normed AS MATERIALIZED (",
        f"  SELECT vec_id, embedding, {_norm_sql('embedding', 'duck')} AS norm",
        "  FROM embeddings",
        "),",
        "sims AS MATERIALIZED (",
        f"  SELECT p.vec_id AS p_id, c.vec_id AS c_id, {sim} AS s",
        "  FROM normed p CROSS JOIN normed c",
        f"  WHERE c.vec_id < {FACLOC_POOL}",
        "),",
        "cov0 AS MATERIALIZED (",
        f"  SELECT DISTINCT p_id, CAST(-{_FL_FP} AS BIGINT) AS cov FROM sims",
        "),",
    ]
    prev_cov = "cov0"
    excl = ""
    for r in range(FACLOC_K):
        parts.append(
            f"g{r} AS MATERIALIZED (\n"
            "  SELECT c_id, CAST(sum(greatest(cov, s)) AS BIGINT) AS total\n"
            f"  FROM sims JOIN {prev_cov} USING (p_id)\n"
            f"  {excl}\n"
            "  GROUP BY c_id ORDER BY total DESC, c_id LIMIT 1\n"
            "),"
        )
        if r < FACLOC_K - 1:
            parts.append(
                f"cov{r + 1} AS MATERIALIZED (\n"
                "  SELECT v.p_id,\n"
                "         greatest(v.cov, COALESCE(u.s, "
                f"CAST(-{_FL_FP} AS BIGINT))) AS cov\n"
                f"  FROM {prev_cov} v\n"
                "  LEFT JOIN (SELECT s.p_id, s.s FROM sims s, "
                f"g{r} g WHERE s.c_id = g.c_id) u USING (p_id)\n"
                "),"
            )
            prev_cov = f"cov{r + 1}"
        excl_parts = [f"SELECT c_id FROM g{i}" for i in range(r + 1)]
        excl = (
            "WHERE c_id NOT IN (" + " UNION ALL ".join(excl_parts) + ")"
        )
    parts[-1] = parts[-1].rstrip(",")
    selects = [
        f"SELECT {r} AS sel_round, CAST(c_id AS BIGINT) AS vec_id,"
        f" total AS coverage_fp FROM g{r}"
        for r in range(FACLOC_K)
    ]
    return "\n".join(parts) + "\n" + "\nUNION ALL ".join(selects)


FACILITY_LOCATION_CORESET_ORACLE = _facloc_oracle()


# --------------------------------------------------------------------------
# kNN label-purity null baseline (permutation-style control)
# --------------------------------------------------------------------------


@query(family="sim")
def label_purity_null_baseline_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(n_edges, n_same_true, n_same_null, lift): the significance
    control for ``knn_label_purity`` — the same kNN edge list scored
    against the TRUE labels and against a deterministic null
    (each neighbor's label rotated +1 mod |labels|, a fixed-point-free
    derangement, so null agreement is exactly the chance rate that a
    random label assignment would produce for this degree structure).
    ``lift`` = true agreements over null agreements: near 1 means the
    embedding neighborhoods carry NO label signal and any
    purity-gated pipeline decision is reading noise — the
    permutation-test reading of the purity number.

    Exactness: two integer edge counts off one labels join; the null
    rotation is integer modular arithmetic. Scale: rides the
    sub-cell-bounded kNN edge list; one id-width join against the
    |V|-row label table."""
    labels = tables.table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("label").cast("int").alias("label")
    )
    n_labels = 10  # generator domain; rotation only needs a fixed modulus
    edges = _knn_edges(spark, sf_dir).select("q_id", "n_id")
    ql = labels.select(
        F.col("vec_id").alias("q_id"), F.col("label").alias("q_lab")
    )
    nl = labels.select(
        F.col("vec_id").alias("n_id"), F.col("label").alias("n_lab")
    )
    joined = edges.join(ql, "q_id").join(nl, "n_id")
    agg = joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges"),
        F.sum((F.col("q_lab") == F.col("n_lab")).cast("int"))
        .cast("bigint")
        .alias("n_same_true"),
        F.sum(
            (
                F.col("q_lab") == (F.col("n_lab") + 1) % n_labels
            ).cast("int")
        ).cast("bigint").alias("n_same_null"),
    )
    return agg.filter(F.col("n_edges") > 0).select(
        "n_edges",
        "n_same_true",
        "n_same_null",
        (
            F.col("n_same_true").cast("double")
            / F.greatest(F.col("n_same_null"), F.lit(1)).cast("double")
        ).alias("lift"),
    )


LABEL_PURITY_NULL_BASELINE_ORACLE = f"""
WITH {_DUCK_KNN_EDGES_CTES},
lab AS (SELECT vec_id, CAST(label AS INT) AS label FROM embeddings),
joined AS (
  SELECT ql.label AS q_lab, nl.label AS n_lab
  FROM edges e
  JOIN lab ql ON ql.vec_id = e.q_id
  JOIN lab nl ON nl.vec_id = e.n_id
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_edges,
         CAST(sum(CASE WHEN q_lab = n_lab THEN 1 ELSE 0 END) AS BIGINT)
           AS n_same_true,
         CAST(sum(CASE WHEN q_lab = (n_lab + 1) % 10 THEN 1 ELSE 0 END)
           AS BIGINT) AS n_same_null
  FROM joined
)
SELECT n_edges, n_same_true, n_same_null,
       CAST(n_same_true AS DOUBLE)
         / CAST(greatest(n_same_null, 1) AS DOUBLE) AS lift
FROM agg
WHERE n_edges > 0
"""

# --------------------------------------------------------------------------
# Global anisotropy audit (mean pairwise cosine via power sums)
# --------------------------------------------------------------------------

ANISO_FP = 10_000  # per-component fixed-point scale for normalized coords


@query()
def embedding_anisotropy_audit_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(n_vecs, self_dot_fp, mean_pair_cos): the corpus-global
    anisotropy of the embedding space — the mean cosine between all
    ordered pairs of distinct vectors, the standard "cone effect"
    diagnostic (isotropic spaces score ~0; a high mean cosine means
    every similarity search fights a common dominant direction and
    cosine thresholds tuned on one corpus won't transfer).

    NO pair join: with normalized, component-quantized vectors q,
    sum_{i != j} q_i . q_j = |sum_i q_i|^2 - sum_i |q_i|^2 — two
    linear power sums (the ``embedding_diversity`` identity, lifted
    from per-label cells to the global space). Determinism: each
    normalized component is fixed-pointed to ANISO_FP BEFORE any
    aggregation, so both power sums are exact BIGINT sums; the final
    |S|^2 squares are taken in DOUBLE over the dim-sorted 64-row
    fold (bounded, ordered). Quantization (1e-4/component) is part
    of the operator's contract and identical on both engines.
    Bounds: per-row self-dot <= 64 * ANISO_FP^2 ~ 6.4e9, exact to
    ~1.4e9 rows; per-dim sums |S_i| <= n * ANISO_FP.

    Scale: one corpus pass (transform + fold per row), one
    64-group rollup, one scalar row. Nothing pairwise anywhere."""
    emb = _emb(spark, sf_dir).filter(F.col("norm") > 0)
    q = emb.select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> cast(floor({ANISO_FP}.0 "
            "* (cast(x as double) / norm)) as bigint))"
        ).alias("q"),
    )
    rows = q.select(
        "q",
        F.expr(
            "aggregate(transform(q, x -> x * x), cast(0 as bigint), "
            "(a, x) -> a + x)"
        ).alias("r2"),
    )
    per_dim = (
        q.select(F.posexplode("q").alias("i", "qi"))
        .groupBy("i")
        .agg(F.sum("qi").cast("bigint").alias("s"))
    )
    ssq = per_dim.agg(
        F.expr(
            "aggregate(transform(array_sort(collect_list(struct(i, s))), "
            "x -> cast(x.s as double) * cast(x.s as double)), "
            "cast(0.0 as double), (a, x) -> a + x)"
        ).alias("ssq")
    )
    tot = rows.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum("r2").cast("bigint").alias("self_dot_fp"),
    )
    return tot.crossJoin(F.broadcast(ssq)).select(
        "n_vecs",
        "self_dot_fp",
        F.when(
            F.col("n_vecs") > 1,
            (F.col("ssq") - F.col("self_dot_fp").cast("double"))
            / (
                F.col("n_vecs").cast("double")
                * (F.col("n_vecs") - 1).cast("double")
            )
            / F.lit(float(ANISO_FP * ANISO_FP)),
        ).otherwise(F.lit(0.0)).alias("mean_pair_cos"),
    )


EMBEDDING_ANISOTROPY_AUDIT_ORACLE = f"""
WITH normed AS (
  SELECT vec_id, embedding, {_norm_sql('embedding', 'duck')} AS norm
  FROM embeddings
),
q AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor({ANISO_FP}.0 * (CAST(x AS DOUBLE) / norm))
                AS BIGINT)) AS q
  FROM normed WHERE norm > 0
),
rws AS (
  SELECT list_reduce(list_transform(q, x -> x * x), (a, x) -> a + x)
           AS r2
  FROM q
),
per_dim AS (
  SELECT g.i, CAST(sum(q.q[g.i]) AS BIGINT) AS s
  FROM q, LATERAL (SELECT unnest(generate_series(1, {DIM})) AS i) g
  GROUP BY 1
),
ssq AS (
  SELECT list_reduce(list_transform(list(s ORDER BY i),
           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
           (a, x) -> a + x) AS ssq
  FROM per_dim
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_vecs,
         CAST(sum(r2) AS BIGINT) AS self_dot_fp
  FROM rws
)
SELECT t.n_vecs, t.self_dot_fp,
       CASE WHEN t.n_vecs > 1 THEN
         (s.ssq - CAST(t.self_dot_fp AS DOUBLE))
           / (CAST(t.n_vecs AS DOUBLE) * CAST(t.n_vecs - 1 AS DOUBLE))
           / CAST({ANISO_FP * ANISO_FP} AS DOUBLE)
       ELSE 0.0 END AS mean_pair_cos
FROM tot t, ssq s
"""


# --------------------------------------------------------------------------
# Two-NN intrinsic dimension estimate (Facco et al. ratio method)
# --------------------------------------------------------------------------

_TWONN_FP = 1_000_000_000


@query(family="sim")
def twonn_intrinsic_dim_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(n_vecs, n_used, n_degenerate, sum_lnmu_fp, id_twonn): the
    Two-NN intrinsic-dimension estimate of the embedding manifold —
    for each vector, mu = d2/d1 (distance ratio of its 2nd to 1st
    nearest neighbor); the MLE is id = n / sum(ln mu). Embeddings
    that claim 64 dimensions but measure id ~ 8 waste quantizer
    budget, and a SHIFT in id between snapshots is an encoder-change
    tripwire no mean/variance audit sees (Facco et al., Sci. Rep.
    2017 — public method).

    Distances ride the sub-cell kNN edge list (``_knn_edges``, ranks
    1-2): in normalized space d^2 = 2(1 - cos), so ln mu =
    0.5 * ln((1-cos2)/(1-cos1)). Determinism: each per-vector ln is
    fixed-pointed independently (floor(1e9 * ...), the zipf_fit
    precedent for transcendentals) and integer-summed; the MLE is
    one final division. Degenerates (cos1 = 1 exact-dup neighbor, or
    fewer than 2 in-cell neighbors) are counted out, not divided by.

    Scale: O(n * KNN_K) edge rows -> one n-row rollup -> one scalar;
    the kNN construction's cell-bounded cost dominates and is
    already certified (knn-lof probe, SCALE.md)."""
    edges = _knn_edges(spark, sf_dir)
    nn = edges.filter(F.col("rank") <= 2).groupBy("q_id").agg(
        F.min(F.when(F.col("rank") == 1, F.col("cosine"))).alias("cos1"),
        F.min(F.when(F.col("rank") == 2, F.col("cosine"))).alias("cos2"),
    )
    scored = nn.select(
        "q_id",
        F.when(
            F.col("cos1").isNotNull()
            & F.col("cos2").isNotNull()
            & (F.col("cos1") < 1.0),
            F.floor(
                F.lit(float(_TWONN_FP))
                * 0.5
                * F.log(
                    (F.lit(1.0) - F.col("cos2"))
                    / (F.lit(1.0) - F.col("cos1"))
                )
            ).cast("bigint"),
        ).alias("lnmu_fp"),
    )
    n_all = tables.table(spark, sf_dir, "embeddings").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs")
    )
    agg = scored.agg(
        F.sum(F.col("lnmu_fp").isNotNull().cast("int"))
        .cast("bigint")
        .alias("n_used"),
        F.sum(F.col("lnmu_fp").isNull().cast("int"))
        .cast("bigint")
        .alias("n_degenerate"),
        F.coalesce(F.sum("lnmu_fp"), F.lit(0)).cast("bigint")
        .alias("sum_lnmu_fp"),
    )
    return n_all.crossJoin(F.broadcast(agg)).select(
        "n_vecs",
        "n_used",
        "n_degenerate",
        "sum_lnmu_fp",
        F.when(
            F.col("sum_lnmu_fp") > 0,
            F.col("n_used").cast("double")
            * F.lit(float(_TWONN_FP))
            / F.col("sum_lnmu_fp").cast("double"),
        ).otherwise(F.lit(0.0)).alias("id_twonn"),
    )


TWONN_INTRINSIC_DIM_ORACLE = f"""
WITH {_DUCK_KNN_EDGES_CTES},
nn AS (
  SELECT q_id,
         min(CASE WHEN rank = 1 THEN cosine END) AS cos1,
         min(CASE WHEN rank = 2 THEN cosine END) AS cos2
  FROM edges WHERE rank <= 2 GROUP BY 1
),
tn_scored AS (
  SELECT q_id,
         CASE WHEN cos1 IS NOT NULL AND cos2 IS NOT NULL AND cos1 < 1.0
           THEN CAST(floor(CAST({_TWONN_FP} AS DOUBLE) * 0.5
                * ln((1.0 - cos2) / (1.0 - cos1))) AS BIGINT)
         END AS lnmu_fp
  FROM nn
),
agg AS (
  SELECT CAST(sum(CASE WHEN lnmu_fp IS NOT NULL THEN 1 ELSE 0 END)
           AS BIGINT) AS n_used,
         CAST(sum(CASE WHEN lnmu_fp IS NULL THEN 1 ELSE 0 END)
           AS BIGINT) AS n_degenerate,
         CAST(COALESCE(sum(lnmu_fp), 0) AS BIGINT) AS sum_lnmu_fp
  FROM tn_scored
)
SELECT n.n_vecs, a.n_used, a.n_degenerate, a.sum_lnmu_fp,
       CASE WHEN a.sum_lnmu_fp > 0 THEN
         CAST(a.n_used AS DOUBLE) * CAST({_TWONN_FP} AS DOUBLE)
           / CAST(a.sum_lnmu_fp AS DOUBLE)
       ELSE 0.0 END AS id_twonn
FROM (SELECT CAST(count(*) AS BIGINT) AS n_vecs FROM embeddings) n, agg a
"""


# --------------------------------------------------------------------------
# MRR audit: where the TRUE nearest neighbor lands in the IVF list
# --------------------------------------------------------------------------


@query(family="sim")
def mrr_audit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_queries, n_hits, mrr): mean reciprocal rank of each query's
    EXACT cosine nearest neighbor within the IVF search's top-K list
    — the rank-position complement to the recall family
    (``ivf_probe_recall_curve`` asks "did the truth make the list",
    MRR asks "how high"; a recall-0.9 index whose MRR is 0.3 returns
    truth buried under quantization noise, which re-rank budgets
    must know). Truth not in the list contributes 0 (standard
    MRR@K).

    Exactness: ranks are integers, each reciprocal is one exact IEEE
    division, and the mean folds a q_id-SORTED list (bounded:
    N_QUERIES panel), never an unordered float sum.

    Scale: reuses the ivf_ann candidate plan (probe-bounded) and the
    exact reference on the fixed query panel; the audit itself is
    |queries| rows."""
    exact1 = (
        ann_topk_query(spark, sf_dir)
        .filter(F.col("rank") == 1)
        .select("q_id", F.col("n_id").alias("true_nn"))
    )
    ivf = ivf_ann_query(spark, sf_dir).select(
        F.col("q_id").alias("iq"), "n_id", F.col("rank").alias("ivf_rank")
    )
    rr = exact1.join(
        ivf,
        (F.col("q_id") == F.col("iq"))
        & (F.col("n_id") == F.col("true_nn")),
        "left",
    ).select(
        "q_id",
        F.coalesce(
            F.lit(1.0) / F.col("ivf_rank").cast("double"), F.lit(0.0)
        ).alias("rr"),
    )
    return rr.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        F.sum((F.col("rr") > 0).cast("int")).cast("bigint").alias("n_hits"),
        F.expr(
            "aggregate(transform(array_sort(collect_list("
            "struct(q_id, rr))), x -> x.rr), cast(0.0 as double), "
            "(a, x) -> a + x)"
        ).alias("rr_sum"),
    ).select(
        "n_queries",
        "n_hits",
        F.when(
            F.col("n_queries") > 0,
            F.col("rr_sum") / F.col("n_queries").cast("double"),
        ).otherwise(F.lit(0.0)).alias("mrr"),
    )


MRR_AUDIT_ORACLE = f"""
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
normed AS MATERIALIZED (
  SELECT vec_id, embedding, {_norm_sql('embedding', 'duck')} AS norm
  FROM embeddings
),
approx AS MATERIALIZED (
  SELECT q_id, n_id, rank FROM (
    SELECT p.q_id, n.vec_id AS n_id,
           row_number() OVER (
             PARTITION BY p.q_id
             ORDER BY {_dot_sql('q.embedding', 'n.embedding', 'duck')}
                      / (q.norm * n.norm) DESC, n.vec_id
           ) AS rank
    FROM probes p
    JOIN assign a ON a.c_label = p.c_label
    JOIN normed n ON n.vec_id = a.vec_id
    JOIN normed q ON q.vec_id = p.q_id
    WHERE n.vec_id <> p.q_id
  ) WHERE rank <= {TOP_K}
),
exact1 AS MATERIALIZED (
  SELECT q_id, n_id AS true_nn FROM (
    SELECT q.vec_id AS q_id, n.vec_id AS n_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_dot_sql('q.embedding', 'n.embedding', 'duck')}
                      / (q.norm * n.norm) DESC, n.vec_id
           ) AS rank
    FROM normed q JOIN normed n ON n.vec_id <> q.vec_id
    WHERE q.vec_id < {N_QUERIES}
  ) WHERE rank = 1
),
rr AS (
  SELECT e.q_id,
         COALESCE(1.0 / CAST(a.rank AS DOUBLE), 0.0) AS rr
  FROM exact1 e
  LEFT JOIN approx a ON a.q_id = e.q_id AND a.n_id = e.true_nn
)
SELECT CAST(count(*) AS BIGINT) AS n_queries,
       CAST(sum(CASE WHEN rr > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       CASE WHEN count(*) > 0 THEN
         list_reduce(list(rr ORDER BY q_id), (a, x) -> a + x)
           / CAST(count(*) AS DOUBLE)
       ELSE 0.0 END AS mrr
FROM rr
"""

# --------------------------------------------------------------------------
# Local clustering coefficient on the mutual kNN graph
# --------------------------------------------------------------------------


@query(family="sim")
def local_clustering_coeff_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(vec_id, degree, n_tri, lcc): each node's local clustering
    coefficient on the mutual-kNN graph — triangles through the node
    over its (degree choose 2) possible ones. The PER-NODE refinement
    of ``knn_triangles``' one-row closure census: global closure can
    look healthy while a subpopulation (one source, one label) has
    lcc ~ 0, i.e. its neighborhoods are noise — the per-node table is
    what joins back to labels/sources to find that. Only degree >= 2
    nodes emit (lcc is undefined below).

    Exactness: triangle enumeration is the oriented wedge join
    (smallest vertex as pivot, each triangle found once) with all-
    integer credits exploded to the 3 corners; lcc = 2*tri/(d(d-1))
    is one exact division.

    Scale: mutual-kNN degree is bounded by KNN_K, so wedges are
    O(n * KNN_K^2) and the joins stay id-width — the certified
    knn_triangles shape, plus one explode and one |V|-row join."""
    from .similarity import knn_graph_query

    g = knn_graph_query(spark, sf_dir)
    e = _pin(
        g.filter(F.col("is_mutual") & (F.col("vec_id") < F.col("nbr_id")))
        .select(F.col("vec_id").alias("a"), F.col("nbr_id").alias("b"))
    )
    deg = (
        e.select(F.col("a").alias("v"))
        .union(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    ab = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    w = (
        ab.alias("e1")
        .join(ab.alias("e2"), F.col("e1.x") == F.col("e2.x"))
        .filter(F.col("e1.y") < F.col("e2.y"))
        .select(
            F.col("e1.x").alias("tx"),
            F.col("e1.y").alias("p"),
            F.col("e2.y").alias("q"),
        )
    )
    tri = w.join(
        ab.alias("e3"),
        (F.col("p") == F.col("e3.x")) & (F.col("q") == F.col("e3.y")),
    ).select("tx", "p", "q")
    credit = (
        tri.select(
            F.explode(F.array("tx", "p", "q")).alias("v")
        )
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    )
    return (
        deg.filter(F.col("d") >= 2)
        .join(credit, "v", "left")
        .select(
            F.col("v").alias("vec_id"),
            F.col("d").alias("degree"),
            F.coalesce("t", F.lit(0)).cast("bigint").alias("n_tri"),
            (
                F.lit(2.0) * F.coalesce("t", F.lit(0)).cast("double")
                / (F.col("d") * (F.col("d") - 1)).cast("double")
            ).alias("lcc"),
        )
    )


def _lcc_oracle() -> str:
    from .similarity import KNN_GRAPH_ORACLE

    prefix = KNN_GRAPH_ORACLE.split("SELECT e.q_id")[0].strip().rstrip(",")
    return f"""
{prefix},
mutual AS MATERIALIZED (
  SELECT e.q_id AS a, e.n_id AS b
  FROM edges e JOIN edges r ON r.q_id = e.n_id AND r.n_id = e.q_id
  WHERE e.q_id < e.n_id
),
w AS (
  SELECT e1.a AS tx, e1.b AS p, e2.b AS q
  FROM mutual e1 JOIN mutual e2 ON e1.a = e2.a
  WHERE e1.b < e2.b
),
tri AS (
  SELECT tx, p, q FROM w JOIN mutual e3 ON w.p = e3.a AND w.q = e3.b
),
credit AS (
  SELECT v, CAST(count(*) AS BIGINT) AS t FROM (
    SELECT tx AS v FROM tri
    UNION ALL SELECT p FROM tri
    UNION ALL SELECT q FROM tri
  ) GROUP BY v
),
deg AS (
  SELECT v, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT a AS v FROM mutual UNION ALL SELECT b AS v FROM mutual
  ) GROUP BY v
)
SELECT d.v AS vec_id, d.d AS degree,
       CAST(COALESCE(c.t, 0) AS BIGINT) AS n_tri,
       2.0 * CAST(COALESCE(c.t, 0) AS DOUBLE)
         / CAST(d.d * (d.d - 1) AS DOUBLE) AS lcc
FROM deg d LEFT JOIN credit c ON c.v = d.v
WHERE d.d >= 2
"""


LOCAL_CLUSTERING_COEFF_ORACLE = _lcc_oracle()

# --------------------------------------------------------------------------
# Per-label anisotropy (mean pairwise cosine inside each label cell)
# --------------------------------------------------------------------------


@query()
def label_anisotropy_audit_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(label, n_vecs, mean_pair_cos): the per-label refinement of
    ``embedding_anisotropy_audit`` — mean pairwise cosine WITHIN each
    label cell via the same power-sum identity (no pair join). Reads
    against the global row: a label far above the global mean cosine
    is a collapsed/duplicated cluster (cf. ``embedding_diversity``,
    its L2 twin); one at or below it is indistinguishable from
    background and its label carries no geometry.

    Same quantized-normalized fixed-point contract as the global
    audit (ANISO_FP per component, exact BIGINT power sums, per-dim
    squares folded in sorted order); per-label cells with n < 2 are
    excluded (no pairs).

    Scale: one corpus pass + one |labels| x dim rollup; nothing
    pairwise."""
    emb = _emb(spark, sf_dir).filter(F.col("norm") > 0)
    q = emb.select(
        "label",
        F.expr(
            f"transform(embedding, x -> cast(floor({ANISO_FP}.0 "
            "* (cast(x as double) / norm)) as bigint))"
        ).alias("q"),
    )
    rows = q.select(
        "label",
        F.expr(
            "aggregate(transform(q, x -> x * x), cast(0 as bigint), "
            "(a, x) -> a + x)"
        ).alias("r2"),
    )
    per_dim = (
        q.select("label", F.posexplode("q").alias("i", "qi"))
        .groupBy("label", "i")
        .agg(F.sum("qi").cast("bigint").alias("s"))
    )
    ssq = per_dim.groupBy("label").agg(
        F.expr(
            "aggregate(transform(array_sort(collect_list(struct(i, s))), "
            "x -> cast(x.s as double) * cast(x.s as double)), "
            "cast(0.0 as double), (a, x) -> a + x)"
        ).alias("ssq")
    )
    tot = rows.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum("r2").cast("bigint").alias("self_fp"),
    )
    return (
        tot.join(ssq, "label")
        .filter(F.col("n_vecs") > 1)
        .select(
            "label",
            "n_vecs",
            (
                (F.col("ssq") - F.col("self_fp").cast("double"))
                / (
                    F.col("n_vecs").cast("double")
                    * (F.col("n_vecs") - 1).cast("double")
                )
                / F.lit(float(ANISO_FP * ANISO_FP))
            ).alias("mean_pair_cos"),
        )
    )


LABEL_ANISOTROPY_AUDIT_ORACLE = f"""
WITH normed AS (
  SELECT label, embedding, {_norm_sql('embedding', 'duck')} AS norm
  FROM embeddings
),
q AS MATERIALIZED (
  SELECT label,
         list_transform(embedding,
           x -> CAST(floor({ANISO_FP}.0 * (CAST(x AS DOUBLE) / norm))
                AS BIGINT)) AS q
  FROM normed WHERE norm > 0
),
rws AS (
  SELECT label,
         list_reduce(list_transform(q, x -> x * x), (a, x) -> a + x)
           AS r2
  FROM q
),
per_dim AS (
  SELECT label, g.i, CAST(sum(q.q[g.i]) AS BIGINT) AS s
  FROM q, LATERAL (SELECT unnest(generate_series(1, {DIM})) AS i) g
  GROUP BY 1, 2
),
ssq AS (
  SELECT label,
         list_reduce(list_transform(list(s ORDER BY i),
           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
           (a, x) -> a + x) AS ssq
  FROM per_dim GROUP BY 1
),
tot AS (
  SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
         CAST(sum(r2) AS BIGINT) AS self_fp
  FROM rws GROUP BY 1
)
SELECT t.label, t.n_vecs,
       (s.ssq - CAST(t.self_fp AS DOUBLE))
         / (CAST(t.n_vecs AS DOUBLE) * CAST(t.n_vecs - 1 AS DOUBLE))
         / CAST({ANISO_FP * ANISO_FP} AS DOUBLE) AS mean_pair_cos
FROM tot t JOIN ssq s ON s.label = t.label
WHERE t.n_vecs > 1
"""

# --------------------------------------------------------------------------
# Near-zero-variance dimension audit (post-freeze: r09 material)
# --------------------------------------------------------------------------

NZV_VAR_FRAC = 0.01  # flag dims under 1% of the mean per-dim variance


@query()
def nzv_dimension_audit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(pos, var_fp, var_frac_of_mean, is_nzv): per-dimension variance
    of the embedding corpus with a near-zero-variance flag — the
    feature-screening pass run before any distance-based structure:
    dead dimensions waste quantizer budget (PQ sub-spaces, JL output
    dims) and, worse, a dimension that DIED between snapshots is an
    encoder-truncation bug no aggregate norm check sees.

    Exactness: per-dim moments are exact BIGINT sums of fixed-point
    components (the label_centroids arithmetic); the variance is
    emitted at fixed point (1e12-scaled integer, exact) next to its
    fraction of the mean per-dim variance (the flag's unit-free
    form; the mean folds a pos-sorted 64-cell list).

    Scale: ONE posexplode rollup to d cells; everything after is
    d-sized."""
    emb = tables.spread(tables.table(spark, sf_dir, "embeddings"), "vec_id")
    fp = 1_000_000
    cells = emb.select(
        F.posexplode("embedding").alias("pos", "x")
    ).select(
        "pos",
        F.floor(F.col("x").cast("double") * fp).cast("bigint").alias("q"),
    ).groupBy("pos").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("q").cast("bigint").alias("s"),
        F.sum(F.col("q") * F.col("q")).cast("bigint").alias("ss"),
    ).filter(F.col("n") >= 2)
    var_fp = (
        (
            F.col("ss").cast("double")
            - F.col("s").cast("double")
            * (F.col("s").cast("double") / F.col("n").cast("double"))
        )
        / (F.col("n") - 1).cast("double")
    )
    scored = cells.select(
        "pos",
        F.floor(var_fp).cast("bigint").alias("var_fp"),
    )
    mean_var = scored.agg(
        (
            F.expr(
                "aggregate(transform(array_sort(collect_list("
                "struct(pos, var_fp))), x -> cast(x.var_fp as double)), "
                "cast(0.0 as double), (a, x) -> a + x)"
            )
            / F.count(F.lit(1)).cast("double")
        ).alias("mv")
    )
    return scored.crossJoin(F.broadcast(mean_var)).select(
        "pos",
        "var_fp",
        F.when(
            F.col("mv") > 0, F.col("var_fp").cast("double") / F.col("mv")
        ).otherwise(F.lit(0.0)).alias("var_frac_of_mean"),
        F.when(
            F.col("mv") > 0,
            F.col("var_fp").cast("double")
            < F.lit(float(NZV_VAR_FRAC)) * F.col("mv"),
        ).otherwise(F.lit(False)).alias("is_nzv"),
    )


NZV_DIMENSION_AUDIT_ORACLE = f"""
WITH cells AS (
  SELECT i - 1 AS pos,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000)
              AS BIGINT)) AS BIGINT) AS s,
         CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000)
                AS BIGINT)
              * CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000)
                AS BIGINT)) AS BIGINT) AS ss
  FROM embeddings, generate_series(1, {DIM}) AS t(i)
  GROUP BY 1
  HAVING count(*) >= 2
),
scored AS (
  SELECT pos,
         CAST(floor((CAST(ss AS DOUBLE)
             - CAST(s AS DOUBLE) * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
             / CAST(n - 1 AS DOUBLE)) AS BIGINT) AS var_fp
  FROM cells
),
mv AS (
  SELECT list_reduce(list_transform(list(var_fp ORDER BY pos),
             x -> CAST(x AS DOUBLE)), (a, b) -> a + b)
           / CAST(count(*) AS DOUBLE) AS mv
  FROM scored
)
SELECT s.pos, s.var_fp,
       CASE WHEN m.mv > 0 THEN CAST(s.var_fp AS DOUBLE) / m.mv
            ELSE 0.0 END AS var_frac_of_mean,
       CASE WHEN m.mv > 0
            THEN CAST(s.var_fp AS DOUBLE) < {NZV_VAR_FRAC} * m.mv
            ELSE FALSE END AS is_nzv
FROM scored s, mv m
"""

"""Spectral primitive: ROUNDS deterministic power-iteration steps on
the uncentered Gram matrix of the embedding cloud — the building block
behind PCA whitening, spectral outlier removal, and the "dominant
component removal" step some embedding-quality pipelines apply before
indexing.

The operator's contract is the ITERATION, not eigen-convergence: with
a healthy eigengap the result approaches the top eigenvector at rate
(l2/l1)^ROUNDS, but the driver's synthetic embeddings are nearly
degenerate (l2/l1 ~ 0.98 measured), so the spec — and the oracle
check — is the exact fixed-point recurrence itself. Callers needing
convergence raise ROUNDS (cost is linear: one fixed-size matvec per
round; the corpus is touched zero times after the Gram build).

Determinism contract (this is an ITERATIVE float algorithm, normally
the worst case for cross-engine equality): every accumulation is an
exact integer/decimal sum —

- data is fixed-pointed once (floor(x * 1e6) -> BIGINT, the
  label_centroids contract);
- the Gram matrix G[p,q] = sum_i x_i[p] * x_i[q] accumulates exact
  BIGINT products;
- each matvec accumulates DECIMAL(38,0) products of exact integers;
- the per-round normalization divides by the exact MAX(|component|)
  (an exact selection, not a float norm), with one correctly-rounded
  double division + floor back to the 1e9 grid.

So every round's vector is bit-identical on both engines, and the
fixed ROUNDS-round result is oracle-checked exactly — no tolerance.

Scale: the Gram pair join explodes each vector to dim^2 = 4096
products, but the groupBy(p, q) aggregate is partial-aggregatable and
its output is a fixed 64x64 = 4096 rows regardless of corpus size —
the iteration then runs on that fixed-size table (pinned once),
touching the corpus zero times per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import tables
from ..pinning import pin as _pin
from .similarity import DIM, _FP_SCALE

ROUNDS = 5
_V_SCALE = 10**9
_D38 = "decimal(38,0)"


def power_iteration_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(pos, component) of the unit-max-norm vector after ROUNDS
    power-iteration steps from the uniform start vector."""
    emb = tables.spread(tables.table(spark, sf_dir, "embeddings"), "vec_id")
    fp = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos0", "x")
    ).select(
        "vec_id",
        (F.col("pos0") + 1).alias("pos"),
        F.floor(F.col("x").cast("double") * _FP_SCALE).alias("x_fp"),
    )
    a = fp.select("vec_id", F.col("pos").alias("p"), F.col("x_fp").alias("xa"))
    b = fp.select("vec_id", F.col("pos").alias("q"), F.col("x_fp").alias("xb"))
    # Products are ~1e12 (x_fp up to ~1e6), so a BIGINT sum overflows
    # int64 around ~10M vectors — under ANSI mode that aborts the job.
    # Accumulate DECIMAL(38,0) (exact, associative), matching the
    # matvec's treatment; DuckDB's SUM(BIGINT) already promotes to
    # HUGEINT so the oracle needs no change.
    gram = _pin(
        a.join(b, "vec_id")
        .groupBy("p", "q")
        .agg(F.sum((F.col("xa") * F.col("xb")).cast(_D38)).alias("g"))
    )
    # Round-11 reshape (guide §2.4, the markov_stationary pattern):
    # the iteration used to be ROUNDS chained join+groupBy rounds with
    # an eager localCheckpoint each — ~3 tiny stages + 1 job per round
    # of pure scheduling overhead on a DIM^2 = constant-size Gram
    # matrix. The matrix collapses into ONE row (entries grouped by
    # output position p, in p order), is checkpointed so the grouped
    # array is a bound VALUE (collapsed projections would otherwise
    # re-evaluate it per element access — the exponential-HOF lesson
    # from markov_stationary), and the ROUNDS matvec+normalize steps
    # run as a single higher-order fold. Arithmetic is step-for-step
    # identical: DECIMAL(38,0) products and sums (exact, associative;
    # same cast chain as the join form), max |s| in DECIMAL, one
    # floor(double/double * SCALE) per component — bit-identical
    # output (oracle-checked). The inner `array(...)`-of-one-element
    # aggregate is the let-binding idiom: it evaluates the matvec s
    # ONCE per round, then the normalize lambda references s as a
    # value.
    one = gram.agg(F.expr("collect_list(struct(p, q, g))").alias("gm"))
    # _pin, not a bare localCheckpoint (r11 ADVICE): tracked so its
    # pin scope releases the one-row matrix between queries.
    one = _pin(
        one.select(
            F.expr(
                f"transform(sequence(1, {DIM}), "
                "pp -> filter(gm, e -> e.p = pp))"
            ).alias("gmp")
        )
    )
    fold = (
        f"aggregate(sequence(1, {ROUNDS}), "
        f"transform(sequence(1, {DIM}), x -> cast({_V_SCALE} as bigint)), "
        "(vv, i) -> aggregate("
        "array(transform(gmp, es -> aggregate(es, cast(0 as decimal(38,0)), "
        "(acc, e) -> acc + e.g * cast(element_at(vv, e.q) as decimal(38,0))"
        "))), "
        "cast(array() as array<bigint>), "
        "(zz, s) -> transform(s, x -> cast(floor(cast(x as double) "
        "/ cast(aggregate(s, cast(0 as decimal(38,0)), "
        "(a, y) -> greatest(a, abs(y))) as double) "
        f"* {_V_SCALE}) as bigint))))"
    )
    return (
        one.select(F.expr(fold).alias("vfin"))
        .select(F.posexplode("vfin").alias("pos0", "v"))
        .select(
            (F.col("pos0") + 1).cast("int").alias("pos"),
            (F.col("v").cast("double") / _V_SCALE).alias("component"),
        )
    )


def _oracle() -> str:
    its = []
    prev = "v0"
    for i in range(1, ROUNDS + 1):
        its.append(f"""s{i} AS (
  SELECT g.p AS pos, SUM(CAST(g.g AS DECIMAL(38,0)) * CAST(v.v AS DECIMAL(38,0))) AS s
  FROM gram g JOIN {prev} v ON v.pos = g.q
  GROUP BY g.p
),
m{i} AS (SELECT MAX(abs(s)) AS m FROM s{i}),
v{i} AS (
  SELECT pos,
         CAST(floor(CAST(s AS DOUBLE) / CAST(m AS DOUBLE) * {_V_SCALE})
              AS BIGINT) AS v
  FROM s{i}, m{i}
)""")
        prev = f"v{i}"
    chain = ",\n".join(its)
    return f"""
WITH fp AS (
  SELECT vec_id, i AS pos,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * {_FP_SCALE}) AS BIGINT)
             AS x_fp
  FROM embeddings, generate_series(1, {DIM}) AS t(i)
),
gram AS MATERIALIZED (
  SELECT a.pos AS p, b.pos AS q, SUM(a.x_fp * b.x_fp) AS g
  FROM fp a JOIN fp b ON b.vec_id = a.vec_id
  GROUP BY 1, 2
),
v0 AS (
  SELECT i AS pos, CAST({_V_SCALE} AS BIGINT) AS v
  FROM generate_series(1, {DIM}) AS t(i)
),
{chain}
SELECT pos, CAST(v AS DOUBLE) / {_V_SCALE} AS component FROM {prev}
"""


POWER_ITERATION_ORACLE = _oracle()

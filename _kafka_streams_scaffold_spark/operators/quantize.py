"""Embedding quantization: symmetric per-vector int8 compression.

A 100 TB embedding corpus at float32 is 4 bytes/dim; serving and ANN
tiers ship int8 (scale + codes) for a 4x bandwidth/storage cut with
~0.3% cosine error. The standard symmetric scheme: per vector,
``scale = max|x| / 127``, ``q_i = round(x_i / scale)`` — and the
round is expressed as ``floor(v + 0.5)`` so both engines compute the
identical half-up semantics (Spark's ROUND and DuckDB's round differ
on ties; floor of the same correctly-rounded double does not).

Pure per-row expressions: no shuffle, no UDF, column-pruned scan —
the whole operator rides whole-stage codegen at any corpus size. The
error audit reduces per-element absolute errors through the module's
standard fixed-point contract (floor(1e9 x) -> BIGINT, exact sum) so
the corpus-level mean is order-independent and cross-engine exact.

The tier is load-bearing, not just a storage codec: ``int8_ann`` runs
the cosine search entirely in the quantized domain (exact BIGINT dot
products; the per-vector scales cancel in the cosine), and
``int8_ann_recall`` hash-checks its recall@k against the exact float
search — the same layered contract as the PQ stack (pq.py).

North-star addition (no reference analog; the scaffold has no
vector surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import tables

_QMAX = 127

# max|x| as double; 0.0 only for the all-zero vector
_MAXABS = "array_max(transform(embedding, x -> abs(cast(x as double))))"

_Q_CODES = (
    f"case when {_MAXABS} = 0.0d then transform(embedding, x -> 0) "
    f"else transform(embedding, x -> cast(floor(cast(x as double) "
    f"/ {_MAXABS} * {_QMAX}.0d + 0.5d) as int)) end"
)


def embedding_quantize_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, scale, q): per-vector symmetric int8 codes plus the
    dequantization scale. all-zero vectors quantize to zero codes with
    scale 0 (guarded — ANSI mode would otherwise abort on the
    divide). The codes ship as a comma-joined string (one scalar per
    vector) rather than ``array<int>``: downstream tabular consumers —
    including the driver's pandas canonicalizer — sort/hash scalar
    columns, and int→string rendering is exact and engine-agnostic, so
    nothing is lost by scalarizing at the boundary."""
    emb = tables.table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        (F.expr(_MAXABS) / F.lit(float(_QMAX))).alias("scale"),
        F.expr(
            f"array_join(transform({_Q_CODES}, c -> cast(c as string)), ',')"
        ).alias("q"),
    )


_DUCK_MAXABS = "list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))"

EMBEDDING_QUANTIZE_ORACLE = f"""
SELECT vec_id,
       {_DUCK_MAXABS} / {_QMAX}.0 AS scale,
       array_to_string(
         CASE WHEN {_DUCK_MAXABS} = 0.0
              THEN list_transform(embedding, x -> 0)
              ELSE list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)
                   / {_DUCK_MAXABS} * {_QMAX}.0 + 0.5) AS INT)) END,
         ',') AS q
FROM embeddings
"""


_ERR_SCALE = 10**9


def quantization_error_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus audit: (n_vecs, n_elems, mean_abs_err) of int8
    reconstruction (q * scale vs original). ONE scan — quantize,
    dequantize, and error all evaluate per row in the same codegen
    stage (no self-join back to the corpus). Element errors are
    fixed-pointed before the sum so the reduction is an exact BIGINT
    aggregate — deterministic under any partitioning — with one
    correctly-rounded division at the end. Partial-aggregatable:
    map-side combine collapses each partition to three numbers."""
    emb = tables.table(spark, sf_dir, "embeddings")
    per_row = emb.select(
        F.size("embedding").alias("d"),
        F.expr(
            f"aggregate(zip_with(embedding, {_Q_CODES}, (x, c) -> "
            f"cast(floor(abs(cast(x as double) - c * ({_MAXABS} / {_QMAX}.0d)) "
            f"* {_ERR_SCALE}L) as bigint)), 0L, (acc, e) -> acc + e)"
        ).alias("efp"),
    )
    return per_row.agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("d").alias("n_elems"),
        (
            F.sum("efp").cast("double")
            / (F.sum("d") * F.lit(_ERR_SCALE)).cast("double")
        ).alias("mean_abs_err"),
    )


# The DuckDB twin mirrors the one-pass shape: scale and codes are
# recomputed inline per row (list ops over the zipped pair list),
# then fixed-point errors sum exactly.
QUANTIZATION_ERROR_ORACLE = f"""
WITH per_row AS (
  SELECT len(embedding) AS d,
         list_sum(list_transform(
           list_zip(embedding,
                    CASE WHEN {_DUCK_MAXABS} = 0.0
                         THEN list_transform(embedding, x -> 0)
                         ELSE list_transform(embedding,
                              x -> CAST(floor(CAST(x AS DOUBLE)
                                   / {_DUCK_MAXABS} * {_QMAX}.0 + 0.5) AS INT))
                    END),
           p -> CAST(floor(abs(CAST(p[1] AS DOUBLE)
                    - p[2] * ({_DUCK_MAXABS} / {_QMAX}.0))
                    * {_ERR_SCALE}) AS BIGINT))) AS efp
  FROM embeddings
)
SELECT CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(d) AS BIGINT) AS n_elems,
       CAST(sum(efp) AS DOUBLE) / CAST(sum(d) * {_ERR_SCALE} AS DOUBLE)
         AS mean_abs_err
FROM per_row
"""


# --------------------------------------------------------------------------
# int8 ANN: cosine search in the quantized domain (exact-integer dots)
# --------------------------------------------------------------------------

# Query/top-k dials shared with the rest of the ANN stack so the
# recall gate below compares like for like.
from .similarity import N_QUERIES, TOP_K, _dot_sql, _norm_sql  # noqa: E402

_SSQ_SPARK = "aggregate(q, 0L, (acc, c) -> acc + cast(c as bigint) * c)"


def int8_ann_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(q_id, n_id, dot_int, qcos, rank): top-k cosine search run
    entirely in the int8 domain — the serving-tier search a real
    deployment executes against the quantized index (4x less memory
    bandwidth than float32; SIMD int8 dot products). The per-vector
    scales CANCEL in the cosine, so the score is
    dot_int / (sqrt(ssq_q)·sqrt(ssq_n)) over exact BIGINT integer
    sums: the only floats are two correctly-rounded sqrts and one
    division of bit-identical inputs, making the whole ranking
    cross-engine hash-stable (no fixed-point scaffolding needed —
    quantization already made the data integral). All-zero vectors
    have no direction and are excluded from both sides (ANSI division
    guard + the only semantically defensible choice).

    Scale: same posture as ann_topk (queries broadcast, corpus
    scanned once, per-query top-k windows); at 100 TB the IVF/PQ
    tiers shortlist and this integer kernel scores — see pq.py for
    the layered design.

    Round-11: a ``sim.int8_ann`` shared pin — the recall gate, the
    nDCG audit and rank_biased_overlap all re-ran this search; one
    materialization per family scope."""

    def build() -> DataFrame:
        emb = tables.table(spark, sf_dir, "embeddings")
        qf = emb.select("vec_id", F.expr(_Q_CODES).alias("q")).select(
            "vec_id", "q", F.expr(_SSQ_SPARK).alias("ssq")
        ).filter(F.col("ssq") > 0)
        queries = qf.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("q_id"),
            F.col("q").alias("q_q"),
            F.col("ssq").alias("q_ssq"),
        )
        corpus = qf.select(
            F.col("vec_id").alias("n_id"),
            F.col("q").alias("n_q"),
            F.col("ssq").alias("n_ssq"),
        )
        dot = F.expr(
            "aggregate(zip_with(q_q, n_q, (x, y) -> cast(x as bigint) * y),"
            " 0L, (acc, t) -> acc + t)"
        )
        from pyspark.sql import Window as W

        scored = (
            corpus.crossJoin(F.broadcast(queries))
            .filter(F.col("q_id") != F.col("n_id"))
            .select(
                "q_id",
                "n_id",
                dot.alias("dot_int"),
                (
                    dot.cast("double")
                    / (
                        F.sqrt(F.col("q_ssq").cast("double"))
                        * F.sqrt(F.col("n_ssq").cast("double"))
                    )
                ).alias("qcos"),
            )
        )
        w = W.partitionBy("q_id").orderBy(
            F.col("qcos").desc(), F.col("n_id")
        )
        return scored.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= TOP_K
        )

    from ..pinning import shared_pin as _shared_pin

    return _shared_pin(
        ("sim.int8_ann", tables.table(spark, sf_dir, "embeddings"), N_QUERIES, TOP_K),
        build,
    )


_DUCK_QF = f"""
qf AS (
  SELECT vec_id,
         CASE WHEN {_DUCK_MAXABS} = 0.0
              THEN list_transform(embedding, x -> 0)
              ELSE list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)
                   / {_DUCK_MAXABS} * {_QMAX}.0 + 0.5) AS INT)) END AS q
  FROM embeddings
),
qs AS (
  SELECT vec_id, q,
         CAST(list_sum(list_transform(q, c -> CAST(c AS BIGINT) * c))
              AS BIGINT) AS ssq
  FROM qf
)
"""

INT8_ANN_ORACLE = f"""
WITH {_DUCK_QF},
scored AS (
  SELECT a.vec_id AS q_id, b.vec_id AS n_id,
         CAST(list_sum(list_transform(list_zip(a.q, b.q),
              p -> CAST(p[1] AS BIGINT) * p[2])) AS BIGINT) AS dot_int,
         CAST(list_sum(list_transform(list_zip(a.q, b.q),
              p -> CAST(p[1] AS BIGINT) * p[2])) AS DOUBLE)
           / (sqrt(CAST(a.ssq AS DOUBLE)) * sqrt(CAST(b.ssq AS DOUBLE)))
           AS qcos
  FROM qs a CROSS JOIN qs b
  WHERE a.vec_id < {N_QUERIES} AND a.vec_id <> b.vec_id
    AND a.ssq > 0 AND b.ssq > 0
)
SELECT q_id, n_id, dot_int, qcos, rank FROM (
  SELECT q_id, n_id, dot_int, qcos,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY qcos DESC, n_id) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
"""


def _int8_vs_exact_recall(
    spark: SparkSession, sf_dir: str, approx: DataFrame
) -> DataFrame:
    """Shared recall@k reduction: left-join an approximate top-k edge
    set onto the exact float cosine top-k (ann_topk) and report
    per-query (n_exact, n_hits, recall)."""
    from .similarity import ann_topk_query

    exact = ann_topk_query(spark, sf_dir).select("q_id", "n_id")
    approx = approx.select("q_id", "n_id").withColumn("hit", F.lit(1))
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


def int8_ann_recall_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(q_id, n_exact, n_hits, recall): recall@k of the int8-domain
    search against the exact float cosine top-k (ann_topk) — the
    quantization tier's quality contract on the hash-checked surface
    (both rankings are deterministic, so the overlap is too). This is
    the number that justifies shipping int8 to serving: ~0.3% cosine
    error should cost little-to-no recall at k=5."""
    return _int8_vs_exact_recall(
        spark, sf_dir, int8_ann_query(spark, sf_dir)
    )


INT8_ANN_RECALL_ORACLE = f"""
WITH {_DUCK_QF},
approx AS (
  SELECT q_id, n_id FROM (
    SELECT a.vec_id AS q_id, b.vec_id AS n_id,
           row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY CAST(list_sum(list_transform(list_zip(a.q, b.q),
                        p -> CAST(p[1] AS BIGINT) * p[2])) AS DOUBLE)
                      / (sqrt(CAST(a.ssq AS DOUBLE))
                         * sqrt(CAST(b.ssq AS DOUBLE))) DESC,
                      b.vec_id
           ) AS rank
    FROM qs a CROSS JOIN qs b
    WHERE a.vec_id < {N_QUERIES} AND a.vec_id <> b.vec_id
      AND a.ssq > 0 AND b.ssq > 0
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
# Binary (sign-bit) quantization: 1 bit/dim, Hamming-distance ANN
# --------------------------------------------------------------------------

# One bit per dimension (b_i = 1 iff x_i > 0), packed 32 dims per
# BIGINT word so no signature ever touches the sign bit — the 64-dim
# corpus packs into exactly (lo, hi). The layered quantization menu
# this completes: float32 (4 B/dim, exact) -> int8 (1 B/dim, int8_ann)
# -> PQ (codebook bytes, pq.py) -> binary (1 BIT/dim, here; a 32x cut
# vs float32) with a hash-checked recall gate per tier, so choosing a
# serving tier is a table lookup, not a guess. Wider corpora pack
# ceil(dim/32) words; the Hamming kernel stays a per-word
# bit_count(xor) sum.

_BITS_PER_WORD = 32

# word k covers dims [k*32, (k+1)*32): slice is 1-based, transform's
# lambda index i is 0-based, so each set bit is shiftleft(1, i) < 2^32
_BIT_WORD = (
    "aggregate(transform(slice(embedding, {start}, 32), (x, i) -> "
    "case when cast(x as double) > 0.0d then shiftleft(1L, i) else 0L end), "
    "0L, (acc, v) -> acc + v)"
)
_SIG_LO = _BIT_WORD.format(start=1)
_SIG_HI = _BIT_WORD.format(start=33)


def binary_signatures_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, sig_lo, sig_hi, n_pos): the packed sign-bit signature
    of every vector plus its population count (number of positive
    dims — the balance dial; a healthy embedding model sits near
    dim/2). Pure per-row expressions: column-pruned scan, no shuffle,
    whole-stage codegen end to end — the cheapest possible pass over
    a 100 TB embedding corpus, emitting 8 bytes + a small int per
    vector."""
    emb = tables.table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.expr(_SIG_LO).alias("sig_lo"),
        F.expr(_SIG_HI).alias("sig_hi"),
        F.expr(
            f"cast(bit_count({_SIG_LO}) + bit_count({_SIG_HI}) as int)"
        ).alias("n_pos"),
    )


# DuckDB twin: unnest with subscripts, roll up per vector. The 1-based
# subscript i maps to bit (i-1) mod 32 of word (i-1) div 32.
_DUCK_SIG = """sig AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN i <= 32 AND e > 0
                       THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE 0 END)
              AS BIGINT) AS sig_lo,
         CAST(sum(CASE WHEN i > 32 AND e > 0
                       THEN (CAST(1 AS BIGINT) << (i - 33)) ELSE 0 END)
              AS BIGINT) AS sig_hi
  FROM (SELECT vec_id, unnest(embedding) AS e,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings)
  GROUP BY vec_id
)"""

BINARY_SIGNATURES_ORACLE = f"""
WITH {_DUCK_SIG}
SELECT vec_id, sig_lo, sig_hi,
       CAST(bit_count(sig_lo) + bit_count(sig_hi) AS INT) AS n_pos
FROM sig
"""


def binary_ann_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(q_id, n_id, hamming, rank): top-k nearest neighbors in the
    1-bit domain — Hamming distance over the packed signatures,
    bit_count(xor) per word. The scoring kernel a binary index
    serves: pure integer ops on 8-byte signatures (SIMD popcount on
    real hardware), no floats anywhere, so the ranking is trivially
    cross-engine bit-stable (ties break on n_id — Hamming over 64
    bits collides often, unlike cosine).

    Scale: same posture as ann_topk/int8_ann — queries broadcast,
    corpus scanned once, per-query top-k windows. At 100 TB binary is
    the FIRST tier of the cascade (32x less IO than float), its
    shortlist re-ranked by int8/PQ/float — binary_ann_recall measures
    exactly what that shortlist misses.

    Round-11: a ``sim.binary_ann`` shared pin — the recall gate and
    the nDCG audit re-ran this search; one materialization per
    family scope."""

    def build() -> DataFrame:
        emb = tables.table(spark, sf_dir, "embeddings")
        sigs = emb.select(
            "vec_id",
            F.expr(_SIG_LO).alias("lo"),
            F.expr(_SIG_HI).alias("hi"),
        )
        queries = sigs.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("q_id"),
            F.col("lo").alias("q_lo"),
            F.col("hi").alias("q_hi"),
        )
        corpus = sigs.select(
            F.col("vec_id").alias("n_id"),
            F.col("lo").alias("n_lo"),
            F.col("hi").alias("n_hi"),
        )
        from pyspark.sql import Window as W

        scored = (
            corpus.crossJoin(F.broadcast(queries))
            .filter(F.col("q_id") != F.col("n_id"))
            .select(
                "q_id",
                "n_id",
                F.expr(
                    "cast(bit_count(q_lo ^ n_lo)"
                    " + bit_count(q_hi ^ n_hi) as int)"
                ).alias("hamming"),
            )
        )
        w = W.partitionBy("q_id").orderBy(
            F.col("hamming").asc(), F.col("n_id")
        )
        return scored.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= TOP_K
        )

    from ..pinning import shared_pin as _shared_pin

    return _shared_pin(
        ("sim.binary_ann", tables.table(spark, sf_dir, "embeddings"), N_QUERIES, TOP_K),
        build,
    )


BINARY_ANN_ORACLE = f"""
WITH {_DUCK_SIG},
scored AS (
  SELECT a.vec_id AS q_id, b.vec_id AS n_id,
         CAST(bit_count(xor(a.sig_lo, b.sig_lo))
              + bit_count(xor(a.sig_hi, b.sig_hi)) AS INT) AS hamming
  FROM sig a CROSS JOIN sig b
  WHERE a.vec_id < {N_QUERIES} AND a.vec_id <> b.vec_id
)
SELECT q_id, n_id, hamming, rank FROM (
  SELECT q_id, n_id, hamming,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY hamming, n_id) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
"""


def binary_ann_recall_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(q_id, n_exact, n_hits, recall): recall@k of the 1-bit Hamming
    search against the exact float cosine top-k — the honest price
    tag on the 32x compression. Expected well below int8's (sign-only
    is coarse at 64 dims); the cascade design (binary shortlist ->
    finer re-rank) exists precisely because this number is < 1, and
    the audit makes the gap a measured quantity instead of folklore."""
    return _int8_vs_exact_recall(
        spark, sf_dir, binary_ann_query(spark, sf_dir)
    )


BINARY_ANN_RECALL_ORACLE = f"""
WITH {_DUCK_SIG},
approx AS (
  SELECT q_id, n_id FROM (
    SELECT a.vec_id AS q_id, b.vec_id AS n_id,
           row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY bit_count(xor(a.sig_lo, b.sig_lo))
                      + bit_count(xor(a.sig_hi, b.sig_hi)), b.vec_id
           ) AS rank
    FROM sig a CROSS JOIN sig b
    WHERE a.vec_id < {N_QUERIES} AND a.vec_id <> b.vec_id
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
# nDCG of the quantized ANN tiers vs the exact ranking (graded eval)
# --------------------------------------------------------------------------

# Graded relevance from the exact top-k: the true rank-1 neighbor is
# worth rel = k, rank-2 is k-1, ..., non-top-k is 0; gain = 2^rel - 1.
# The discount weights 1/log2(pos+1) are computed ONCE here and
# embedded as identical decimal literals in both engines — correctly
# rounded literal parse on both sides means NO libm call anywhere in
# the query, so each position term floor(1e6 * gain * w) is bit-exact
# by construction (int times identical double, floored).
import math as _math

_NDCG_W = [1.0 / _math.log2(p + 1) for p in range(1, TOP_K + 1)]
_NDCG_FP = 10**6

_W_SPARK = "array(" + ", ".join(f"{w!r}d" for w in _NDCG_W) + ")"
_W_DUCK = "[" + ", ".join(repr(w) for w in _NDCG_W) + "]"


def quantized_ann_ndcg_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(tier, q_id, dcg_fp, idcg_fp, ndcg): nDCG@k of the int8 and
    binary ANN tiers against the exact float cosine ranking — the
    graded companion to the recall gates: recall@k only counts set
    overlap, nDCG also charges a tier for putting the true rank-1
    neighbor at position 5 instead of 1, which is exactly the quality
    difference the compression cascade trades away. ndcg = 1 iff the
    tier reproduces the exact order; the binary tier's gap below the
    int8 tier is the measured cost of 1-bit signatures.

    Scale: both tier rankings and the exact ranking are the already-
    bounded Q x k edge sets; everything here is id-width joins and a
    per-query k-row rollup — evaluation cost is independent of corpus
    size once the searches have run."""
    exact = ann_topk_rel(spark, sf_dir)
    tiers = [
        ("int8", int8_ann_query(spark, sf_dir)),
        ("binary", binary_ann_query(spark, sf_dir)),
    ]
    w_at = f"element_at({_W_SPARK}, cast(rank as int))"
    term = (
        f"cast(floor({_NDCG_FP}.0d * cast(shiftleft(1, rel) - 1 as double)"
        f" * {w_at}) as bigint)"
    )
    idcg = (
        exact.selectExpr("q_id", "rel", "rank")
        .selectExpr("q_id", f"{term} as t")
        .groupBy("q_id")
        .agg(F.sum("t").cast("bigint").alias("idcg_fp"))
    )
    outs = []
    for name, approx in tiers:
        scored = (
            approx.select("q_id", "n_id", "rank")
            .join(
                exact.select("q_id", "n_id", "rel"),
                ["q_id", "n_id"],
                "left",
            )
            .withColumn("rel", F.coalesce(F.col("rel"), F.lit(0)))
            .selectExpr("q_id", f"{term} as t")
            .groupBy("q_id")
            .agg(F.sum("t").cast("bigint").alias("dcg_fp"))
            .withColumn("tier", F.lit(name))
        )
        outs.append(scored)
    dcg = outs[0].unionAll(outs[1])
    return (
        dcg.join(F.broadcast(idcg), "q_id")
        .select(
            "tier",
            "q_id",
            "dcg_fp",
            "idcg_fp",
            (
                F.col("dcg_fp").cast("double") / F.col("idcg_fp").cast("double")
            ).alias("ndcg"),
        )
    )


def ann_topk_rel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k with graded relevance rel = k + 1 - rank."""
    from .similarity import ann_topk_query

    return ann_topk_query(spark, sf_dir).select(
        "q_id",
        "n_id",
        "rank",
        (F.lit(TOP_K + 1) - F.col("rank")).cast("int").alias("rel"),
    )


QUANTIZED_ANN_NDCG_ORACLE = f"""
WITH {_DUCK_QF},
{_DUCK_SIG.replace("sig AS (", "bsig AS (", 1)},
normed AS (
  SELECT vec_id, embedding, {_norm_sql('embedding', 'duck')} AS norm
  FROM embeddings
),
exact AS (
  SELECT q_id, n_id, rank, {TOP_K} + 1 - rank AS rel FROM (
    SELECT q.vec_id AS q_id, n.vec_id AS n_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_dot_sql('q.embedding', 'n.embedding', 'duck')}
                      / (q.norm * n.norm) DESC, n.vec_id
           ) AS rank
    FROM normed q CROSS JOIN normed n
    WHERE q.vec_id < {N_QUERIES} AND q.vec_id <> n.vec_id
  ) WHERE rank <= {TOP_K}
),
i8 AS (
  SELECT q_id, n_id, rank FROM (
    SELECT a.vec_id AS q_id, b.vec_id AS n_id,
           row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY CAST(list_sum(list_transform(list_zip(a.q, b.q),
                        p -> CAST(p[1] AS BIGINT) * p[2])) AS DOUBLE)
                      / (sqrt(CAST(a.ssq AS DOUBLE))
                         * sqrt(CAST(b.ssq AS DOUBLE))) DESC,
                      b.vec_id
           ) AS rank
    FROM qs a CROSS JOIN qs b
    WHERE a.vec_id < {N_QUERIES} AND a.vec_id <> b.vec_id
      AND a.ssq > 0 AND b.ssq > 0
  ) WHERE rank <= {TOP_K}
),
bin AS (
  SELECT q_id, n_id, rank FROM (
    SELECT a.vec_id AS q_id, b.vec_id AS n_id,
           row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY bit_count(xor(a.sig_lo, b.sig_lo))
                      + bit_count(xor(a.sig_hi, b.sig_hi)), b.vec_id
           ) AS rank
    FROM bsig a CROSS JOIN bsig b
    WHERE a.vec_id < {N_QUERIES} AND a.vec_id <> b.vec_id
  ) WHERE rank <= {TOP_K}
),
tagged AS (
  SELECT 'int8' AS tier, q_id, n_id, rank FROM i8
  UNION ALL
  SELECT 'binary' AS tier, q_id, n_id, rank FROM bin
),
idcg AS (
  SELECT q_id,
         CAST(sum(CAST(floor({_NDCG_FP}.0
           * CAST((1 << rel) - 1 AS DOUBLE)
           * ({_W_DUCK})[rank]) AS BIGINT)) AS BIGINT) AS idcg_fp
  FROM exact GROUP BY q_id
),
dcg AS (
  SELECT t.tier, t.q_id,
         CAST(sum(CAST(floor({_NDCG_FP}.0
           * CAST((1 << coalesce(e.rel, 0)) - 1 AS DOUBLE)
           * ({_W_DUCK})[t.rank]) AS BIGINT)) AS BIGINT) AS dcg_fp
  FROM tagged t
  LEFT JOIN exact e ON e.q_id = t.q_id AND e.n_id = t.n_id
  GROUP BY t.tier, t.q_id
)
SELECT d.tier, d.q_id, d.dcg_fp, i.idcg_fp,
       CAST(d.dcg_fp AS DOUBLE) / CAST(i.idcg_fp AS DOUBLE) AS ndcg
FROM dcg d JOIN idcg i ON i.q_id = d.q_id
"""


# --------------------------------------------------------------------------
# Rank-biased overlap between the int8 and exact rankings
# --------------------------------------------------------------------------

RBO_P = 0.9  # top-weightedness (Webber et al., TOIS 2010 default)
_RBO_FP = 10**12


def _rbo_weights() -> dict[int, int]:
    """W[m] = sum_{d=m..TOP_K} p^(d-1)/d, fixed-pointed: a pair first
    co-present at depth m contributes to every deeper agreement A_d,
    so per-item weights make RBO a single pass over the JOINED
    rankings instead of K overlap counts. Baked as integer literals
    so no float SUM ever forms engine-side."""
    out = {}
    for m in range(1, TOP_K + 1):
        w = sum(RBO_P ** (d - 1) / d for d in range(m, TOP_K + 1))
        out[m] = int(w * _RBO_FP)
    return out


_RBO_W = _rbo_weights()


def rank_biased_overlap_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(q_id, n_common, rbo): truncated rank-biased overlap at depth
    TOP_K (p = 0.9) between the int8-domain ranking and the exact
    float ranking, per query — the top-weighted ranking-similarity
    metric (Webber, Moffat & Zobel 2010) the recall@k gate can't
    express: recall treats a swap of ranks 1 and 5 as free, RBO
    charges it. This is the metric that decides whether int8 serving
    preserves the ORDER users see, not just the member set.

    Exactness: each co-ranked item contributes the baked integer
    weight W[max(rank_int8, rank_exact)] (the depth where it first
    counts toward agreement); the per-query BIGINT sum is order-free
    and rbo = (1 - p) * sum / 1e12 is one fixed expression. Queries
    the int8 index cannot answer (all-zero vectors) emit rbo 0 via
    the left join from the exact side.

    Scale: both rankings are |Q| * TOP_K rows; everything here is
    id-width joins on a broadcast-sized panel."""
    exact = similarity_topk(spark, sf_dir).select(
        "q_id", "n_id", F.col("rank").alias("r_ex")
    )
    i8 = int8_ann_query(spark, sf_dir).select(
        "q_id", "n_id", F.col("rank").alias("r_i8")
    )
    w_expr = F.create_map(
        *[F.lit(x) for kv in _RBO_W.items() for x in kv]
    )[F.greatest("r_ex", "r_i8")]
    matched = (
        exact.join(i8, ["q_id", "n_id"])
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            F.sum(w_expr).cast("bigint").alias("w_fp"),
        )
    )
    base = exact.select("q_id").distinct()
    return base.join(matched, "q_id", "left").select(
        "q_id",
        F.coalesce("n_common", F.lit(0)).cast("bigint").alias("n_common"),
        (
            F.lit(1.0 - RBO_P)
            * (
                F.coalesce("w_fp", F.lit(0)).cast("double")
                / F.lit(float(_RBO_FP))
            )
        ).alias("rbo"),
    )


def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .similarity import ann_topk_query

    return ann_topk_query(spark, sf_dir)


def _rbo_oracle() -> str:
    from .similarity import ANN_TOPK_ORACLE

    w_case = "CASE greatest(e.rank, i.rank) " + " ".join(
        f"WHEN {m} THEN CAST({w} AS BIGINT)" for m, w in _RBO_W.items()
    ) + " END"
    return f"""
WITH rbo_exact AS MATERIALIZED (
  SELECT q_id, n_id, rank FROM ({ANN_TOPK_ORACLE.strip().rstrip(';')})
),
rbo_i8 AS MATERIALIZED (
  SELECT q_id, n_id, rank FROM ({INT8_ANN_ORACLE.strip().rstrip(';')})
),
matched AS (
  SELECT e.q_id, CAST(count(*) AS BIGINT) AS n_common,
         CAST(sum({w_case}) AS BIGINT) AS w_fp
  FROM rbo_exact e JOIN rbo_i8 i USING (q_id, n_id)
  GROUP BY 1
)
SELECT b.q_id,
       COALESCE(m.n_common, 0) AS n_common,
       {1.0 - RBO_P} * (CAST(COALESCE(m.w_fp, 0) AS DOUBLE)
                        / {float(_RBO_FP)}) AS rbo
FROM (SELECT DISTINCT q_id FROM rbo_exact) b
LEFT JOIN matched m USING (q_id)
"""


RANK_BIASED_OVERLAP_ORACLE = _rbo_oracle()

"""Product quantization (PQ): compressed-domain ANN for 100 TB
embedding corpora (Jégou, Douze & Schmid, "Product Quantization for
Nearest Neighbor Search", TPAMI 2011).

The scale story: float32 vectors are 4*DIM bytes; PQ codes are M
small ints (one sub-centroid id per subspace), a 32x compression here
— and search never touches raw vectors: each query builds an M x K
lookup table of subspace distances once, then every candidate's
approximate distance is M integer lookups + adds. That is the
asymmetric distance computation (ADC) shape billion-scale ANN systems
(FAISS IVFPQ et al.) run; on Spark it becomes

    codes table ((vector, subspace, cid) narrow rows, built once)
    x broadcast LUT (Q * M * K rows — KBs)
    -> hash join on (m, cid) -> partial-aggregated BIGINT sum per
       (query, vector) -> top-k window

so query cost is O(n * M) id-width rows and the corpus scan reads
only the code column: no vector ever shuffles at query time.

Codebook training is hash-seeded sampling + ONE exact Lloyd round
per subspace (assign to the sampled seeds, recenter each cell on its
fixed-point subvector mean — the same recentering contract as
``label_centroids``); real training runs a few more of the identical
rounds. Measured on the sf0.01 synthetic embeddings: pure-ADC
recall@5 is 0.36 (K=32, one Lloyd round) — the quantization noise
floor of near-uniform data — and the shipped search therefore
re-ranks an ADC shortlist exactly (``pq_ann_rerank``), measuring
0.76; at full scale this composes with IVF cell probing
(``ivf_ann``) exactly as FAISS IVFPQ does, with the shortlist
constant R independent of corpus size.

Determinism contract: every distance is fixed-pointed
(floor(d2 * 1e6) BIGINT) before any aggregation, argmins tie-break on
cid via integer packing (min over d2fp * 1024 + cid), and the Lloyd
means floor each element to 1e-6 before the exact BIGINT sum — so
codes, ADC sums, and ranks are bit-identical on both engines under
any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import tables
from ..functions.xhash import hash60_duck, hash60_spark
from ..registry import query
from .similarity import DIM, N_QUERIES, TOP_K

PQ_M = 8  # subspaces
PQ_SUB = DIM // PQ_M  # dims per subspace
PQ_K = 32  # centroids per sub-codebook
PQ_SEED = 23
_D2_SCALE = 10**6  # fixed-point scale for squared distances
_MEAN_SCALE = 10**6  # fixed-point scale for Lloyd means
_PACK = 1 << 10  # cid packs into the low bits; PQ_K << _PACK


def _sq(x: str, y: str) -> str:
    return f"(({x}) - ({y})) * (({x}) - ({y}))"


def _d2fp_sub(a: str, m: int, s: str, engine: str) -> str:
    """floor(1e6 * ||a_sub_m - s||^2) as BIGINT, where ``a`` is a
    full DIM-vector and ``s`` an 8-element sub-centroid — explicit
    left-associated sum, identical IEEE evaluation order on both
    engines."""
    terms = []
    for k in range(1, PQ_SUB + 1):
        i = m * PQ_SUB + k
        if engine == "spark":
            x = f"cast(element_at({a}, {i}) as double)"
            y = f"cast(element_at({s}, {k}) as double)"
        else:
            x = f"CAST({a}[{i}] AS DOUBLE)"
            y = f"CAST({s}[{k}] AS DOUBLE)"
        terms.append(_sq(x, y))
    body = " + ".join(terms)
    if engine == "spark":
        return f"cast(floor(({body}) * {_D2_SCALE}) as bigint)"
    return f"CAST(floor(({body}) * {_D2_SCALE}) AS BIGINT)"


def _packed_min(a: str, m: int, s: str, engine: str) -> str:
    return f"{_d2fp_sub(a, m, s, engine)} * {_PACK} + cid"


def pq_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cid, embedding): the PQ_K hash-sampled seed rows, cid by hash
    rank — deterministic, tiny, always broadcast. The corpus-wide
    selection is ``orderBy().limit(K)`` so it plans as
    TakeOrderedAndProject (per-partition heap of K + driver merge),
    NOT a global sort; the rank window then runs over the K surviving
    rows only."""
    emb = tables.table(spark, sf_dir, "embeddings")
    h = hash60_spark("cast(vec_id as string)", PQ_SEED)
    top = (
        emb.select("vec_id", "embedding", F.expr(h).alias("h"))
        .orderBy("h", "vec_id")
        .limit(PQ_K)
    )
    w = Window.orderBy("h", "vec_id")
    return (
        top.withColumn("cid", F.row_number().over(w))
        .select("cid", "embedding")
    )


def _sub_slices(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Explode (cid, embedding) into M (m, cid, s_vec) sub-centroid
    rows (s_vec = the m-th 8-dim slice)."""
    return df.select(
        "cid",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.expr(
                            f"slice({vec_col}, {m * PQ_SUB + 1}, {PQ_SUB})"
                        ).alias("s_vec"),
                    )
                    for m in range(PQ_M)
                ]
            )
        ).alias("e"),
    ).select("e.m", "cid", "e.s_vec")


def _sv_packed_min() -> str:
    """``_packed_min`` over a PRE-SLICED subvector column ``sv``
    (vs ``s_vec``): identical IEEE term order and fixed-pointing as
    the full-vector form — ``element_at(sv, k)`` is the same value as
    ``element_at(embedding, m*PQ_SUB+k)`` — so codes are bit-equal."""
    terms = " + ".join(
        _sq(
            f"cast(element_at(sv, {k}) as double)",
            f"cast(element_at(s_vec, {k}) as double)",
        )
        for k in range(1, PQ_SUB + 1)
    )
    return (
        f"cast(floor(({terms}) * {_D2_SCALE}) as bigint) * {_PACK} + cid"
    )


def _vec_slices(emb: DataFrame) -> DataFrame:
    """(vec_id, m, sv): each vector exploded into its M 8-dim
    subvectors — done ONCE, map-side, so everything downstream of the
    K-way centroid fan-out carries 8 doubles instead of the full
    DIM-wide embedding."""
    return emb.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.expr(
                            f"slice(embedding, {m * PQ_SUB + 1}, {PQ_SUB})"
                        ).alias("sv"),
                    )
                    for m in range(PQ_M)
                ]
            )
        ).alias("e"),
    ).select("vec_id", "e.m", "e.sv")


def _encode(emb: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, m, cid): per-subspace nearest sub-centroid via exact
    integer packing. One corpus scan x broadcast M*K centroid rows;
    the groupBy is partial-aggregatable (min of a BIGINT).

    Round-4 shape (verdict probe on the 7.0x pq_codes factor): the
    corpus is pre-sliced into (vec_id, m, 8-dim sv) rows before the
    broadcast join on m, so the K-way fan-out duplicates 8 doubles
    per row, not the DIM-wide embedding, and each distance evaluates
    with no M-way CASE dispatch. Same arithmetic, same codes."""
    pairs = _vec_slices(emb).join(F.broadcast(centroids), "m")
    return (
        pairs.select("vec_id", "m", F.expr(_sv_packed_min()).alias("pk"))
        .groupBy("vec_id", "m")
        .agg((F.min("pk") % _PACK).cast("int").alias("cid"))
    )


def pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(m, cid, s_vec): the trained sub-codebooks — hash-sampled
    seeds refined by one exact Lloyd round (assign every corpus
    subvector to its seed cell, recenter on the fixed-point mean;
    empty cells keep their seed). M*K rows total regardless of corpus
    size; the only corpus-sized work is one assign pass + one
    partial-aggregatable per-cell sum.

    Round-4 shape (verdict probe on the 7.0x pq_codes scale factor):
    the recenter previously JOINED the assignment table back to the
    raw embeddings on vec_id — a corpus-sized shuffle join that moved
    every DIM-wide vector M times. Now assignment and the Lloyd
    sums come out of ONE pass: the pre-sliced (vec_id, m, sv) rows
    carry their fixed-point component sums through the assign
    groupBy (constants within the group), so the per-cell recenter
    is a second partial-aggregatable groupBy over id-width+8 rows
    and raw vectors are read exactly once, never shuffled."""
    raw = tables.table(spark, sf_dir, "embeddings")
    emb = tables.spread(raw, "vec_id")
    sub0 = _sub_slices(pq_seeds(spark, sf_dir))
    fp_cols = [
        F.expr(
            f"cast(floor(cast(element_at(sv, {k}) as double)"
            f" * {_MEAN_SCALE}) as bigint)"
        ).alias(f"c{k}")
        for k in range(1, PQ_SUB + 1)
    ]
    sliced = _vec_slices(emb).select("vec_id", "m", "sv", *fp_cols)
    pairs = sliced.join(F.broadcast(sub0), "m")
    per_vm = (
        pairs.select(
            "vec_id",
            "m",
            F.expr(_sv_packed_min()).alias("pk"),
            *[f"c{k}" for k in range(1, PQ_SUB + 1)],
        )
        .groupBy("vec_id", "m")
        .agg(
            (F.min("pk") % _PACK).cast("int").alias("cid"),
            # the c{k} are constant within the (vec_id, m) group —
            # min() just carries them through the assign aggregate
            *[F.min(f"c{k}").alias(f"c{k}") for k in range(1, PQ_SUB + 1)],
        )
    )
    means = (
        per_vm.groupBy("m", "cid")
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(f"c{k}").alias(f"s{k}")
                for k in range(1, PQ_SUB + 1)
            ],
        )
        .select(
            "m",
            "cid",
            F.array(
                *[
                    (
                        F.col(f"s{k}").cast("double")
                        / F.col("n").cast("double")
                        / F.lit(float(_MEAN_SCALE))
                    )
                    for k in range(1, PQ_SUB + 1)
                ]
            ).alias("mean_vec"),
        )
    )
    # Pinned: the codebook is consumed by BOTH the encode branch and
    # the query LUT branch of every search plan; without the pin the
    # whole training subtree (seed selection + assign pass + means)
    # executes once per consumer. M*K rows — the pin is free.
    # Round-11: a ``sim.pq_codebook`` SHARED pin — four registered
    # queries (codes, ann, rerank, recall) train the same codebook,
    # so within the bench's embedding family it trains once.
    from ..pinning import shared_pin as _shared_pin

    return _shared_pin(
        ("sim.pq_codebook", raw, PQ_M, PQ_K, PQ_SEED),
        lambda: sub0.join(means, ["m", "cid"], "left").select(
            "m",
            "cid",
            F.coalesce("mean_vec", F.col("s_vec").cast("array<double>")).alias(
                "s_vec"
            ),
        ),
    )


@query(family="sim")
def pq_codes_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, codes): the stored PQ artifact — each vector's M
    per-subspace centroid ids against the trained codebook, rendered
    as the comma-joined code word the code column would hold."""
    emb = tables.spread(tables.table(spark, sf_dir, "embeddings"), "vec_id")
    codes = _encode(emb, pq_codebook(spark, sf_dir))
    return codes.groupBy("vec_id").agg(
        F.concat_ws(
            ",",
            *[
                F.max(
                    F.when(F.col("m") == m, F.col("cid").cast("string"))
                ).alias(f"x{m}")
                for m in range(PQ_M)
            ],
        ).alias("codes")
    )


def _adc_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(q_id, n_id, adc_fp, rank): every corpus vector ranked per
    query by compressed-domain ADC distance — the shared engine under
    pq_ann (top-k cut) and pq_ann_rerank (shortlist cut). Round-11:
    a ``sim.pq_adc`` shared pin, so the encode + LUT-join + rank runs
    once per family scope instead of once per consumer."""

    def build() -> DataFrame:
        emb = tables.spread(
            tables.table(spark, sf_dir, "embeddings"), "vec_id"
        )
        cb = pq_codebook(spark, sf_dir)
        codes = _encode(emb, cb).select(
            F.col("vec_id").alias("n_id"), "m", "cid"
        )
        queries = (
            tables.table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") < N_QUERIES)
            .select(
                F.col("vec_id").alias("q_id"),
                F.col("embedding").alias("q_vec"),
            )
        )
        dfp = F.when(
            F.col("m") == 0, F.expr(_d2fp_sub("q_vec", 0, "s_vec", "spark"))
        )
        for m in range(1, PQ_M):
            dfp = dfp.when(
                F.col("m") == m, F.expr(_d2fp_sub("q_vec", m, "s_vec", "spark"))
            )
        lut = queries.crossJoin(cb).select("q_id", "m", "cid", dfp.alias("dfp"))
        adc = (
            codes.join(F.broadcast(lut), ["m", "cid"])
            .groupBy("q_id", "n_id")
            .agg(F.sum("dfp").cast("bigint").alias("adc_fp"))
            .filter(F.col("q_id") != F.col("n_id"))
        )
        w = Window.partitionBy("q_id").orderBy("adc_fp", "n_id")
        return adc.withColumn("rank", F.row_number().over(w))

    from ..pinning import shared_pin as _shared_pin

    return _shared_pin(
        ("sim.pq_adc", tables.table(spark, sf_dir, "embeddings"), N_QUERIES), build
    )


@query(family="sim")
def pq_ann_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(q_id, n_id, adc_fp, rank): pure ADC top-k — queries keep raw
    vectors, corpus is codes-only. LUT = Q x M x K fixed-point
    subspace distances (broadcast); the code rows hash-join the LUT
    on (m, cid); the per-(q, vec) BIGINT sum is exact, so ranks are
    deterministic (ties on n_id)."""
    return _adc_ranked(spark, sf_dir).filter(F.col("rank") <= TOP_K)


PQ_RERANK = 80  # ADC shortlist size entering exact re-rank


@query(family="sim")
def pq_ann_rerank_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(q_id, n_id, exact_fp, rank): the production PQ search — ADC
    prunes the corpus to a PQ_RERANK shortlist per query in the
    compressed domain, then ONLY the shortlist's raw vectors are
    fetched and exactly re-ranked (the standard IVFPQ+refine shape:
    the expensive exact distance touches Q * R vectors, never the
    corpus). The id-keyed shortlist-to-vector join is the only place
    raw vectors move, and it is Q * R rows wide."""
    shortlist = _adc_ranked(spark, sf_dir).filter(
        F.col("rank") <= PQ_RERANK
    ).select("q_id", "n_id")
    emb = tables.table(spark, sf_dir, "embeddings")
    queries = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    )
    rescored = (
        shortlist.join(
            emb.select(
                F.col("vec_id").alias("n_id"), F.col("embedding").alias("n_vec")
            ),
            "n_id",
        )
        .join(F.broadcast(queries), "q_id")
        .select(
            "q_id",
            "n_id",
            F.expr(_exact_fp_sql("q_vec", "n_vec", "spark")).alias("exact_fp"),
        )
    )
    w = Window.partitionBy("q_id").orderBy("exact_fp", "n_id")
    return rescored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= TOP_K
    )


def _exact_fp_sql(a: str, b: str, engine: str) -> str:
    """Full-vector distance in the SAME metric ADC approximates: the
    sum of per-subspace fixed-point squared distances (subvector of
    ``b`` accessed in place). The exact comparator that isolates
    quantization loss."""
    parts = []
    for m in range(PQ_M):
        terms = []
        for k in range(1, PQ_SUB + 1):
            i = m * PQ_SUB + k
            if engine == "spark":
                x = f"cast(element_at({a}, {i}) as double)"
                y = f"cast(element_at({b}, {i}) as double)"
            else:
                x = f"CAST({a}[{i}] AS DOUBLE)"
                y = f"CAST({b}[{i}] AS DOUBLE)"
            terms.append(_sq(x, y))
        body = " + ".join(terms)
        if engine == "spark":
            parts.append(f"cast(floor(({body}) * {_D2_SCALE}) as bigint)")
        else:
            parts.append(f"CAST(floor(({body}) * {_D2_SCALE}) AS BIGINT)")
    return " + ".join(parts)


@query(family="sim")
def pq_recall_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(q_id, n_exact, n_hits, recall): recall@k of the shipped PQ
    search (ADC shortlist + exact re-rank) against the exact
    (unquantized) top-k in the identical fixed-point metric — the PQ
    tier's quality contract on the hash-checked surface (both
    searches are deterministic). The exact side is the brute-force
    broadcast scan, as ann_topk; a recall miss here means the true
    neighbor fell outside the ADC shortlist entirely."""
    emb = tables.spread(tables.table(spark, sf_dir, "embeddings"), "vec_id")
    queries = (
        tables.table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    )
    scored = (
        emb.select(F.col("vec_id").alias("n_id"), F.col("embedding").alias("n_vec"))
        .crossJoin(F.broadcast(queries))
        .filter(F.col("q_id") != F.col("n_id"))
        .select(
            "q_id",
            "n_id",
            F.expr(_exact_fp_sql("q_vec", "n_vec", "spark")).alias("exact_fp"),
        )
    )
    w = Window.partitionBy("q_id").orderBy("exact_fp", "n_id")
    exact = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "n_id")
    )
    approx = pq_ann_rerank_query(spark, sf_dir).select(
        "q_id", "n_id"
    ).withColumn("hit", F.lit(1))
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


# ---------------------------------------------------------------------------
# DuckDB oracles — same seeds, Lloyd round, packing, LUT, and ranks
# ---------------------------------------------------------------------------


def _duck_sub_list(vec: str, m: int) -> str:
    return (
        "["
        + ", ".join(f"{vec}[{m * PQ_SUB + k}]" for k in range(1, PQ_SUB + 1))
        + "]"
    )


_DUCK_SEEDS = f"""
seeds AS (
  SELECT cid, embedding FROM (
    SELECT vec_id, embedding,
           row_number() OVER (
             ORDER BY {hash60_duck('CAST(vec_id AS VARCHAR)', PQ_SEED)},
                      vec_id
           ) AS cid
    FROM embeddings
  ) WHERE cid <= {PQ_K}
)"""


def _duck_sub0() -> str:
    rows = " UNION ALL ".join(
        f"SELECT {m} AS m, cid, {_duck_sub_list('embedding', m)} AS s_vec"
        " FROM seeds"
        for m in range(PQ_M)
    )
    return f"sub0 AS ({rows})"


def _duck_encode(name: str, centroids: str) -> str:
    """(vec_id, m, cid) against a (m, cid, s_vec) centroid CTE."""
    return f"""
{name} AS (
  SELECT e.vec_id, c.m,
         CAST(min(CASE c.m
           {" ".join(f"WHEN {m} THEN {_packed_min('e.embedding', m, 'c.s_vec', 'duck')}" for m in range(PQ_M))}
         END) % {_PACK} AS INT) AS cid
  FROM embeddings e CROSS JOIN {centroids} c
  GROUP BY e.vec_id, c.m
)"""


def _duck_codebook() -> str:
    sums = ", ".join(
        f"sum(CAST(floor(CAST(e.embedding[a.m * {PQ_SUB} + {k}] AS DOUBLE)"
        f" * {_MEAN_SCALE}) AS BIGINT)) AS s{k}"
        for k in range(1, PQ_SUB + 1)
    )
    mean_list = ", ".join(
        f"CAST(s{k} AS DOUBLE) / CAST(n AS DOUBLE) / {float(_MEAN_SCALE)}"
        for k in range(1, PQ_SUB + 1)
    )
    return f"""
means AS (
  SELECT a.m, a.cid, count(*) AS n, {sums}
  FROM assign0 a JOIN embeddings e ON e.vec_id = a.vec_id
  GROUP BY a.m, a.cid
),
cb AS (
  SELECT s.m, s.cid,
         CASE WHEN mn.n IS NULL
              THEN list_transform(s.s_vec, x -> CAST(x AS DOUBLE))
              ELSE [{mean_list}] END AS s_vec
  FROM sub0 s LEFT JOIN means mn ON mn.m = s.m AND mn.cid = s.cid
)"""


_DUCK_TRAIN = (
    f"{_DUCK_SEEDS},\n{_duck_sub0()},\n{_duck_encode('assign0', 'sub0')},"
    f"\n{_duck_codebook()},\n{_duck_encode('codes', 'cb')}"
)


def _codes_word() -> str:
    cols = " || ',' || ".join(
        f"CAST(max(CASE WHEN m = {m} THEN cid END) AS VARCHAR)"
        for m in range(PQ_M)
    )
    return cols


PQ_CODES_ORACLE = f"""
WITH {_DUCK_TRAIN}
SELECT vec_id, {_codes_word()} AS codes
FROM codes
GROUP BY vec_id
"""


def _duck_lut() -> str:
    return f"""
lut AS (
  SELECT q.vec_id AS q_id, c.m, c.cid,
         CASE c.m
           {" ".join(f"WHEN {m} THEN {_d2fp_sub('q.embedding', m, 'c.s_vec', 'duck')}" for m in range(PQ_M))}
         END AS dfp
  FROM embeddings q CROSS JOIN cb c
  WHERE q.vec_id < {N_QUERIES}
)"""


_DUCK_ADC = f"""
{_duck_lut()},
adc AS (
  SELECT l.q_id, c.vec_id AS n_id, CAST(sum(l.dfp) AS BIGINT) AS adc_fp
  FROM codes c JOIN lut l ON l.m = c.m AND l.cid = c.cid
  GROUP BY l.q_id, c.vec_id
  HAVING l.q_id <> c.vec_id
)"""


PQ_ANN_ORACLE = f"""
WITH {_DUCK_TRAIN},
{_DUCK_ADC}
SELECT q_id, n_id, adc_fp, rank FROM (
  SELECT q_id, n_id, adc_fp,
         row_number() OVER (
           PARTITION BY q_id ORDER BY adc_fp, n_id
         ) AS rank
  FROM adc
)
WHERE rank <= {TOP_K}
"""


_DUCK_RERANK = f"""
shortlist AS (
  SELECT q_id, n_id FROM (
    SELECT q_id, n_id,
           row_number() OVER (PARTITION BY q_id ORDER BY adc_fp, n_id) AS rank
    FROM adc
  ) WHERE rank <= {PQ_RERANK}
),
rescored AS (
  SELECT s.q_id, s.n_id,
         {_exact_fp_sql('q.embedding', 'n.embedding', 'duck')} AS exact_fp
  FROM shortlist s
  JOIN embeddings n ON n.vec_id = s.n_id
  JOIN embeddings q ON q.vec_id = s.q_id
),
reranked AS (
  SELECT q_id, n_id, exact_fp, rank FROM (
    SELECT q_id, n_id, exact_fp,
           row_number() OVER (
             PARTITION BY q_id ORDER BY exact_fp, n_id
           ) AS rank
    FROM rescored
  ) WHERE rank <= {TOP_K}
)"""


PQ_ANN_RERANK_ORACLE = f"""
WITH {_DUCK_TRAIN},
{_DUCK_ADC},
{_DUCK_RERANK}
SELECT q_id, n_id, exact_fp, rank FROM reranked
"""


PQ_RECALL_ORACLE = f"""
WITH {_DUCK_TRAIN},
{_DUCK_ADC},
{_DUCK_RERANK},
approx AS (SELECT q_id, n_id FROM reranked),
exact AS (
  SELECT q_id, n_id FROM (
    SELECT q.vec_id AS q_id, n.vec_id AS n_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_exact_fp_sql('q.embedding', 'n.embedding', 'duck')},
                      n.vec_id
           ) AS rank
    FROM embeddings q CROSS JOIN embeddings n
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

"""Deterministic sampling & dataset splitting for training pipelines.

``df.sample()`` is seed-and-partitioning dependent — rerun the job
with different parallelism and the sample changes. Training-data
pipelines need *content-stable* sampling: whether a row is in the
sample depends only on the row's key. The standard trick is a hash
bucket: ``md5(key) mod 100`` gives a uniform, engine-independent
percentile; splits and samples are then WHERE clauses, fully
pushdown-friendly, reproducible across engines, clusters, and reruns,
and stable under data growth (a doc's split never changes when other
docs are added).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import tables
from ..registry import query

TRAIN_PCT = 80
VAL_PCT = 10  # test = remainder
SAMPLE_PCT = 10

_BUCKET_SPARK = (
    "cast(conv(substring(md5(cast(doc_id as string)), 1, 4), 16, 10) as bigint) % 100"
)
_BUCKET_DUCK = (
    "CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 100"
)


def with_bucket(docs: DataFrame) -> DataFrame:
    return docs.withColumn("bucket", F.expr(_BUCKET_SPARK))


@query()
def dataset_split_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every document to train/val/test by hash bucket
    (80/10/10). Pure per-row expression: no shuffle, no state, scans
    at parquet speed at any SF."""
    docs = tables.table(spark, sf_dir, "documents")
    b = F.col("bucket")
    split = (
        F.when(b < TRAIN_PCT, "train")
        .when(b < TRAIN_PCT + VAL_PCT, "val")
        .otherwise("test")
    )
    return with_bucket(docs).select(
        "doc_id", "source", "bucket", split.alias("split")
    )


DATASET_SPLIT_ORACLE = f"""
SELECT doc_id, source, bucket,
       CASE WHEN bucket < {TRAIN_PCT} THEN 'train'
            WHEN bucket < {TRAIN_PCT + VAL_PCT} THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id, source, {_BUCKET_DUCK} AS bucket FROM documents)
"""


@query()
def stratified_sample_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% sample per source stratum via the same hash bucket. The
    WHERE is a plain predicate, so at scale it rides the scan (no
    sample() RNG, no repartition); per-stratum counts verify the
    rate."""
    docs = tables.table(spark, sf_dir, "documents")
    sampled = with_bucket(docs).filter(F.col("bucket") < SAMPLE_PCT)
    return (
        sampled.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


STRATIFIED_SAMPLE_ORACLE = f"""
SELECT source, count(*) AS n_sampled,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM (SELECT doc_id, source, {_BUCKET_DUCK} AS bucket FROM documents)
WHERE bucket < {SAMPLE_PCT}
GROUP BY source
"""


# --------------------------------------------------------------------------
# Dataset-mixture weighted sampling (per-source rates)
# --------------------------------------------------------------------------

# Mixture spec: percentage of each source to keep (training-mix
# weights a la "The Pile" / Dolma recipes). Sources not listed get
# the default rate. ONE definition drives both engines.
MIXTURE_PCT: dict[str, int] = {
    "src0": 100,
    "src1": 80,
    "src2": 60,
    "src3": 40,
    "src4": 20,
}
MIXTURE_DEFAULT_PCT = 10


def _rate_spark() -> F.Column:
    col = F.lit(MIXTURE_DEFAULT_PCT)
    expr = None
    for src, pct in MIXTURE_PCT.items():
        cond = F.col("source") == src
        expr = F.when(cond, pct) if expr is None else expr.when(cond, pct)
    return expr.otherwise(col)


def _rate_duck() -> str:
    whens = " ".join(
        f"WHEN source = '{s}' THEN {p}" for s, p in MIXTURE_PCT.items()
    )
    return f"CASE {whens} ELSE {MIXTURE_DEFAULT_PCT} END"


@query()
def mixture_sample_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted mixture sampling: keep `rate%` of each source, chosen
    by the content-stable hash bucket.

    The keep decision is `bucket < rate(source)` — a pure per-row
    predicate with no shuffle and no RNG, so the same document is
    kept in every rerun at every parallelism, and raising a source's
    weight only ADDS documents (buckets are nested: the 20% sample is
    a subset of the 60% sample). That subset-stability is what makes
    mixture re-weighting between training runs reproducible.
    """
    docs = tables.table(spark, sf_dir, "documents")
    return (
        with_bucket(docs)
        .withColumn("rate_pct", _rate_spark())
        .filter(F.col("bucket") < F.col("rate_pct"))
        .select("doc_id", "source", "bucket", "rate_pct")
    )


MIXTURE_SAMPLE_ORACLE = f"""
SELECT doc_id, source, bucket, rate_pct
FROM (
  SELECT doc_id, source, {_BUCKET_DUCK} AS bucket,
         {_rate_duck()} AS rate_pct
  FROM documents
)
WHERE bucket < rate_pct
"""


# --------------------------------------------------------------------------
# Per-source document cap (top-N by quality proxy)
# --------------------------------------------------------------------------

SOURCE_CAP = 15


@query()
def source_cap_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep at most 15 documents per source, preferring the longest
    (n_chars as the quality proxy), doc_id as the deterministic
    tie-break.

    The rank-then-filter shape compiles to WindowGroupLimit (Spark
    3.5+): each map task pre-prunes to its local top-15 per source
    BEFORE the shuffle, so a hot source never materializes more than
    15 x n_partitions rows — the per-key analog of
    TakeOrderedAndProject, and the reason this survives skewed
    sources at 100 TB.
    """
    from pyspark.sql import Window

    docs = tables.table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        docs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= SOURCE_CAP)
        .select("doc_id", "source", "n_chars", "rank")
    )


SOURCE_CAP_ORACLE = f"""
SELECT doc_id, source, n_chars, rank
FROM (
  SELECT doc_id, source, n_chars,
         CAST(ROW_NUMBER() OVER (
             PARTITION BY source ORDER BY n_chars DESC, doc_id
         ) AS INTEGER) AS rank
  FROM documents
)
WHERE rank <= {SOURCE_CAP}
"""


@query()
def quality_tiers_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every document bucketed into length quartiles (tier 1 =
    shortest .. 4 = longest) — the scalable form of NTILE(4): a global
    ntile window would funnel the corpus through ONE task to assign
    ranks, while here pass 1 reduces to a single broadcast row of
    exact interpolated quartile cutoffs and pass 2 re-scans with a
    per-row comparison (pushdown-friendly, no global sort, no window).
    Ties sit deterministically in the lower tier (<=)."""
    docs = tables.table(spark, sf_dir, "documents")
    cuts = docs.agg(
        F.expr("percentile(n_chars, array(0.25, 0.5, 0.75))").alias("qs")
    ).select(
        F.col("qs").getItem(0).alias("q1"),
        F.col("qs").getItem(1).alias("q2"),
        F.col("qs").getItem(2).alias("q3"),
    )
    tier = (
        F.when(F.col("n_chars") <= F.col("q1"), 1)
        .when(F.col("n_chars") <= F.col("q2"), 2)
        .when(F.col("n_chars") <= F.col("q3"), 3)
        .otherwise(4)
    )
    return docs.crossJoin(F.broadcast(cuts)).select(
        "doc_id", "source", "n_chars", tier.alias("tier")
    )


QUALITY_TIERS_ORACLE = """
WITH cuts AS (
  SELECT quantile_cont(n_chars, 0.25) AS q1,
         quantile_cont(n_chars, 0.5)  AS q2,
         quantile_cont(n_chars, 0.75) AS q3
  FROM documents
)
SELECT doc_id, source, n_chars,
       CASE WHEN n_chars <= q1 THEN 1
            WHEN n_chars <= q2 THEN 2
            WHEN n_chars <= q3 THEN 3
            ELSE 4 END AS tier
FROM documents, cuts
"""


# --------------------------------------------------------------------------
# Token-budget selection (greedy quality-ranked cut)
# --------------------------------------------------------------------------

TOKEN_BUDGET = 10_000


@query()
def token_budget_selection_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(doc_id, rank, n_tokens, cum_tokens): the greedy quality cut —
    documents ranked by composite quality (ties on doc_id), admitted
    in rank order while the running token total stays within
    TOKEN_BUDGET. The standard "best N tokens" selection a
    budget-constrained training run makes after curation.

    The running sum needs a corpus total order, the same honest
    global-sort cost as equi_depth_histogram and pareto_orders (range-
    partitioned sort; the window itself is the bottleneck stage). At
    100 TB the two-pass form replaces it: histogram the quality score
    (one partial-aggregated pass), find the score cutoff whose
    cumulative tokens bracket the budget, then filter + exact-rank
    only the boundary bucket — this operator is the exact-audit /
    small-corpus form, and the ordering (quality desc, doc_id) is the
    same deterministic total order both forms share."""
    from .textops import quality_score_expr, tokens_expr

    docs = tables.spread(tables.table(spark, sf_dir, "documents"), "doc_id")
    feats = docs.select(
        "doc_id",
        F.size(tokens_expr()).alias("n_tokens"),
        quality_score_expr().alias("q"),
    )
    w = Window.orderBy(F.col("q").desc(), "doc_id")
    ranked = feats.select(
        "doc_id",
        "n_tokens",
        F.row_number().over(w).alias("rank"),
        F.sum("n_tokens")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("cum_tokens"),
    )
    return ranked.filter(F.col("cum_tokens") <= TOKEN_BUDGET).select(
        "doc_id", "rank", "n_tokens", "cum_tokens"
    )


TB_BUCKETS = 32  # score-histogram resolution for the two-pass form


# Two-pass scale form: SAME oracle as the exact form — the driver
# hash check doubles as the equivalence proof.
@query(oracle="TOKEN_BUDGET_SELECTION_ORACLE")
def token_budget_selection_2p_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-pass scale form of ``token_budget_selection`` — IDENTICAL
    output (the oracle is the exact form's SQL, so the driver hash
    check proves the equivalence), without the corpus-wide window the
    exact form ships with (round-3 verdict ask #2):

    Pass 1 (partial-aggregatable, no sort): bucket the quality score
    at percentile_approx boundaries and histogram token mass per
    bucket. The TB_BUCKETS-row histogram is cumulated best-first —
    a broadcast-sized window — to find which buckets can still reach
    the budget (cumulative tokens of all strictly-better buckets <
    TOKEN_BUDGET).

    Pass 2 (candidate-bounded): the exact rank/running-sum window
    runs ONLY over docs in reachable buckets. Equal scores share a
    bucket (bucket is a function of score), so the best-first total
    order (q desc, doc_id) never straddles the cut. The candidate
    set is budget-bounded — every fully-admitted bucket fits inside
    the budget and at most one boundary bucket is partial — so the
    window sorts O(budget/avg_tokens + one bucket) rows no matter
    how large the corpus is: output-sized work, not corpus-sized.
    Boundary quality only affects the candidate-set size, never the
    result."""
    from .textops import quality_score_expr, tokens_expr

    docs = tables.spread(tables.table(spark, sf_dir, "documents"), "doc_id")
    feats = docs.select(
        "doc_id",
        F.size(tokens_expr()).alias("n_tokens"),
        quality_score_expr().alias("q"),
    )
    probs = [i / TB_BUCKETS for i in range(1, TB_BUCKETS)]
    bounds = feats.agg(
        F.percentile_approx("q", probs, 10_000).alias("bs")
    )
    bucketed = feats.crossJoin(F.broadcast(bounds)).select(
        "doc_id",
        "n_tokens",
        "q",
        F.aggregate(
            "bs",
            F.lit(0),
            lambda acc, b: acc + F.when(F.col("q") > b, 1).otherwise(0),
        ).alias("bucket"),
    )
    hist = bucketed.groupBy("bucket").agg(
        F.sum("n_tokens").cast("bigint").alias("toks")
    )
    w_better = Window.orderBy(F.col("bucket").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    reachable = hist.select(
        "bucket",
        F.coalesce(F.sum("toks").over(w_better), F.lit(0)).alias(
            "toks_before"
        ),
    ).filter(F.col("toks_before") < TOKEN_BUDGET)
    cand = bucketed.join(
        F.broadcast(reachable.select("bucket")), "bucket", "left_semi"
    )
    w = Window.orderBy(F.col("q").desc(), "doc_id")
    ranked = cand.select(
        "doc_id",
        "n_tokens",
        F.row_number().over(w).alias("rank"),
        F.sum("n_tokens")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("cum_tokens"),
    )
    return ranked.filter(F.col("cum_tokens") <= TOKEN_BUDGET).select(
        "doc_id", "rank", "n_tokens", "cum_tokens"
    )


def _token_budget_oracle() -> str:
    from .textops import QUALITY_SCORE_ORACLE

    score = QUALITY_SCORE_ORACLE.strip().rstrip(";")
    return f"""
WITH scored AS ({score}),
ranked AS (
  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         row_number() OVER w AS rank,
         CAST(sum(n_tokens) OVER (
           ORDER BY quality_score DESC, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS cum_tokens
  FROM scored
  WINDOW w AS (ORDER BY quality_score DESC, doc_id)
)
SELECT doc_id, rank, n_tokens, cum_tokens
FROM ranked WHERE cum_tokens <= {TOKEN_BUDGET}
"""


TOKEN_BUDGET_SELECTION_ORACLE = _token_budget_oracle()


# --------------------------------------------------------------------------
# Largest-remainder budget allocation (exact proportional quotas)
# --------------------------------------------------------------------------

ALLOCATION_BUDGET = 1000  # units to split across sources


@query()
def budget_allocation_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, weight_chars, alloc): split a fixed sampling budget
    across sources proportionally to their character mass using the
    LARGEST-REMAINDER method (Hamilton apportionment) — the exact
    integer answer to "each source gets floor(B·w/W), who gets the
    leftover units?" that hash-stable mixture construction needs
    (naive rounding over- or under-shoots the budget; this method
    sums to B exactly, provably). Everything is integer arithmetic:
    quotas via div/mod, the leftover ranked by (remainder desc,
    source) over the |sources|-sized frame.

    Scale: one combinable rollup to |sources| rows, a one-row total
    broadcast, and a window over the source list — the corpus is
    touched once."""
    from pyspark.sql import Window as W

    docs = tables.table(spark, sf_dir, "documents")
    weights = docs.groupBy("source").agg(
        F.sum(F.col("n_chars").cast("bigint")).alias("w")
    )
    total = weights.agg(F.sum("w").cast("bigint").alias("tw"))
    # zero total mass: proportional allocation is undefined — emit no
    # rows instead of an ANSI division error
    quotas = weights.crossJoin(F.broadcast(total)).filter(
        F.col("tw") > 0
    ).select(
        "source",
        "w",
        F.expr(f"({ALLOCATION_BUDGET}L * w) div tw").alias("fl"),
        F.expr(f"({ALLOCATION_BUDGET}L * w) % tw").alias("rem"),
    )
    # leftover = B - sum(floors), distributed to the largest remainders
    leftover = quotas.agg(
        (F.lit(ALLOCATION_BUDGET) - F.sum("fl")).cast("bigint").alias("lo")
    )
    ranked = quotas.crossJoin(F.broadcast(leftover)).select(
        "source",
        "w",
        "fl",
        "lo",
        F.row_number()
        .over(W.orderBy(F.desc("rem"), F.asc("source")))
        .alias("rn"),
    )
    return ranked.select(
        "source",
        F.col("w").alias("weight_chars"),
        (F.col("fl") + (F.col("rn") <= F.col("lo")).cast("bigint"))
        .cast("bigint")
        .alias("alloc"),
    )


BUDGET_ALLOCATION_ORACLE = f"""
WITH weights AS (
  SELECT source, CAST(sum(n_chars) AS BIGINT) AS w
  FROM documents GROUP BY source
),
total AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM weights),
quotas AS (
  SELECT source, w,
         ({ALLOCATION_BUDGET} * w) // tw AS fl,
         ({ALLOCATION_BUDGET} * w) % tw AS rem
  FROM weights CROSS JOIN total
  WHERE tw > 0
),
leftover AS (
  SELECT CAST({ALLOCATION_BUDGET} - sum(fl) AS BIGINT) AS lo FROM quotas
),
ranked AS (
  SELECT source, w, fl, lo,
         row_number() OVER (ORDER BY rem DESC, source) AS rn
  FROM quotas CROSS JOIN leftover
)
SELECT source,
       w AS weight_chars,
       CAST(fl + (CASE WHEN rn <= lo THEN 1 ELSE 0 END) AS BIGINT) AS alloc
FROM ranked
"""


# --------------------------------------------------------------------------
# Split leakage audit (near-dup pairs crossing train/val/test)
# --------------------------------------------------------------------------


@query(family="dedup")
def split_leakage_audit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(split_a, split_b, n_pairs, max_jaccard): near-duplicate pairs
    (exact capped-shingle Jaccard >= JACCARD_THRESHOLD, the
    ngram_jaccard_pairs detector) bucketed by which dataset splits
    the two documents landed in. Any row with split_a != split_b is
    TRAIN/EVAL CONTAMINATION — the eval doc has a near-copy in
    training, so its score is memorization, not generalization. The
    audit every split pipeline must run BEFORE publishing: random
    (here: hash-bucket) splitting guarantees such leaks exist at the
    rate of near-dup incidence.

    Composes two already-certified operators (ngram_jaccard_pairs x
    dataset_split) into one plan: the pair table joins the per-row
    split expression twice (id-width), then rolls up to at most 6
    rows. The fix this audit motivates is cluster-aware splitting —
    assign SPLITS to dedup clusters, not documents (cluster ids from
    dedup_clusters/cluster_keep_list).

    Scale: the pair table is the detector's (banded/capped) output —
    id-pair-width; the split label is a per-row md5 expression (no
    join against a split table); the rollup is 6 groups."""
    from .dedup import ngram_jaccard_pairs_query

    pairs = ngram_jaccard_pairs_query(spark, sf_dir)
    b = F.col("bucket")
    split = (
        F.when(b < TRAIN_PCT, "train")
        .when(b < TRAIN_PCT + VAL_PCT, "val")
        .otherwise("test")
    )
    sides = with_bucket(
        tables.table(spark, sf_dir, "documents").select("doc_id")
    ).select("doc_id", split.alias("split"))
    sa = sides.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("sa")
    )
    sb = sides.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("sb")
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
            "jaccard",
        )
        .groupBy("split_a", "split_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.max("jaccard").alias("max_jaccard"),
        )
    )


def _split_leakage_oracle() -> str:
    from .dedup import JACCARD_THRESHOLD, SHINGLE_DF_CAP, _DUCK_SHINGLE_CTE

    return f"""
WITH {_DUCK_SHINGLE_CTE},
capped AS (
  SELECT s.doc_id, s.shingle
  FROM shingles s
  JOIN (SELECT shingle FROM shingles
        GROUP BY 1 HAVING count(*) <= {SHINGLE_DF_CAP}) keep
    ON s.shingle = keep.shingle
),
sizes AS (SELECT doc_id, count(*) AS n FROM capped GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM capped a
  JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b,
         CAST(i AS DOUBLE) / (na.n + nb.n - i) AS jaccard
  FROM inter
  JOIN sizes na ON na.doc_id = doc_a
  JOIN sizes nb ON nb.doc_id = doc_b
  WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= {JACCARD_THRESHOLD}
),
splits AS (
  SELECT doc_id,
         CASE WHEN bucket < {TRAIN_PCT} THEN 'train'
              WHEN bucket < {TRAIN_PCT + VAL_PCT} THEN 'val'
              ELSE 'test' END AS split
  FROM (SELECT doc_id, {_BUCKET_DUCK} AS bucket FROM documents)
)
SELECT least(sa.split, sb.split) AS split_a,
       greatest(sa.split, sb.split) AS split_b,
       CAST(count(*) AS BIGINT) AS n_pairs,
       max(jaccard) AS max_jaccard
FROM pairs
JOIN splits sa ON sa.doc_id = pairs.doc_a
JOIN splits sb ON sb.doc_id = pairs.doc_b
GROUP BY 1, 2
"""


SPLIT_LEAKAGE_AUDIT_ORACLE = _split_leakage_oracle()


# --------------------------------------------------------------------------
# Epoch interleave (deterministic content-stable training order)
# --------------------------------------------------------------------------

_EPOCH_SEED = 13


@query()
def epoch_interleave_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, shuffle_rank, global_pos): a deterministic
    training-epoch ordering — documents are shuffled WITHIN each
    source by md5 hash (content-stable: a doc's position never
    changes across reruns, clusters, or engines) and the sources are
    then interleaved round-robin, so a sequential reader sees the
    mixture ratio continuously instead of source-by-source blocks
    (the "shuffled + interleaved" layout training shards need; cf.
    the mixture_weights/mixture_sample operators that set the
    ratios). global_pos is the closed form
    (shuffle_rank - 1) * n_sources + source_rank — pure arithmetic,
    no global window, so the full ordering exists without any
    single-partition sort.

    Scale: one per-source window (partitioned, id-width) + a
    |sources|-row broadcast; the order is materialized as a COLUMN,
    so downstream writers can range-partition on global_pos to lay
    out shards without ever totally ordering the corpus."""
    from pyspark.sql import Window as W
    from ..functions.xhash import hash60_spark

    docs = tables.table(spark, sf_dir, "documents").select("doc_id", "source")
    ranks = (
        docs.select("source")
        .distinct()
        .select(
            "source",
            F.row_number()
            .over(W.orderBy("source"))
            .alias("source_rank"),
            F.count(F.lit(1)).over(W.partitionBy()).alias("n_sources"),
        )
    )
    h = F.expr(hash60_spark("cast(doc_id as string)", _EPOCH_SEED))
    shuffled = docs.select(
        "doc_id",
        "source",
        F.row_number()
        .over(W.partitionBy("source").orderBy(h.asc(), F.col("doc_id")))
        .alias("shuffle_rank"),
    )
    return shuffled.join(F.broadcast(ranks), "source").select(
        "doc_id",
        "source",
        F.col("shuffle_rank").cast("bigint").alias("shuffle_rank"),
        (
            (F.col("shuffle_rank") - 1) * F.col("n_sources")
            + F.col("source_rank")
        )
        .cast("bigint")
        .alias("global_pos"),
    )


def _epoch_interleave_oracle() -> str:
    from ..functions.xhash import hash60_duck

    return f"""
WITH ranks AS (
  SELECT source,
         row_number() OVER (ORDER BY source) AS source_rank,
         count(*) OVER () AS n_sources
  FROM (SELECT DISTINCT source FROM documents)
),
shuffled AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY {hash60_duck("CAST(doc_id AS VARCHAR)", _EPOCH_SEED)},
                    doc_id
         ) AS shuffle_rank
  FROM documents
)
SELECT s.doc_id, s.source,
       CAST(s.shuffle_rank AS BIGINT) AS shuffle_rank,
       CAST((s.shuffle_rank - 1) * r.n_sources + r.source_rank AS BIGINT)
         AS global_pos
FROM shuffled s JOIN ranks r ON r.source = s.source
"""


EPOCH_INTERLEAVE_ORACLE = _epoch_interleave_oracle()


# --------------------------------------------------------------------------
# Systematic weighted sampling (low-discrepancy, exact integer pointers)
# --------------------------------------------------------------------------

SYS_SAMPLE_K = 100  # evenly spaced pointers over the weight mass
_SYS_BUCKET = 500  # docs per cumsum bucket (pass-1 granularity)


@query()
def systematic_weighted_sample_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(doc_id, weight, multiplicity): weighted sampling by SYSTEMATIC
    (stochastic-universal / low-discrepancy) selection — lay
    SYS_SAMPLE_K evenly spaced pointers over the cumulative
    character-mass axis and select each document once per pointer
    landing in its interval. The workhorse of particle filters and
    GA selection, and the deterministic alternative to A-ES
    exponential-key sampling: no RNG and no transcendental keys, so
    selection is pure integer arithmetic — multiplicity_i =
    ceil(K*cum_i/W) - ceil(K*cum_(i-1)/W) — and the sample is
    hash-checked exactly, while guaranteeing every doc with weight
    >= W/K is selected (zero variance across the mass axis; rerun-
    and engine-stable).

    Scale (two-pass cumsum, the token_budget_2p pattern): pass 1
    rolls per-bucket weight sums (doc_id div bucket-size) into a
    |buckets|-row broadcast carry; pass 2 computes the within-bucket
    running sum with a bucket-partitioned window. No corpus-wide
    window anywhere; the multiplicity filter rides the same pass."""
    from pyspark.sql import Window as W

    docs = tables.table(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("bigint").alias("w")
    )
    bucketed = docs.withColumn(
        "bucket", F.expr(f"doc_id div {_SYS_BUCKET}")
    )
    carry = (
        bucketed.groupBy("bucket")
        .agg(F.sum("w").alias("bw"))
        .select(
            "bucket",
            (
                F.sum("bw")
                .over(
                    W.orderBy("bucket").rowsBetween(
                        W.unboundedPreceding, -1
                    )
                )
            ).alias("carry"),
        )
        .select(
            "bucket", F.coalesce("carry", F.lit(0)).cast("bigint").alias("carry")
        )
    )
    total = docs.agg(F.sum("w").cast("bigint").alias("tw")).filter(
        F.col("tw") > 0
    )
    win = (
        W.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = (
        bucketed.join(F.broadcast(carry), "bucket")
        .select(
            "doc_id",
            "w",
            (F.col("carry") + F.sum("w").over(win)).alias("cum"),
        )
        .crossJoin(F.broadcast(total))
    )
    k = SYS_SAMPLE_K
    mult = F.expr(
        f"(({k}L * cum + tw - 1) div tw)"
        f" - (({k}L * (cum - w) + tw - 1) div tw)"
    )
    return (
        cum.select(
            "doc_id",
            F.col("w").alias("weight"),
            mult.cast("bigint").alias("multiplicity"),
        )
        .filter(F.col("multiplicity") > 0)
    )


SYSTEMATIC_WEIGHTED_SAMPLE_ORACLE = f"""
WITH cum AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
         CAST(sum(n_chars) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum
  FROM documents
),
total AS (
  SELECT CAST(sum(n_chars) AS BIGINT) AS tw FROM documents
  HAVING sum(n_chars) > 0
)
SELECT doc_id, w AS weight,
       CAST((({SYS_SAMPLE_K} * cum + tw - 1) // tw)
            - (({SYS_SAMPLE_K} * (cum - w) + tw - 1) // tw)
         AS BIGINT) AS multiplicity
FROM cum CROSS JOIN total
WHERE (({SYS_SAMPLE_K} * cum + tw - 1) // tw)
      - (({SYS_SAMPLE_K} * (cum - w) + tw - 1) // tw) > 0
"""


# --------------------------------------------------------------------------
# Batch mixture audit over the interleaved epoch order
# --------------------------------------------------------------------------

BATCH_DOCS = 64  # training micro-batch size the audit simulates


@query(oracle="BATCH_MIX_ORACLE")
def batch_mix_audit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(batch, n_docs, n_sources, mix_entropy): cut the DETERMINISTIC
    epoch order (epoch_interleave's global_pos) into consecutive
    BATCH_DOCS-document training batches and report each batch's
    source-mixture entropy — the "is every batch a faithful sample of
    the blend?" audit a data-order pipeline runs before shipping
    shards (a low-entropy batch means the reader sees source-blocked
    data: correlated gradients, the failure interleaving exists to
    prevent). Round-robin interleaving should hold every full batch's
    entropy near the corpus blend's; ragged tail batches may dip.

    Determinism: entropy is the exact-integer form
    sum_s c_s * floor(1e6 * ln(n_b / c_s)) / (n_b * 1e6) on exact
    counts — nats, fixed-point, cross-engine bit-stable.

    Scale: global_pos is closed-form arithmetic (no global sort —
    epoch_interleave's contract), so the batch id is a map-side div;
    one (batch, source) rollup + a batch-keyed entropy fold. Batches
    = corpus/BATCH_DOCS rows, never wider."""
    order = epoch_interleave_query(spark, sf_dir).select(
        F.expr(f"(global_pos - 1) div {BATCH_DOCS}").alias("batch"),
        "source",
    )
    per = order.groupBy("batch", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    tot = per.groupBy(F.col("batch").alias("b2")).agg(
        F.sum("c").cast("bigint").alias("n_b"),
        F.count(F.lit(1)).cast("bigint").alias("n_sources"),
    )
    term = (
        F.col("c")
        * F.expr(
            "cast(floor(1e6 * ln(cast(n_b as double)"
            " / cast(c as double))) as bigint)"
        )
    ).alias("term")
    return (
        per.join(tot, F.col("batch") == F.col("b2"))
        .select("batch", "n_b", "n_sources", term)
        .groupBy("batch", "n_b", "n_sources")
        .agg(F.sum("term").cast("bigint").alias("ent_num"))
        .select(
            "batch",
            F.col("n_b").alias("n_docs"),
            "n_sources",
            (
                F.col("ent_num").cast("double")
                / (F.col("n_b") * F.lit(1000000)).cast("double")
            ).alias("mix_entropy"),
        )
    )


def _batch_mix_oracle() -> str:
    epoch = _epoch_interleave_oracle()
    return f"""
WITH epoch AS (
{epoch}
),
batched AS (
  SELECT (global_pos - 1) // {BATCH_DOCS} AS batch, source FROM epoch
),
per AS (
  SELECT batch, source, CAST(count(*) AS BIGINT) AS c
  FROM batched GROUP BY 1, 2
),
tot AS (
  SELECT batch, CAST(sum(c) AS BIGINT) AS n_b,
         CAST(count(*) AS BIGINT) AS n_sources
  FROM per GROUP BY 1
)
SELECT p.batch, t.n_b AS n_docs, t.n_sources,
       CAST(sum(p.c * CAST(floor(1e6 * ln(CAST(t.n_b AS DOUBLE)
            / CAST(p.c AS DOUBLE))) AS BIGINT)) AS DOUBLE)
         / (CAST(t.n_b AS DOUBLE) * 1000000.0) AS mix_entropy
FROM per p JOIN tot t ON t.batch = p.batch
GROUP BY p.batch, t.n_b, t.n_sources
"""


BATCH_MIX_ORACLE = _batch_mix_oracle()


# --------------------------------------------------------------------------
# Horvitz-Thompson estimation audit over the systematic sample
# --------------------------------------------------------------------------


@query()
def ht_estimate_audit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(k_points, n_sampled_docs, true_total_tokens, ht_estimate,
    rel_err): estimate the corpus TOKEN total from the systematic
    CHARACTER-weighted sample via the Horvitz-Thompson correction —
    the loop-closing audit of the sampling tier: a sample is only
    useful if statistics computed FROM it (with the right inverse-
    propensity weights) reproduce corpus truth, and this operator
    measures exactly that. Each selected doc contributes
    multiplicity * (tokens/chars) * W/K — the HT estimator for a
    size-biased systematic design — and rel_err puts the estimate
    against the exact scan total it would replace at 100 TB (where
    you keep the estimate and drop the scan).

    Determinism: the per-doc token/char ratio fixes to
    floor(1e6 * tokens/chars) (one correctly-rounded division, then
    an exact integer), so the weighted sum is exact-integer in
    DECIMAL(38,0); the estimate applies W/(K*1e6) once at the end.
    The small fixed-point bias is part of the (hash-checked)
    estimator definition.

    Scale: rides the systematic sample's two-pass cumsum (no global
    window); the estimation pass touches only selected docs and the
    exact total is one partial-aggregatable sum. Output is one row."""
    sample = systematic_weighted_sample_query(spark, sf_dir)
    docs = tables.table(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("chars"),
        F.size(F.expr(_SPARK_TOKS_SAMPLING)).cast("bigint").alias("toks"),
    )
    total = docs.agg(
        F.sum("toks").cast("bigint").alias("true_total_tokens"),
        F.sum("chars").cast("bigint").alias("tw"),
    )
    est = (
        sample.join(docs, "doc_id")
        .select(
            (
                F.col("multiplicity")
                * F.expr(
                    "cast(floor(1e6 * cast(toks as double)"
                    " / cast(chars as double)) as bigint)"
                )
            ).alias("term"),
            F.lit(1).alias("one"),
        )
        .agg(
            F.sum("term").cast("decimal(38,0)").alias("s"),
            F.count(F.lit(1)).cast("bigint").alias("n_sampled_docs"),
        )
    )
    return (
        est.crossJoin(F.broadcast(total))
        .select(
            F.lit(SYS_SAMPLE_K).cast("bigint").alias("k_points"),
            "n_sampled_docs",
            "true_total_tokens",
            F.expr(
                f"cast(s as double) * cast(tw as double)"
                f" / ({SYS_SAMPLE_K}.0d * 1000000.0d)"
            ).alias("ht_estimate"),
            F.expr(
                f"abs(cast(s as double) * cast(tw as double)"
                f" / ({SYS_SAMPLE_K}.0d * 1000000.0d)"
                f" - cast(true_total_tokens as double))"
                f" / cast(true_total_tokens as double)"
            ).alias("rel_err"),
        )
    )


_SPARK_TOKS_SAMPLING = (
    r"filter(split(lower(text), '\\W+'), x -> x != '')"
)


HT_ESTIMATE_AUDIT_ORACLE = f"""
WITH cum AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
         CAST(sum(n_chars) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum
  FROM documents
),
totalw AS (
  SELECT CAST(sum(n_chars) AS BIGINT) AS tw FROM documents
  HAVING sum(n_chars) > 0
),
sample AS (
  SELECT doc_id,
         CAST((({SYS_SAMPLE_K} * cum + tw - 1) // tw)
              - (({SYS_SAMPLE_K} * (cum - w) + tw - 1) // tw)
           AS BIGINT) AS multiplicity
  FROM cum CROSS JOIN totalw
  WHERE (({SYS_SAMPLE_K} * cum + tw - 1) // tw)
        - (({SYS_SAMPLE_K} * (cum - w) + tw - 1) // tw) > 0
),
stats AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS chars,
         CAST(len(list_filter(string_split_regex(lower(text), '\\W+'),
              x -> x <> '')) AS BIGINT) AS toks
  FROM documents
),
tot AS (
  SELECT CAST(sum(toks) AS BIGINT) AS true_total_tokens,
         CAST(sum(chars) AS BIGINT) AS tw
  FROM stats
),
est AS (
  SELECT CAST(sum(s.multiplicity * CAST(floor(1e6
           * CAST(st.toks AS DOUBLE) / CAST(st.chars AS DOUBLE))
           AS BIGINT)) AS DECIMAL(38,0)) AS s,
         CAST(count(*) AS BIGINT) AS n_sampled_docs
  FROM sample s JOIN stats st USING (doc_id)
)
SELECT CAST({SYS_SAMPLE_K} AS BIGINT) AS k_points,
       n_sampled_docs, true_total_tokens,
       CAST(s AS DOUBLE) * CAST(tw AS DOUBLE)
         / ({SYS_SAMPLE_K}.0 * 1000000.0) AS ht_estimate,
       abs(CAST(s AS DOUBLE) * CAST(tw AS DOUBLE)
           / ({SYS_SAMPLE_K}.0 * 1000000.0)
           - CAST(true_total_tokens AS DOUBLE))
         / CAST(true_total_tokens AS DOUBLE) AS rel_err
FROM est CROSS JOIN tot
"""


# --------------------------------------------------------------------------
# Priority sampling: deterministic uniform bottom-k without a global sort
# --------------------------------------------------------------------------

PRIORITY_K = 200  # sample size
_PRIORITY_SEED = "ps-v1|"


@query()
def priority_sample_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, priority): a uniform random sample of exactly
    PRIORITY_K documents drawn as the BOTTOM-K of a keyed md5
    priority — the distributed-sampling workhorse when you need (a)
    an exact sample size (Bernoulli rates only hit it in
    expectation), (b) reproducibility (same ids on every engine and
    every rerun — rand() gives neither), and (c) mergeability: the
    bottom-k of a union is the bottom-k of each part's bottom-k, so
    partial samples combine associatively (this is the KMV sketch's
    selection rule applied to sampling).

    Scale: Catalyst compiles orderBy+limit to TakeOrderedAndProject —
    each task keeps a K-row heap and the driver merges |tasks| heaps;
    the corpus is scanned once and NEVER globally sorted. At 100 TB
    with K=200 the shuffle is |tasks| * K rows of (id, 32-char hash).

    No reference analog (Kafka Streams has no sampling operator);
    the bottom-k rule mirrors the KMV estimator at
    operators/sketches.py."""
    docs = tables.table(spark, sf_dir, "documents")
    pr = F.expr(
        f"md5(concat('{_PRIORITY_SEED}', cast(doc_id as string)))"
    )
    return (
        docs.select("doc_id", "source", pr.alias("priority"))
        .orderBy("priority")
        .limit(PRIORITY_K)
    )


PRIORITY_SAMPLE_ORACLE = f"""
SELECT doc_id, source,
       md5('{_PRIORITY_SEED}' || CAST(doc_id AS VARCHAR)) AS priority
FROM documents
ORDER BY priority
LIMIT {PRIORITY_K}
"""


# --------------------------------------------------------------------------
# Neyman allocation: variance-optimal stratified sample design
# --------------------------------------------------------------------------

NEYMAN_TOTAL = 1000  # total sample units to allocate across strata


@query()
def neyman_allocation_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_h, sd_chars, alloc): the variance-OPTIMAL sample
    allocation across source strata for estimating mean document
    length — Neyman 1934: n_h proportional to N_h * sigma_h, so
    high-variance strata get more of the budget than proportional
    allocation would give them. This is the design step a sampling
    pipeline runs BEFORE stratified_sample: proportional allocation
    (budget_allocation) splits by mass; this splits by how much each
    stratum's variance hurts the estimator.

    Determinism: sigma_h = sqrt(n*s2 - s1^2)/n where s1/s2 are exact
    integer sums (sqrt is correctly rounded everywhere — safe in
    hashed output, unlike ln/pow); each stratum's N_h*sigma_h term is
    fixed-pointed (floor 1e6) to a BIGINT before the cross-stratum
    SUM so the total is exact integer arithmetic, never an
    order-dependent float sum; the final allocation is one integer
    division. Strata with zero variance get zero budget by the
    formula itself.

    Scale: one combinable rollup to |sources| rows + a one-row
    broadcast total — corpus touched once."""
    docs = tables.table(spark, sf_dir, "documents")
    st = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_h"),
        F.sum(F.col("n_chars").cast("bigint")).cast("bigint").alias("s1"),
        F.sum(F.col("n_chars").cast("bigint") * F.col("n_chars").cast("bigint"))
        .cast("bigint")
        .alias("s2"),
    )
    sd = F.sqrt(
        (F.col("n_h") * F.col("s2") - F.col("s1") * F.col("s1"))
        .cast("double")
    ) / F.col("n_h").cast("double")
    terms = st.select(
        "source",
        "n_h",
        sd.alias("sd_chars"),
        F.expr(
            "cast(floor(1000000.0d * cast(n_h as double) * "
            "(sqrt(cast(n_h * s2 - s1 * s1 as double)) "
            "/ cast(n_h as double))) as bigint)"
        ).alias("term_fp"),
    )
    total = terms.agg(F.sum("term_fp").cast("bigint").alias("tot_fp"))
    return (
        terms.crossJoin(F.broadcast(total))
        .filter(F.col("tot_fp") > 0)  # all-constant corpus: undefined
        .select(
            "source",
            "n_h",
            "sd_chars",
            F.expr(f"({NEYMAN_TOTAL}L * term_fp) div tot_fp").alias("alloc"),
        )
    )


NEYMAN_ALLOCATION_ORACLE = f"""
WITH st AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_h,
         CAST(sum(n_chars) AS BIGINT) AS s1,
         CAST(sum(n_chars * n_chars) AS BIGINT) AS s2
  FROM documents GROUP BY source
),
terms AS (
  SELECT source, n_h,
         sqrt(CAST(n_h * s2 - s1 * s1 AS DOUBLE)) / CAST(n_h AS DOUBLE)
           AS sd_chars,
         CAST(floor(1000000.0 * CAST(n_h AS DOUBLE)
              * (sqrt(CAST(n_h * s2 - s1 * s1 AS DOUBLE))
                 / CAST(n_h AS DOUBLE))) AS BIGINT) AS term_fp
  FROM st
),
tot AS (SELECT CAST(sum(term_fp) AS BIGINT) AS tot_fp FROM terms)
SELECT source, n_h, sd_chars,
       ({NEYMAN_TOTAL} * term_fp) // tot_fp AS alloc
FROM terms CROSS JOIN tot
WHERE tot_fp > 0
"""


# --------------------------------------------------------------------------
# Weighted priority sampling (Efraimidis-Spirakis exponential race)
# --------------------------------------------------------------------------

WPS_K = 200
_WPS_SEED = "wps-v1|"
# 2^32 and the fixed-point scale for the -ln(u) race key
_WPS_H_SPARK = (
    "cast(conv(substring(md5(concat('" + _WPS_SEED + "', "
    "cast(doc_id as string))), 1, 8), 16, 10) as bigint)"
)
_WPS_H_DUCK = (
    "CAST(list_sum([(strpos('0123456789abcdef', "
    "substring(md5('" + _WPS_SEED + "' || CAST(doc_id AS VARCHAR)), i, 1))"
    " - 1) * (CAST(1 AS BIGINT) << (4 * (8 - i)))"
    " for i in generate_series(1, 8)]) AS BIGINT)"
)


@query()
def weighted_priority_sample_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(doc_id, source, w, race): WEIGHTED sampling without
    replacement, exactly WPS_K docs, P(inclusion) proportional to
    n_chars — Efraimidis-Spirakis '06 via the exponential race:
    E_i = -ln(u_i)/w_i is Exponential(rate w_i), and the bottom-k of
    the E_i IS a weight-proportional sample without replacement. The
    char-mass-fair cousin of priority_sample (uniform) and
    systematic_weighted_sample (fixed-grid): the race form is the one
    that MERGES (bottom-k of unions = bottom-k of partial bottom-ks),
    so it partial-aggregates like a sketch.

    Determinism (the dp_laplace_counts recipe): u = (2h+1)/2^32 from
    a seeded md5 is exactly dyadic, ln evaluates on that exact
    argument, and -ln(u) is fixed-pointed to a BIGINT (1e12 scale,
    max ~2.3e13 << 2^53) BEFORE the race key divides by the integer
    weight — one correctly-rounded division of exact inputs, so the
    ordering is bit-identical on both engines (ties impossible short
    of md5 collisions; doc_id breaks them anyway).

    Scale: per-row codegen + TakeOrderedAndProject — same
    heap-and-merge shape as priority_sample; zero-weight docs are
    excluded (their E is +inf by definition)."""
    docs = tables.table(spark, sf_dir, "documents")
    h = _WPS_H_SPARK
    # u in (0,1): (2h+1)/2^33 would halve the range; use (2h+1)/2^33
    # only if h < 2^32 — h IS < 2^32 (8 hex digits), so (2h+1)/2^33
    # lies in (0, 1). -ln(u) > 0.
    neg_ln_fp = (
        f"cast(floor(1000000000000.0d * (-ln((2.0d * ({h}) + 1.0d)"
        f" / 8589934592.0d))) as bigint)"
    )
    race = (
        f"cast(({neg_ln_fp}) as double)"
        " / cast(n_chars as bigint)"
    )
    return (
        docs.filter(F.col("n_chars") > 0)
        .select(
            "doc_id",
            "source",
            F.col("n_chars").cast("bigint").alias("w"),
            F.expr(race).alias("race"),
        )
        .orderBy("race", "doc_id")
        .limit(WPS_K)
    )


WEIGHTED_PRIORITY_SAMPLE_ORACLE = f"""
SELECT doc_id, source, CAST(n_chars AS BIGINT) AS w,
       CAST(CAST(floor(1000000000000.0 * (-ln((2.0 * ({_WPS_H_DUCK}) + 1.0)
            / 8589934592.0))) AS BIGINT) AS DOUBLE)
         / CAST(n_chars AS BIGINT) AS race
FROM documents
WHERE n_chars > 0
ORDER BY race, doc_id
LIMIT {WPS_K}
"""


# --------------------------------------------------------------------------
# Group-aware K-fold assignment (no entity crosses a fold boundary)
# --------------------------------------------------------------------------

KFOLD_K = 5
_KFOLD_MULT = 2654435761  # Knuth multiplicative-hash constant
_KFOLD_MOD = 4294967296
# Pre-reduction modulus: user_id folds mod 2^31 BEFORE the multiply so
# the product tops out at (2^31-1) * 2654435761 ~ 5.7e18 < 2^63 for ANY
# id domain — without it, ids >= ~3.5e9 overflow BIGINT, where Spark
# (non-ANSI) wraps silently while DuckDB raises, breaking both the
# cross-engine contract and split reproducibility. Value-identical to
# the unreduced form for ids < 2^31 (every current fixture).
_KFOLD_PREMOD = 2147483648


@query()
def group_kfold_split_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(fold, n_users, n_events, n_purchases, purchase_rate): the
    group-aware K-fold assignment over events — every USER (the
    group) lands in exactly one fold via a multiplicative hash of
    user_id, so no user's events ever straddle a train/validation
    boundary (the leakage ``dataset_split``'s doc-level split cannot
    rule out for entity-keyed data), plus the balance audit a split
    must pass before use: fold sizes and per-fold conversion rates
    should be statistically indistinguishable.

    Fold = (((user_id mod 2^31) * 2654435761) mod 2^32) mod K — pure
    BIGINT arithmetic identical on both engines (no engine hash
    functions; the mod-2^31 pre-reduction keeps the product under
    2^63 for any id domain, see ``_KFOLD_PREMOD``), stable under
    reshuffles and across runs, which is what makes the split
    REPRODUCIBLE: re-running on a grown corpus keeps every existing
    user in their fold. Scale: one partial-aggregatable rollup keyed
    by (fold) after a per-row fold expression; the per-user
    distinctness rides a count_distinct partial."""
    ev = tables.table(spark, sf_dir, "events")
    folded = ev.select(
        (
            (F.col("user_id") % _KFOLD_PREMOD * _KFOLD_MULT)
            % _KFOLD_MOD
            % KFOLD_K
        ).cast("int").alias("fold"),
        "user_id",
        (F.col("event_type") == "purchase").cast("int").alias("is_p"),
    )
    return (
        folded.groupBy("fold")
        .agg(
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("is_p").cast("bigint").alias("n_purchases"),
        )
        .select(
            "fold",
            "n_users",
            "n_events",
            "n_purchases",
            (
                F.col("n_purchases").cast("double")
                / F.col("n_events").cast("double")
            ).alias("purchase_rate"),
        )
    )


GROUP_KFOLD_SPLIT_ORACLE = f"""
SELECT CAST((((user_id % {_KFOLD_PREMOD}) * {_KFOLD_MULT})
             % {_KFOLD_MOD}) % {KFOLD_K} AS INT)
         AS fold,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         AS BIGINT) AS n_purchases,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         AS DOUBLE) / CAST(count(*) AS DOUBLE) AS purchase_rate
FROM events
GROUP BY 1
"""


# --------------------------------------------------------------------------
# Max-min fair budget allocation (water-filling, exact integers)
# --------------------------------------------------------------------------

WATERFILL_BUDGET_CHARS = 100_000


@query()
def waterfill_allocation_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, demand_chars, allocated_chars, saturated): the
    max-min fair split of a WATERFILL_BUDGET_CHARS character budget
    across sources — every source gets min(demand, water level t)
    where t makes the total spend exactly the budget; small sources
    are fully satisfied (saturated), the rest share what remains
    equally. The progressive-filling allocator (Bertsekas & Gallager)
    a mixture designer uses when ``budget_allocation``'s proportional
    split would starve small-but-required sources.

    Exact closed form, no iteration: sort sources by demand
    ascending (ties on name); source i is saturated iff
    d_i * (n - i + 1) <= B - prefix_{i-1} — an integer
    CROSS-MULTIPLIED test (no division), monotone in i, so the
    saturated set is a prefix of the sort order. The unsaturated
    share is then one integer div with the remainder given to the
    lexicographically-first remainder-many unsaturated sources, so
    allocations are integers summing EXACTLY to min(B, total demand).

    Scale: one per-source rollup, then a |sources|-row frame with two
    bounded windows. The demand rollup is the only corpus-sized
    stage."""
    docs = tables.table(spark, sf_dir, "documents")
    dem = docs.groupBy("source").agg(
        F.sum("n_chars").cast("bigint").alias("demand")
    )
    w = Window.orderBy("demand", "source")
    wcum = w.rowsBetween(Window.unboundedPreceding, -1)
    wn = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    B = WATERFILL_BUDGET_CHARS
    flagged = dem.select(
        "source",
        "demand",
        F.row_number().over(w).cast("bigint").alias("i"),
        F.coalesce(F.sum("demand").over(wcum), F.lit(0))
        .cast("bigint")
        .alias("prefix"),
        F.count(F.lit(1)).over(wn).cast("bigint").alias("n"),
    ).withColumn(
        "saturated",
        F.col("demand") * (F.col("n") - F.col("i") + 1)
        <= F.lit(B) - F.col("prefix"),
    )
    sums = flagged.agg(
        F.sum(F.when(F.col("saturated"), F.col("demand")).otherwise(0))
        .cast("bigint")
        .alias("s_sat"),
        F.sum((~F.col("saturated")).cast("int")).cast("bigint").alias("m"),
    )
    wu = Window.orderBy("source")
    unsat_ranked = flagged.filter(~F.col("saturated")).withColumn(
        "u_rank", F.row_number().over(wu).cast("bigint")
    )
    out_sat = flagged.filter(F.col("saturated")).select(
        "source",
        F.col("demand").alias("demand_chars"),
        F.col("demand").alias("allocated_chars"),
        F.lit(True).alias("saturated"),
    )
    out_unsat = unsat_ranked.crossJoin(F.broadcast(sums)).select(
        "source",
        F.col("demand").alias("demand_chars"),
        (
            F.expr(f"({B}L - s_sat) div m")
            + (
                F.col("u_rank") <= F.expr(f"({B}L - s_sat) % m")
            ).cast("bigint")
        ).cast("bigint").alias("allocated_chars"),
        F.lit(False).alias("saturated"),
    )
    return out_sat.unionAll(out_unsat)


WATERFILL_ALLOCATION_ORACLE = f"""
WITH dem AS (
  SELECT source, CAST(sum(n_chars) AS BIGINT) AS demand
  FROM documents GROUP BY 1
),
flagged AS (
  SELECT source, demand,
         CAST(row_number() OVER (ORDER BY demand, source) AS BIGINT) AS i,
         CAST(COALESCE(sum(demand) OVER (
           ORDER BY demand, source
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS prefix,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM dem
),
sat AS (
  SELECT *,
         demand * (n - i + 1) <= {WATERFILL_BUDGET_CHARS} - prefix
           AS saturated
  FROM flagged
),
sums AS (
  SELECT CAST(COALESCE(sum(CASE WHEN saturated THEN demand END), 0)
           AS BIGINT) AS s_sat,
         CAST(sum(CASE WHEN saturated THEN 0 ELSE 1 END) AS BIGINT) AS m
  FROM sat
)
SELECT source, demand AS demand_chars, demand AS allocated_chars,
       TRUE AS saturated
FROM sat WHERE saturated
UNION ALL
SELECT s.source, s.demand AS demand_chars,
       CAST(({WATERFILL_BUDGET_CHARS} - u.s_sat) // u.m
            + CASE WHEN row_number() OVER (ORDER BY s.source)
                        <= ({WATERFILL_BUDGET_CHARS} - u.s_sat) % u.m
                   THEN 1 ELSE 0 END AS BIGINT) AS allocated_chars,
       FALSE AS saturated
FROM sat s, sums u
WHERE NOT s.saturated
"""

# --------------------------------------------------------------------------
# Temperature-scaled mixture weights (alpha = 0.5 via exact sqrt)
# --------------------------------------------------------------------------


@query()
def sqrt_temperature_mix_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(source, chars, p_raw, w_temp, boost): temperature-scaled
    mixture weights over sources — w_i proportional to p_i^alpha with
    alpha = 0.5, the standard LM-pretraining reweighting that
    up-samples small sources without letting any source's raw mass
    dominate (multilingual/multi-corpus mixing uses exactly this
    family; alpha = 0.5 is chosen because p^0.5 = sqrt(p) is the one
    non-trivial temperature expressible with a CORRECTLY-ROUNDED IEEE
    primitive — general pow is engine-divergent and banned from
    hashed outputs here). ``boost = w/p`` reads directly as "source
    is up-/down-sampled by this factor".

    Exactness: char masses are exact BIGINTs; each sqrt is one IEEE
    op on an exact ratio; the normalizer folds a SOURCE-SORTED list
    (the eb_rate_shrinkage pattern) rather than an unordered float
    SUM.

    Scale: ONE partial-aggregatable rollup to |sources| rows (pinned —
    it feeds both the normalizer fold and the output, and without the
    pin the corpus scan runs twice); the fold is catalog-sized; the
    weight join broadcasts one scalar."""
    from ..pinning import pin as _pin

    docs = tables.table(spark, sf_dir, "documents")
    mass = _pin(
        docs.groupBy("source").agg(
            F.sum("n_chars").cast("bigint").alias("chars")
        )
    )
    tot = mass.agg(
        F.sum("chars").cast("bigint").alias("total"),
        F.expr(
            "aggregate(transform(array_sort(collect_list("
            "struct(source, chars))), x -> sqrt(cast(x.chars as double))), "
            "cast(0.0 as double), (a, x) -> a + x)"
        ).alias("z_sqrt"),
    )
    return mass.crossJoin(F.broadcast(tot)).select(
        "source",
        "chars",
        (F.col("chars").cast("double") / F.col("total").cast("double"))
        .alias("p_raw"),
        F.when(
            F.col("z_sqrt") > 0,
            F.sqrt(F.col("chars").cast("double")) / F.col("z_sqrt"),
        ).alias("w_temp"),
        F.when(
            (F.col("z_sqrt") > 0) & (F.col("chars") > 0),
            (F.sqrt(F.col("chars").cast("double")) / F.col("z_sqrt"))
            / (
                F.col("chars").cast("double")
                / F.col("total").cast("double")
            ),
        ).alias("boost"),
    )


SQRT_TEMPERATURE_MIX_ORACLE = """
WITH mass AS (
  SELECT source, CAST(sum(n_chars) AS BIGINT) AS chars
  FROM documents GROUP BY 1
),
tot AS (
  SELECT CAST(sum(chars) AS BIGINT) AS total,
         list_reduce(list_transform(list(chars ORDER BY source),
             x -> sqrt(CAST(x AS DOUBLE))), (a, x) -> a + x) AS z_sqrt
  FROM mass
)
SELECT m.source, m.chars,
       CAST(m.chars AS DOUBLE) / CAST(t.total AS DOUBLE) AS p_raw,
       CASE WHEN t.z_sqrt > 0 THEN
         sqrt(CAST(m.chars AS DOUBLE)) / t.z_sqrt
       END AS w_temp,
       CASE WHEN t.z_sqrt > 0 AND m.chars > 0 THEN
         (sqrt(CAST(m.chars AS DOUBLE)) / t.z_sqrt)
           / (CAST(m.chars AS DOUBLE) / CAST(t.total AS DOUBLE))
       END AS boost
FROM mass m, tot t
"""

# --------------------------------------------------------------------------
# Sample-ratio-mismatch check on the train/val/test split
# --------------------------------------------------------------------------


@query()
def split_srm_check_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_rows, n_train, n_val, n_test, chi2, srm_flag): the
    sample-ratio-mismatch test on ``dataset_split``'s hash-bucket
    assignment — observed split sizes against the designed 80/10/10,
    chi-squared with 2 df, flagged at the 95% bar (5.991). SRM is the
    first gate every experimentation platform runs before reading ANY
    downstream metric: a split whose sizes are off means the
    assignment mechanism is broken (hash bias, filtered pipeline leg)
    and everything computed on it is invalid.

    Exactness: counts are exact; each chi2 term is the
    cross-multiplied form (100*O - pct*N)^2 / (100*pct*N) computed in
    DOUBLE per cell, summed over exactly 3 terms in a FIXED literal
    order (train + val + test — written out, not aggregated, so no
    ordering question exists). The 5.991 bar is a baked literal.

    Scale: rides the dataset_split scan (pure per-row expression);
    one 3-way conditional count rollup."""
    splits = dataset_split_query(spark, sf_dir)
    agg = splits.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum((F.col("split") == "train").cast("int"))
        .cast("bigint")
        .alias("n_train"),
        F.sum((F.col("split") == "val").cast("int"))
        .cast("bigint")
        .alias("n_val"),
        F.sum((F.col("split") == "test").cast("int"))
        .cast("bigint")
        .alias("n_test"),
    ).filter(F.col("n_rows") > 0)

    def term(obs: str, pct: int) -> F.Column:
        d = (
            F.lit(100.0) * F.col(obs).cast("double")
            - F.lit(float(pct)) * F.col("n_rows").cast("double")
        )
        return d * d / (
            F.lit(100.0)
            * F.lit(float(pct))
            * F.col("n_rows").cast("double")
        )

    chi2 = (
        term("n_train", TRAIN_PCT)
        + term("n_val", VAL_PCT)
        + term("n_test", 100 - TRAIN_PCT - VAL_PCT)
    )
    return agg.select(
        "n_rows",
        "n_train",
        "n_val",
        "n_test",
        chi2.alias("chi2"),
        (chi2 > 5.991).alias("srm_flag"),
    )


SPLIT_SRM_CHECK_ORACLE = f"""
WITH splits AS (
  SELECT CASE WHEN bucket < {TRAIN_PCT} THEN 'train'
              WHEN bucket < {TRAIN_PCT + VAL_PCT} THEN 'val'
              ELSE 'test' END AS split
  FROM (SELECT {_BUCKET_DUCK} AS bucket FROM documents)
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_train,
         CAST(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_val,
         CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_test
  FROM splits
  HAVING count(*) > 0
)
SELECT n_rows, n_train, n_val, n_test,
       (100.0 * CAST(n_train AS DOUBLE) - {TRAIN_PCT}.0
          * CAST(n_rows AS DOUBLE))
         * (100.0 * CAST(n_train AS DOUBLE) - {TRAIN_PCT}.0
            * CAST(n_rows AS DOUBLE))
         / (100.0 * {TRAIN_PCT}.0 * CAST(n_rows AS DOUBLE))
       + (100.0 * CAST(n_val AS DOUBLE) - {VAL_PCT}.0
            * CAST(n_rows AS DOUBLE))
         * (100.0 * CAST(n_val AS DOUBLE) - {VAL_PCT}.0
            * CAST(n_rows AS DOUBLE))
         / (100.0 * {VAL_PCT}.0 * CAST(n_rows AS DOUBLE))
       + (100.0 * CAST(n_test AS DOUBLE) - {100 - TRAIN_PCT - VAL_PCT}.0
            * CAST(n_rows AS DOUBLE))
         * (100.0 * CAST(n_test AS DOUBLE) - {100 - TRAIN_PCT - VAL_PCT}.0
            * CAST(n_rows AS DOUBLE))
         / (100.0 * {100 - TRAIN_PCT - VAL_PCT}.0 * CAST(n_rows AS DOUBLE))
         AS chi2,
       (100.0 * CAST(n_train AS DOUBLE) - {TRAIN_PCT}.0
          * CAST(n_rows AS DOUBLE))
         * (100.0 * CAST(n_train AS DOUBLE) - {TRAIN_PCT}.0
            * CAST(n_rows AS DOUBLE))
         / (100.0 * {TRAIN_PCT}.0 * CAST(n_rows AS DOUBLE))
       + (100.0 * CAST(n_val AS DOUBLE) - {VAL_PCT}.0
            * CAST(n_rows AS DOUBLE))
         * (100.0 * CAST(n_val AS DOUBLE) - {VAL_PCT}.0
            * CAST(n_rows AS DOUBLE))
         / (100.0 * {VAL_PCT}.0 * CAST(n_rows AS DOUBLE))
       + (100.0 * CAST(n_test AS DOUBLE) - {100 - TRAIN_PCT - VAL_PCT}.0
            * CAST(n_rows AS DOUBLE))
         * (100.0 * CAST(n_test AS DOUBLE) - {100 - TRAIN_PCT - VAL_PCT}.0
            * CAST(n_rows AS DOUBLE))
         / (100.0 * {100 - TRAIN_PCT - VAL_PCT}.0 * CAST(n_rows AS DOUBLE))
         > 5.991 AS srm_flag
FROM agg
"""

# --------------------------------------------------------------------------
# Hash-bucket uniformity test (100-cell chi-squared on the split hash)
# --------------------------------------------------------------------------

_UNIF_CHI2_BAR = 123.225  # chi2 0.95 quantile at df = 99, baked literal


@query()
def hash_bucket_uniformity_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(n_rows, n_buckets_hit, chi2, uniform_flag): the 100-cell
    chi-squared uniformity test on the md5 split bucket every
    sampling/split operator in this repo keys on — the fine-grained
    upgrade over ``split_srm_check``'s 3-cell test: a biased PRINT of
    the hash (truncation artifacts, id-structure leakage) shows up
    here long before it moves 80/10/10. Empty buckets count (O = 0
    cells contribute E), so the statistic is honest about gaps.

    Exactness: per-bucket counts are exact; each chi2 term is the
    cross-multiplied (100*O - N)^2 / (100*N) in DOUBLE per cell,
    summed by an ordered fold over the bucket-sorted 100-cell list.
    The 123.225 bar (df = 99, 95%) is a baked literal.

    Scale: one per-bucket rollup off the pure per-row hash
    expression; the 100-cell spine is a broadcast literal."""
    docs = tables.table(spark, sf_dir, "documents")
    counts = with_bucket(docs).groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("o")
    )
    spine = spark.range(0, 100).select(
        F.col("id").cast("bigint").alias("bucket")
    )
    grid = spine.join(counts, "bucket", "left").select(
        "bucket", F.coalesce("o", F.lit(0)).cast("bigint").alias("o")
    )
    agg = grid.agg(
        F.sum("o").cast("bigint").alias("n_rows"),
        F.sum((F.col("o") > 0).cast("int")).cast("bigint")
        .alias("n_buckets_hit"),
        F.expr(
            "transform(array_sort(collect_list(struct(bucket, o))), "
            "x -> x.o)"
        ).alias("olist"),
    ).filter(F.col("n_rows") > 0)
    return agg.select(
        "n_rows",
        "n_buckets_hit",
        F.expr(
            "aggregate(olist, cast(0.0 as double), (a, o) -> a + "
            "(100.0 * cast(o as double) - cast(n_rows as double)) "
            "* (100.0 * cast(o as double) - cast(n_rows as double)) "
            "/ (100.0 * cast(n_rows as double)))"
        ).alias("chi2"),
    ).select(
        "n_rows",
        "n_buckets_hit",
        "chi2",
        (F.col("chi2") <= F.lit(_UNIF_CHI2_BAR)).alias("uniform_flag"),
    )


HASH_BUCKET_UNIFORMITY_ORACLE = f"""
WITH counts AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS o
  FROM (SELECT {_BUCKET_DUCK} AS bucket FROM documents)
  GROUP BY 1
),
grid AS (
  SELECT s.bucket, CAST(COALESCE(c.o, 0) AS BIGINT) AS o
  FROM (SELECT unnest(generate_series(0, 99)) AS bucket) s
  LEFT JOIN counts c ON c.bucket = s.bucket
),
agg AS (
  SELECT CAST(sum(o) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN o > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_buckets_hit,
         list(o ORDER BY bucket) AS olist
  FROM grid
  HAVING sum(o) > 0
)
SELECT n_rows, n_buckets_hit,
       list_reduce(list_transform(olist, o ->
           (100.0 * CAST(o AS DOUBLE) - CAST(n_rows AS DOUBLE))
           * (100.0 * CAST(o AS DOUBLE) - CAST(n_rows AS DOUBLE))
           / (100.0 * CAST(n_rows AS DOUBLE))), (a, b) -> a + b) AS chi2,
       list_reduce(list_transform(olist, o ->
           (100.0 * CAST(o AS DOUBLE) - CAST(n_rows AS DOUBLE))
           * (100.0 * CAST(o AS DOUBLE) - CAST(n_rows AS DOUBLE))
           / (100.0 * CAST(n_rows AS DOUBLE))), (a, b) -> a + b)
         <= {_UNIF_CHI2_BAR} AS uniform_flag
FROM agg
"""

# --------------------------------------------------------------------------
# Hoeffding sample-size planner per source
# --------------------------------------------------------------------------

# ln(2 / delta) at delta = 0.05, baked as a Python-computed literal so
# both engines consume the identical double (no engine ln call)
_HOEFF_C = 3.6888794541139363
_HOEFF_TARGET_EPS = 0.01


@query()
def sample_size_epsilon_plan_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(source, n_docs, eps95, n_needed_1pct, additional_needed): the
    Hoeffding sample-size planner per source — with n docs, any
    [0,1]-bounded per-doc metric's mean is known to within eps95 =
    sqrt(ln(2/0.05) / (2n)) at 95% confidence, distribution-free.
    The planner column inverts it: how many docs a source needs
    before its quality-rate estimates are trustworthy to +/-1%, and
    how many more it must ingest. This is the sample-size footing
    under every per-source gate in this repo (Wilson/EB tell you the
    uncertainty you HAVE; Hoeffding tells you the n you NEED).

    Exactness: counts are exact; the only transcendental is the
    BAKED Python literal ln(2/0.05) (no engine ln), so eps is one
    IEEE sqrt/divide chain; the needed-n is exact integer ceiling
    arithmetic on that literal.

    Scale: one |sources| rollup off the scan."""
    docs = tables.table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    n_needed = int(
        -(-_HOEFF_C // (2 * _HOEFF_TARGET_EPS * _HOEFF_TARGET_EPS))
    )
    return per.select(
        "source",
        "n_docs",
        F.sqrt(
            F.lit(_HOEFF_C) / (2.0 * F.col("n_docs").cast("double"))
        ).alias("eps95"),
        F.lit(n_needed).cast("bigint").alias("n_needed_1pct"),
        F.greatest(
            F.lit(0).cast("bigint"),
            (F.lit(n_needed) - F.col("n_docs")).cast("bigint"),
        ).alias("additional_needed"),
    )


SAMPLE_SIZE_EPSILON_PLAN_ORACLE = f"""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       sqrt({_HOEFF_C!r} / (2.0 * CAST(count(*) AS DOUBLE))) AS eps95,
       CAST({int(-(-_HOEFF_C // (2 * _HOEFF_TARGET_EPS * _HOEFF_TARGET_EPS)))}
         AS BIGINT) AS n_needed_1pct,
       CAST(greatest(0,
         {int(-(-_HOEFF_C // (2 * _HOEFF_TARGET_EPS * _HOEFF_TARGET_EPS)))}
           - count(*)) AS BIGINT) AS additional_needed
FROM documents GROUP BY 1
"""

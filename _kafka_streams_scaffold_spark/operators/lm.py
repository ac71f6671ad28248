"""Corpus language-model scoring for training-data curation.

The standard web-corpus pipeline scores every document against a cheap
language model trained on the corpus itself (CCNet/KenLM-style): a
document whose tokens are "surprising" under the corpus distribution
is likelier to be noise; a *source* whose token distribution diverges
from the corpus signals domain shift worth inspecting before mixing.
These are the model-free tiers of that ladder:

- ``unigram_lm_score`` — per-document average surprisal (nats/token)
  under the corpus unigram LM.
- ``source_kl_divergence`` — KL(p_source || p_corpus) per source, the
  domain-shift audit.
- ``quality_weighted_sample`` — content-stable sampling whose keep
  probability scales with document length (the deterministic analog of
  quality-weighted reservoir sampling).

Cross-engine determinism: all counting is exact BIGINT; the single
transcendental per distinct input (``ln``) is fixed-pointed to
``floor(1e6 * ln(x))`` so per-row values are integers and the
aggregation is an exact integer sum — float addition ORDER never
matters, so results are identical across engines, partitionings and
reruns. The only float ops left are the correctly-rounded divisions
that build ln's argument and the one final division, both with a fixed
operand order. (Same contract as ``textops.bm25_search``, which
already hash-matches DuckDB on ``ln`` values; a 1-ulp ln discrepancy
could only matter if ``1e6*ln(x)`` sat within ~1e-9 of an integer.)

Extends the reference surface (the Kafka Streams scaffold has no text
analytics; nearest analog is the wordcount topology's token split,
``streams/WordCountTopology.java:31``, which ``textops.tokens_expr``
reuses verbatim).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import tables
from ..pinning import pin as _pin
from ..registry import query
from .textops import tokens_expr

_D38 = "decimal(38,0)"

# floor(1e6 * ln(a/b)) with exact-count inputs; the double division is
# correctly rounded and the operand order is fixed, so both engines
# evaluate ln on bit-identical arguments.
_LN_FP_SPARK = "cast(floor(1e6 * ln(cast({a} as double) / cast({b} as double))) as bigint)"
_LN_FP_DUCK = "CAST(floor(1e6 * ln(CAST({a} AS DOUBLE) / CAST({b} AS DOUBLE))) AS BIGINT)"

_DUCK_TOKS = (
    "SELECT doc_id, source, unnest(list_filter("
    "string_split_regex(lower(text), '\\W+'), x -> x <> '')) AS tok "
    "FROM documents"
)


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables.spread(tables.table(spark, sf_dir, "documents"), "doc_id")
    return docs.select(
        "doc_id", "source", F.explode(tokens_expr()).alias("tok")
    )


# --------------------------------------------------------------------------
# Per-document unigram-LM surprisal
# --------------------------------------------------------------------------

@query(oracle="UNIGRAM_LM_ORACLE")
def unigram_lm_score_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, avg_surprisal) — mean nats/token under the
    corpus unigram LM (no smoothing needed: every scored token is in
    the vocabulary by construction).

    Shape: ONE tokenize pass builds the vocabulary (groupBy tok — the
    shuffle payload is the vocabulary, not the corpus), the corpus
    total joins on as a broadcast one-row aggregate, and the per-token
    surprisal table (vocab-sized) broadcasts back onto the exploded
    token stream — map-side, no shuffle of token occurrences except
    the final per-doc sum, which partial-aggregates to ~1 row per doc
    before the exchange. At 100 TB the vocab of a \\W+ tokenizer is
    ~1e7 rows (Heaps' law) — still broadcastable; past that, the same
    plan with a sort-merge join on ``tok`` shuffles only
    (token, BIGINT) pairs.
    """
    tok = _pin(_doc_tokens(spark, sf_dir).select("doc_id", "tok"))
    vocab = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = vocab.agg(F.sum("c").alias("t"))
    surprisal = (
        vocab.crossJoin(F.broadcast(total))
        .select("tok", F.expr(_LN_FP_SPARK.format(a="t", b="c")).alias("s_fp"))
    )
    return (
        tok.join(F.broadcast(surprisal), "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("s_fp").alias("sum_fp"),
        )
        .select(
            "doc_id",
            "n_tokens",
            (
                F.col("sum_fp").cast("double")
                / (F.col("n_tokens") * F.lit(1000000)).cast("double")
            ).alias("avg_surprisal"),
        )
    )


UNIGRAM_LM_ORACLE = f"""
WITH toks AS ({_DUCK_TOKS}),
total AS (SELECT count(*) AS t FROM toks),
surprisal AS (
  SELECT tok, {_LN_FP_DUCK.format(a="t", b="count(*)")} AS s_fp
  FROM toks, total GROUP BY tok, t
)
SELECT doc_id, count(*) AS n_tokens,
       CAST(sum(s_fp) AS DOUBLE) / CAST(count(*) * 1000000 AS DOUBLE)
         AS avg_surprisal
FROM toks JOIN surprisal USING (tok)
GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# Per-source KL divergence vs the corpus distribution
# --------------------------------------------------------------------------

@query(oracle="SOURCE_KL_ORACLE")
def source_kl_divergence_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_tokens, kl_nats) — KL(p_source || p_corpus) =
    sum_t p_s(t) * ln(p_s(t)/p(t)), the domain-shift audit run before
    mixing sources into a training blend.

    Shape: one tokenize pass -> (source, tok) counts (the pinned ``st``
    frame — vocab x sources rows); corpus counts, per-source totals and
    the grand total are all re-aggregations of ``st``, so the corpus is
    scanned ONCE. Per-(source,tok) KL terms are exact-BIGINT products
    of counts with the fixed-pointed ln ratio; the per-source sum
    accumulates DECIMAL(38,0) (terms reach c_st * 2e7 — a BIGINT sum
    would overflow near ~1e11 tokens/source, mid-run at 100 TB).
    """
    st = _pin(
        _doc_tokens(spark, sf_dir)
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c_st"))
    )
    corpus = st.groupBy("tok").agg(F.sum("c_st").alias("c_t"))
    per_src = st.groupBy("source").agg(F.sum("c_st").alias("t_s"))
    total = corpus.agg(F.sum("c_t").alias("t"))
    ln_arg_a = "(cast(c_st as double) * cast(t as double))"
    ln_arg_b = "(cast(c_t as double) * cast(t_s as double))"
    term = (
        st.join(F.broadcast(corpus), "tok")
        .join(F.broadcast(per_src), "source")
        .crossJoin(F.broadcast(total))
        .select(
            "source",
            "t_s",
            (
                F.col("c_st")
                * F.expr(
                    f"cast(floor(1e6 * ln({ln_arg_a} / {ln_arg_b})) as bigint)"
                )
            ).cast(_D38).alias("term_fp"),
        )
    )
    return (
        term.groupBy("source", "t_s")
        .agg(F.sum("term_fp").alias("sum_fp"))
        .select(
            "source",
            F.col("t_s").alias("n_tokens"),
            (
                F.col("sum_fp").cast("double")
                / (F.col("t_s") * F.lit(1000000)).cast("double")
            ).alias("kl_nats"),
        )
    )


SOURCE_KL_ORACLE = f"""
WITH toks AS ({_DUCK_TOKS}),
st AS (SELECT source, tok, count(*) AS c_st FROM toks GROUP BY source, tok),
corpus AS (SELECT tok, sum(c_st) AS c_t FROM st GROUP BY tok),
per_src AS (SELECT source, sum(c_st) AS t_s FROM st GROUP BY source),
total AS (SELECT sum(c_t) AS t FROM corpus),
term AS (
  SELECT st.source, t_s,
         CAST(c_st AS DECIMAL(38,0)) * CAST(floor(1e6 * ln(
           (CAST(c_st AS DOUBLE) * CAST(t AS DOUBLE))
           / (CAST(c_t AS DOUBLE) * CAST(t_s AS DOUBLE)))) AS BIGINT)
           AS term_fp
  FROM st JOIN corpus USING (tok) JOIN per_src ON st.source = per_src.source,
       total
)
SELECT source, CAST(t_s AS BIGINT) AS n_tokens,
       CAST(sum(term_fp) AS DOUBLE) / CAST(t_s * 1000000 AS DOUBLE) AS kl_nats
FROM term GROUP BY source, t_s
"""


# --------------------------------------------------------------------------
# Quality-weighted content-stable sampling
# --------------------------------------------------------------------------

MIN_KEEP_PCT = 20
MAX_KEEP_PCT = 90
CHARS_PER_PCT = 8  # +1 keep-% per 8 chars above the floor


@query()
def quality_weighted_sample_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents kept with probability proportional to length: keep-%
    = clamp(20 + n_chars/8, 20..90), decided by the same content-stable
    md5 bucket as ``sampling.dataset_split`` — a doc's fate depends
    only on its id and length, never on partitioning, seed, or what
    else is in the corpus. Pure per-row integer arithmetic: no shuffle,
    predicate pushes to the scan, reproducible at any scale.
    """
    from .sampling import with_bucket

    docs = tables.table(spark, sf_dir, "documents")
    weight = F.least(
        F.lit(MAX_KEEP_PCT),
        F.lit(MIN_KEEP_PCT) + (F.col("n_chars") / F.lit(CHARS_PER_PCT)).cast("bigint"),
    )
    return (
        with_bucket(docs)
        .withColumn("keep_pct", weight)
        .filter(F.col("bucket") < F.col("keep_pct"))
        .select("doc_id", "source", "n_chars", "bucket", "keep_pct")
    )


_BUCKET_DUCK = (
    "CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 100"
)

QUALITY_WEIGHTED_SAMPLE_ORACLE = f"""
SELECT doc_id, source, n_chars, bucket, keep_pct
FROM (
  SELECT doc_id, source, n_chars, {_BUCKET_DUCK} AS bucket,
         least({MAX_KEEP_PCT},
               {MIN_KEEP_PCT} + CAST(n_chars // {CHARS_PER_PCT} AS BIGINT))
           AS keep_pct
  FROM documents
)
WHERE bucket < keep_pct
"""


# --------------------------------------------------------------------------
# Temperature-scaled mixture weights (per-source sampling budget)
# --------------------------------------------------------------------------

MIX_ALPHA_DENOM = 2  # alpha = 1/2: sqrt-temperature scaling


@query()
def mixture_weights_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_tokens, weight): per-source sampling weights
    proportional to n_tokens^(1/2) — the temperature-scaled mixture
    rule (alpha < 1 upweights small sources so a 100x bigger crawl
    doesn't drown curated corpora; alpha=1 is proportional, alpha=0
    uniform).

    Cross-engine contract: sqrt is IEEE-correctly-rounded (unlike ln,
    exact by spec), each source's sqrt is fixed-pointed to BIGINT, the
    normalizing sum is an exact integer reduction, and the final
    weight is one correctly-rounded division — order-independent and
    bit-identical. Shape: one tokenize pass -> per-source counts
    (sources are a tiny keyspace), one broadcast one-row total."""
    t_s = (
        _doc_tokens(spark, sf_dir)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_tokens"))
    )
    sq = t_s.withColumn(
        "w_fp",
        F.expr(
            "cast(floor(1e6 * sqrt(cast(n_tokens as double))) as bigint)"
        ),
    )
    tot = sq.agg(F.sum("w_fp").alias("tot_fp"))
    return sq.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        (F.col("w_fp").cast("double") / F.col("tot_fp").cast("double")).alias(
            "weight"
        ),
    )


MIXTURE_WEIGHTS_ORACLE = f"""
WITH toks AS ({_DUCK_TOKS}),
t_s AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_tokens
  FROM toks GROUP BY source
),
sq AS (
  SELECT source, n_tokens,
         CAST(floor(1e6 * sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS w_fp
  FROM t_s
),
tot AS (SELECT CAST(sum(w_fp) AS BIGINT) AS tot_fp FROM sq)
SELECT source, n_tokens,
       CAST(w_fp AS DOUBLE) / CAST(tot_fp AS DOUBLE) AS weight
FROM sq, tot
"""


# --------------------------------------------------------------------------
# Bigram next-token model (conditional counts, exact)
# --------------------------------------------------------------------------

BIGRAM_MIN_COUNT = 5  # a context must be seen this often to predict


@query()
def bigram_next_token_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(token, next_token, pair_n, token_n): the argmax next token for
    every context token seen >= BIGRAM_MIN_COUNT times — the simplest
    conditional LM, and the count table every smoothed n-gram model
    starts from. The conditional probability ships as the exact
    integer pair (pair_n, token_n) rather than a float ratio, and the
    argmax ties break on the token string, so the result is
    cross-engine bit-stable end to end.

    Scale: adjacent-pair generation is map-local (zip_with over each
    doc's token array — no shuffle, no index join); the count rollup
    shuffles (token, next) pairs and partially aggregates; the argmax
    window partitions by context token, so frames are
    per-context-sized, never global."""
    from pyspark.sql import Window as W

    docs = tables.table(spark, sf_dir, "documents")
    toks = docs.select(tokens_expr().alias("t")).filter(F.size("t") >= 2)
    pairs = toks.select(
        F.explode(
            F.expr(
                "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),"
                " (x, y) -> struct(x AS tok, y AS nxt))"
            )
        ).alias("p")
    ).select("p.tok", "p.nxt")
    counts = pairs.groupBy("tok", "nxt").agg(
        F.count(F.lit(1)).cast("bigint").alias("pair_n")
    )
    totals = counts.groupBy("tok").agg(
        F.sum("pair_n").cast("bigint").alias("token_n")
    )
    w = W.partitionBy("tok").orderBy(F.desc("pair_n"), F.asc("nxt"))
    best = (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return (
        best.join(totals, "tok")
        .filter(F.col("token_n") >= BIGRAM_MIN_COUNT)
        .select(
            F.col("tok").alias("token"),
            F.col("nxt").alias("next_token"),
            "pair_n",
            "token_n",
        )
    )


BIGRAM_NEXT_TOKEN_ORACLE = f"""
WITH toklists AS (
  SELECT list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '')
           AS t
  FROM documents
),
pairs AS (
  SELECT p[1] AS tok, p[2] AS nxt FROM (
    SELECT unnest(list_zip(t[1:len(t) - 1], t[2:len(t)])) AS p
    FROM toklists WHERE len(t) >= 2
  )
),
counts AS (
  SELECT tok, nxt, CAST(count(*) AS BIGINT) AS pair_n
  FROM pairs GROUP BY tok, nxt
),
totals AS (
  SELECT tok, CAST(sum(pair_n) AS BIGINT) AS token_n
  FROM counts GROUP BY tok
),
best AS (
  SELECT tok, nxt, pair_n FROM (
    SELECT tok, nxt, pair_n,
           row_number() OVER (PARTITION BY tok
                              ORDER BY pair_n DESC, nxt) AS rn
    FROM counts
  ) WHERE rn = 1
)
SELECT b.tok AS token, b.nxt AS next_token, b.pair_n, t.token_n
FROM best b JOIN totals t ON b.tok = t.tok
WHERE t.token_n >= {BIGRAM_MIN_COUNT}
"""


# --------------------------------------------------------------------------
# Per-document bigram-LM surprisal (first-order upgrade of the unigram)
# --------------------------------------------------------------------------


@query(oracle="BIGRAM_LM_ORACLE")
def bigram_lm_score_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_bigrams, avg_surprisal): mean nats/token under the
    corpus BIGRAM LM — p(w2|w1) = c(w1 w2)/c(w1 ·), the first-order
    upgrade of unigram_lm_score that actually scores word ORDER: a
    doc of common words in an uncommon arrangement (shuffled text,
    the classic synthetic-spam signature) scores near the unigram LM
    but far under this one, so the unigram/bigram surprisal GAP is
    the repo's word-salad detector. No smoothing needed for the same
    reason as the unigram: the model is trained on the corpus it
    scores, so every scored bigram has count >= 1. Same fixed-point
    contract: surprisal per bigram is floor(1e6*ln(ctx/c2)) on exact
    integer counts, summed as integers.

    Shape: bigram extraction is map-local off each doc's token array
    (no index join); the model is one (w1,w2)-keyed rollup with its
    (w1)-context marginal derived FROM it (model-sized, never
    re-scanning the corpus); scoring joins the model back on the
    bigram stream. The model is bigram-vocabulary-sized — broadcast
    here; past broadcast reach the same plan sort-merge-joins on
    (w1,w2), shuffling only key+BIGINT rows."""
    docs = tables.spread(tables.table(spark, sf_dir, "documents"), "doc_id")
    pairs = _pin(
        docs.select("doc_id", tokens_expr().alias("toks"))
        .filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "zip_with(slice(toks, 1, size(toks) - 1),"
                    " slice(toks, 2, size(toks) - 1),"
                    " (x, y) -> struct(x as a, y as b))"
                )
            ).alias("g"),
        )
        .select("doc_id", "g.a", "g.b")
    )
    c2 = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c2"))
    ctx = c2.groupBy("a").agg(F.sum("c2").alias("c1"))
    model = c2.join(ctx, "a").select(
        "a", "b", F.expr(_LN_FP_SPARK.format(a="c1", b="c2")).alias("s_fp")
    )
    return (
        pairs.join(F.broadcast(model), ["a", "b"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum("s_fp").alias("sum_fp"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            (
                F.col("sum_fp").cast("double")
                / (F.col("n_bigrams") * F.lit(1000000)).cast("double")
            ).alias("avg_surprisal"),
        )
    )


BIGRAM_LM_ORACLE = f"""
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '')
           AS toks
  FROM documents
),
pairs AS (
  SELECT doc_id, g.a AS a, g.b AS b FROM (
    SELECT doc_id, unnest([{{'a': toks[i], 'b': toks[i + 1]}}
                           for i in generate_series(1, len(toks) - 1)]) AS g
    FROM tok WHERE len(toks) >= 2
  )
),
c2 AS (SELECT a, b, count(*) AS c2 FROM pairs GROUP BY 1, 2),
ctx AS (SELECT a, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
model AS (
  SELECT c2.a, c2.b, {_LN_FP_DUCK.format(a="c1", b="c2")} AS s_fp
  FROM c2 JOIN ctx ON ctx.a = c2.a
)
SELECT p.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(m.s_fp) AS DOUBLE)
         / CAST(count(*) * 1000000 AS DOUBLE) AS avg_surprisal
FROM pairs p
JOIN model m ON m.a = p.a AND m.b = p.b
GROUP BY p.doc_id
"""


# --------------------------------------------------------------------------
# Kneser-Ney smoothed bigram model (the production n-gram smoother)
# --------------------------------------------------------------------------

# Absolute discount d = 3/4, kept as an integer ratio so the smoothed
# probability is a single division of two exact BIGINTs:
#
#   p_kn(b|a) = (c(a,b) - d)/c(a.)  +  (d * N1+(a,.)/c(a.)) * Pcont(b)
#   Pcont(b)  = N1+(.,b) / T            (T = total bigram types)
#
# over common denominator KN_D_DEN * c(a.) * T:
#
#   p_kn = ((KN_D_DEN*c(a,b) - KN_D_NUM) * T
#           + KN_D_NUM * N1+(a,.) * N1+(.,b))  /  (KN_D_DEN * c(a.) * T)
#
# Every bigram scored is observed (c >= 1), so the max(c - d, 0) clamp
# of the textbook form never binds (4c - 3 >= 1).
KN_D_NUM, KN_D_DEN = 3, 4


@query()
def kneser_ney_bigram_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(token, next_token, pair_n, ctx_n, n1_ctx, n1_next, p_kn): the
    Kneser-Ney smoothed conditional bigram model over the corpus —
    THE production n-gram smoother (interpolated absolute discounting
    with continuation-count backoff), and the classic demonstration
    of why raw MLE bigrams misrank: "francisco" has high raw count
    but appears after almost nothing except "san", so its
    continuation probability N1+(.,b)/T is tiny and KN correctly
    refuses to predict it in fresh contexts. Contexts are kept at
    ctx_n >= BIGRAM_MIN_COUNT (same dial as bigram_next_token) so the
    emitted model is the servable table, not the long tail.

    Exactness: the discount is the integer ratio 3/4, so p_kn reduces
    to one division of two exact BIGINT products (numerator/common
    denominator above) — bit-stable cross-engine with no fixed-point
    scaffolding. At larger corpora the products approach BIGINT range
    (c*T ~ 1e18 at ~1e9 bigram types); the documented widening path
    is DECIMAL(38,0) for the two products, unchanged semantics.

    Shape: pair extraction is map-local per doc; the model is one
    (a,b) rollup; BOTH marginals (context totals + continuation
    counts) and the type count T derive from that model table —
    model-sized aggregations, the corpus is touched exactly once. T
    joins in as a broadcast one-row aggregate."""
    docs = tables.spread(tables.table(spark, sf_dir, "documents"), "doc_id")
    pairs = (
        docs.select(tokens_expr().alias("toks"))
        .filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "zip_with(slice(toks, 1, size(toks) - 1),"
                    " slice(toks, 2, size(toks) - 1),"
                    " (x, y) -> struct(x AS a, y AS b))"
                )
            ).alias("g")
        )
        .select("g.a", "g.b")
    )
    c2 = pairs.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("pair_n")
    )
    ctx = c2.groupBy("a").agg(
        F.sum("pair_n").cast("bigint").alias("ctx_n"),
        F.count(F.lit(1)).cast("bigint").alias("n1_ctx"),
    )
    cont = c2.groupBy("b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n1_next")
    )
    types = c2.agg(F.count(F.lit(1)).cast("bigint").alias("t_types"))
    num = (
        (F.lit(KN_D_DEN) * F.col("pair_n") - F.lit(KN_D_NUM))
        * F.col("t_types")
        + F.lit(KN_D_NUM) * F.col("n1_ctx") * F.col("n1_next")
    )
    den = F.lit(KN_D_DEN) * F.col("ctx_n") * F.col("t_types")
    return (
        c2.join(ctx, "a")
        .join(F.broadcast(cont), "b")
        .crossJoin(F.broadcast(types))
        .filter(F.col("ctx_n") >= BIGRAM_MIN_COUNT)
        .select(
            F.col("a").alias("token"),
            F.col("b").alias("next_token"),
            "pair_n",
            "ctx_n",
            "n1_ctx",
            "n1_next",
            (num.cast("double") / den.cast("double")).alias("p_kn"),
        )
    )


KNESER_NEY_BIGRAM_ORACLE = f"""
WITH toklists AS (
  SELECT list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '')
           AS t
  FROM documents
),
pairs AS (
  SELECT p[1] AS a, p[2] AS b FROM (
    SELECT unnest(list_zip(t[1:len(t) - 1], t[2:len(t)])) AS p
    FROM toklists WHERE len(t) >= 2
  )
),
c2 AS (
  SELECT a, b, CAST(count(*) AS BIGINT) AS pair_n
  FROM pairs GROUP BY a, b
),
ctx AS (
  SELECT a, CAST(sum(pair_n) AS BIGINT) AS ctx_n,
         CAST(count(*) AS BIGINT) AS n1_ctx
  FROM c2 GROUP BY a
),
cont AS (
  SELECT b, CAST(count(*) AS BIGINT) AS n1_next FROM c2 GROUP BY b
),
types AS (SELECT CAST(count(*) AS BIGINT) AS t_types FROM c2)
SELECT c2.a AS token, c2.b AS next_token,
       c2.pair_n, ctx.ctx_n, ctx.n1_ctx, cont.n1_next,
       CAST(({KN_D_DEN} * c2.pair_n - {KN_D_NUM}) * t.t_types
            + {KN_D_NUM} * ctx.n1_ctx * cont.n1_next AS DOUBLE)
         / CAST({KN_D_DEN} * ctx.ctx_n * t.t_types AS DOUBLE) AS p_kn
FROM c2
JOIN ctx ON ctx.a = c2.a
JOIN cont ON cont.b = c2.b
CROSS JOIN types t
WHERE ctx.ctx_n >= {BIGRAM_MIN_COUNT}
"""


# --------------------------------------------------------------------------
# DSIR: hashed-n-gram importance weights for data selection
# --------------------------------------------------------------------------

DSIR_BUCKETS = 4096

# floor(1e6 * ln((ct+1)*(R+B) / ((cr+1)*(T+B)))): the add-1-smoothed
# log importance ratio per hash bucket, fixed-pointed on exact-integer
# inputs. Both double products are correctly-rounded IEEE with a fixed
# operand order, so ln sees bit-identical arguments on both engines.
_LR_FP_SPARK = (
    "cast(floor(1e6 * ln((cast(ct + 1 as double) * cast(rt as double))"
    " / (cast(cr + 1 as double) * cast(tt as double)))) as bigint)"
)
_LR_FP_DUCK = (
    "CAST(floor(1e6 * ln((CAST(ct + 1 AS DOUBLE) * CAST(rt AS DOUBLE))"
    " / (CAST(cr + 1 AS DOUBLE) * CAST(tt AS DOUBLE)))) AS BIGINT)"
)


@query()
def dsir_importance_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_feats, dsir_sum, dsir_avg): per-document DSIR
    importance weight (Xie et al. 2023, "Data Selection for Language
    Models via Importance Resampling") — the standard cheap stand-in
    for "does this raw document look like my curated target domain?".
    Every document's hashed BIGRAM features are scored by
    ln(p_target / p_raw) under two add-1-smoothed multinomials over
    DSIR_BUCKETS hash buckets: target = the ``lang = 'en'`` slice
    (the curated-domain stand-in in this corpus), raw = the whole
    corpus. ``dsir_sum`` is the document's log importance weight
    (what importance resampling exponentiates); ``dsir_avg`` is the
    length-normalized per-feature score used for rank-and-take-top-k
    selection. Docs with < 2 tokens have no features and are
    (identically on both engines) absent.

    Cross-engine determinism: bucket counts are exact BIGINTs; the
    per-bucket log ratio is fixed-pointed (see _LR_FP_*) so per-doc
    aggregation is an exact integer sum — float order never matters.

    Scale: feature hashing collapses the unbounded bigram vocabulary
    to a CONSTANT DSIR_BUCKETS-row model — the whole point of DSIR at
    100 TB: the two distributions partial-aggregate per partition
    into <= B rows each, the scoring model broadcasts back onto the
    feature stream (map-side), and the only corpus-sized shuffle is
    the final per-doc sum, which partial-aggregates to ~1 row/doc
    before the exchange. No vocabulary explosion, no skew (md5 is
    uniform over buckets), and the model size is a dial, not a
    function of the data."""
    docs = tables.spread(tables.table(spark, sf_dir, "documents"), "doc_id")
    feats = _pin(
        docs.select(
            "doc_id",
            (F.col("lang") == "en").cast("int").alias("is_t"),
            tokens_expr().alias("toks"),
        )
        .filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            "is_t",
            F.explode(
                F.expr(
                    "zip_with(slice(toks, 1, size(toks) - 1),"
                    " slice(toks, 2, size(toks) - 1),"
                    " (x, y) -> cast(conv(substring(md5(concat('dsir|',"
                    " x, ' ', y)),"
                    f" 1, 8), 16, 10) as bigint) % {DSIR_BUCKETS})"
                )
            ).alias("bucket"),
        )
    )
    counts = feats.groupBy("bucket").agg(
        F.sum("is_t").cast("bigint").alias("ct"),
        F.count(F.lit(1)).cast("bigint").alias("cr"),
    )
    totals = counts.agg(
        (F.sum("ct") + F.lit(DSIR_BUCKETS)).cast("bigint").alias("tt"),
        (F.sum("cr") + F.lit(DSIR_BUCKETS)).cast("bigint").alias("rt"),
    )
    model = counts.crossJoin(F.broadcast(totals)).select(
        "bucket", F.expr(_LR_FP_SPARK).alias("lr_fp")
    )
    return (
        feats.join(F.broadcast(model), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_feats"),
            F.sum("lr_fp").alias("sum_fp"),
        )
        .select(
            "doc_id",
            "n_feats",
            (F.col("sum_fp").cast("double") / F.lit(1000000.0)).alias(
                "dsir_sum"
            ),
            (
                F.col("sum_fp").cast("double")
                / (F.col("n_feats") * F.lit(1000000)).cast("double")
            ).alias("dsir_avg"),
        )
    )


DSIR_IMPORTANCE_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, CAST(lang = 'en' AS INT) AS is_t,
         list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '')
           AS toks
  FROM documents
),
feats AS (
  SELECT doc_id, is_t,
         CAST('0x' || substring(md5('dsir|' || p[1] || ' ' || p[2]), 1, 8)
              AS BIGINT) % {DSIR_BUCKETS} AS bucket
  FROM (
    SELECT doc_id, is_t,
           unnest(list_zip(toks[1:len(toks) - 1], toks[2:len(toks)])) AS p
    FROM tok WHERE len(toks) >= 2
  )
),
counts AS (
  SELECT bucket, CAST(sum(is_t) AS BIGINT) AS ct,
         CAST(count(*) AS BIGINT) AS cr
  FROM feats GROUP BY bucket
),
totals AS (
  SELECT CAST(sum(ct) + {DSIR_BUCKETS} AS BIGINT) AS tt,
         CAST(sum(cr) + {DSIR_BUCKETS} AS BIGINT) AS rt
  FROM counts
),
model AS (
  SELECT bucket, {_LR_FP_DUCK} AS lr_fp FROM counts CROSS JOIN totals
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
       CAST(sum(lr_fp) AS DOUBLE) / 1000000.0 AS dsir_sum,
       CAST(sum(lr_fp) AS DOUBLE)
         / CAST(count(*) * 1000000 AS DOUBLE) AS dsir_avg
FROM feats JOIN model USING (bucket)
GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# Leave-one-source-out ablation (complement-sum data valuation)
# --------------------------------------------------------------------------


@query()
def source_ablation_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_docs, token_share, kl_drop_vs_full, mean_chars_delta):
    for every source, what REMOVING it does to the corpus — the
    cheapest member of the data-valuation family (leave-one-out
    without re-scanning per source): every leave-one-out statistic is
    a COMPLEMENT of the full-corpus sums (total minus the source's own
    partial sums), so one (source, token) rollup prices all |sources|
    ablations at once.

    - ``kl_drop_vs_full`` = KL(p_without_s || p_full) over the token
      distribution: how far the corpus mixture shifts if s is cut.
      High = the source carries distribution mass nothing else covers.
    - ``mean_chars_delta`` = mean doc length of the REMAINDER minus
      the full-corpus mean: the quality-proxy shift of the cut.
    - ``token_share`` = the source's fraction of corpus tokens (its
      removal cost in raw data terms).

    Determinism: per-token KL terms are (c_w - c_sw) * floor(1e6 *
    ln(((c_w - c_sw) * T) / (c_w * (T - T_s)))) — exact integer
    weights times fixed-point logs, summed as exact integers; the two
    divisions per source happen once on the aggregated sums. Tokens
    exclusive to s contribute 0 (p_without = 0, the 0*ln0 limit, a
    CASE on both engines); tokens s LACKS all share the constant
    factor ln(T/(T-T_s)), so their whole contribution is the exact
    closed form (T - cov_s) * floor(1e6*ln(T/(T-T_s))) — no per-token
    pass over the complement vocabulary is ever needed.

    Scale: ONE (source, token) rollup (the only corpus-sized shuffle,
    partial-aggregated); per-token corpus counts derive from it;
    per-source totals broadcast back; the KL reduction partial-
    aggregates per source. |sources| never multiplies the scan."""
    docs = tables.spread(tables.table(spark, sf_dir, "documents"), "doc_id")
    tok = docs.select(
        "source", "n_chars", F.explode(tokens_expr()).alias("tok")
    )
    by_src_tok = _pin(
        tok.groupBy("source", "tok").agg(
            F.count(F.lit(1)).cast("bigint").alias("c_sw")
        )
    )
    by_tok = by_src_tok.groupBy("tok").agg(
        F.sum("c_sw").cast("bigint").alias("c_w")
    )
    by_src = by_src_tok.groupBy(F.col("source").alias("s2")).agg(
        F.sum("c_sw").cast("bigint").alias("t_s")
    )
    total = by_tok.agg(F.sum("c_w").cast("bigint").alias("t_all"))
    doc_stats = docs.groupBy(F.col("source").alias("s3")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("chars_s"),
    )
    doc_total = docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("d_all"),
        F.sum("n_chars").cast("bigint").alias("chars_all"),
    )
    # Tokens the source HAS (c_sw > 0): per-token complement terms.
    # Tokens it LACKS contribute c_w * ln(t_all / (t_all - t_s)) each
    # — the SAME fixed-point factor — so their whole contribution is
    # (t_all - cov_s) * that factor, where cov_s is the corpus mass of
    # the source's own vocabulary. Both pieces are exact integers.
    term = (
        "case when c_w > c_sw then (c_w - c_sw) * cast(floor(1e6 * ln("
        "(cast(c_w - c_sw as double) * cast(t_all as double))"
        " / (cast(c_w as double) * cast(t_all - t_s as double))))"
        " as bigint) else cast(0 as bigint) end"
    )
    missing_fp = (
        "cast(floor(1e6 * ln(cast(t_all as double)"
        " / cast(t_all - t_s as double))) as bigint)"
    )
    kl = (
        by_src_tok.join(by_tok, "tok")
        .join(F.broadcast(by_src), F.col("source") == F.col("s2"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("t_all") > F.col("t_s"))
        .groupBy("source", "t_s", "t_all")
        .agg(
            F.sum(F.expr(term)).cast("decimal(38,0)").alias("kl_present"),
            F.sum("c_w").cast("bigint").alias("cov_s"),
        )
        .select(
            "source",
            "t_s",
            "t_all",
            (
                F.col("kl_present")
                + (
                    (F.col("t_all") - F.col("cov_s"))
                    * F.expr(missing_fp)
                ).cast("decimal(38,0)")
            ).alias("kl_num"),
        )
    )
    return (
        kl.join(F.broadcast(doc_stats), F.col("source") == F.col("s3"))
        .crossJoin(F.broadcast(doc_total))
        .select(
            "source",
            "n_docs",
            (
                F.col("t_s").cast("double") / F.col("t_all").cast("double")
            ).alias("token_share"),
            (
                F.col("kl_num").cast("double")
                / (
                    (F.col("t_all") - F.col("t_s")).cast("double")
                    * F.lit(1000000.0)
                )
            ).alias("kl_drop_vs_full"),
            (
                (F.col("chars_all") - F.col("chars_s")).cast("double")
                / (F.col("d_all") - F.col("n_docs")).cast("double")
                - F.col("chars_all").cast("double")
                / F.col("d_all").cast("double")
            ).alias("mean_chars_delta"),
        )
    )


BSLASH = chr(92)

SOURCE_ABLATION_ORACLE = f"""
WITH tokrows AS (
  SELECT source, n_chars,
         unnest(list_filter(string_split_regex(lower(text), '{BSLASH}W+'),
                x -> x <> '')) AS tok
  FROM documents
),
by_src_tok AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS c_sw
  FROM tokrows GROUP BY 1, 2
),
by_tok AS (
  SELECT tok, CAST(sum(c_sw) AS BIGINT) AS c_w FROM by_src_tok GROUP BY 1
),
by_src AS (
  SELECT source AS s2, CAST(sum(c_sw) AS BIGINT) AS t_s
  FROM by_src_tok GROUP BY 1
),
total AS (SELECT CAST(sum(c_w) AS BIGINT) AS t_all FROM by_tok),
doc_stats AS (
  SELECT source AS s3, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS chars_s
  FROM documents GROUP BY 1
),
doc_total AS (
  SELECT CAST(count(*) AS BIGINT) AS d_all,
         CAST(sum(n_chars) AS BIGINT) AS chars_all
  FROM documents
),
kl_parts AS (
  SELECT source, t_s, t_all,
         CAST(sum(CASE WHEN c_w > c_sw THEN
           (c_w - c_sw) * CAST(floor(1e6 * ln(
             (CAST(c_w - c_sw AS DOUBLE) * CAST(t_all AS DOUBLE))
             / (CAST(c_w AS DOUBLE) * CAST(t_all - t_s AS DOUBLE))))
             AS BIGINT) ELSE CAST(0 AS BIGINT) END)
           AS DECIMAL(38,0)) AS kl_present,
         CAST(sum(c_w) AS BIGINT) AS cov_s
  FROM by_src_tok
  JOIN by_tok USING (tok)
  JOIN by_src ON s2 = source
  CROSS JOIN total
  WHERE t_all > t_s
  GROUP BY 1, 2, 3
),
kl AS (
  SELECT source, t_s, t_all,
         kl_present + CAST((t_all - cov_s) * CAST(floor(1e6 * ln(
           CAST(t_all AS DOUBLE) / CAST(t_all - t_s AS DOUBLE)))
           AS BIGINT) AS DECIMAL(38,0)) AS kl_num
  FROM kl_parts
)
SELECT source, n_docs,
       CAST(t_s AS DOUBLE) / CAST(t_all AS DOUBLE) AS token_share,
       CAST(kl_num AS DOUBLE)
         / (CAST(t_all - t_s AS DOUBLE) * 1000000.0) AS kl_drop_vs_full,
       CAST(chars_all - chars_s AS DOUBLE)
         / CAST(d_all - n_docs AS DOUBLE)
       - CAST(chars_all AS DOUBLE) / CAST(d_all AS DOUBLE)
         AS mean_chars_delta
FROM kl
JOIN doc_stats ON s3 = source
CROSS JOIN doc_total
"""

"""Corpus lexical statistics: the vocabulary-level reports a training-
data pipeline runs after ingestion and before tokenizer/mixture
decisions — hapax rates, tokenizer fertility, exact-integer term
co-occurrence (PMI-style lift), log-bucketed length histograms, and a
prefix-duplicate screen.

All five stay fully JVM-side (built-in functions only) and reduce to
partial-aggregatable shuffles keyed by small values (source, lang,
term, bucket), so each scales as "one pass over the corpus plus a
vocabulary-sized tail". Exactness discipline: every output is either
an exact integer or a single final division of exact integers, so the
driver's 9-sig-digit hash canonicalization is trivially stable.

North-star additions (no reference analog; the Kafka Streams scaffold
has no corpus surface — nearest relatives are the wordcount topology's
token split, reference WordCountTopology.java:31, which this module
reuses via textops.tokens_expr so every lexical operator agrees on
what a token is).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import tables
from ..pinning import pin as _pin
from ..registry import query
from .textops import tokens_expr

# DuckDB twin of textops.tokens_expr — identical \W+ split, lowercase,
# empties dropped (same literal form used across dedup/textops).
_DUCK_TOKS = (
    "list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '')"
)


# --------------------------------------------------------------------------
# Hapax legomena rate per source
# --------------------------------------------------------------------------

@query()
def hapax_rate_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_terms, n_hapax, hapax_ratio): per source, the number
    of distinct terms, how many occur exactly once in that source's
    corpus slice (hapax legomena), and their ratio. A high hapax rate
    flags noisy/OCR-damaged sources before tokenizer training; a low
    one flags templated/boilerplate sources.

    Scale: two partial-aggregatable shuffles — (source, term) counts,
    then per-source rollup. Token explosion never materializes
    documents, only (source, token) pairs; the second shuffle carries
    one row per distinct (source, term)."""
    docs = tables.table(spark, sf_dir, "documents")
    occ = docs.select("source", F.explode(tokens_expr()).alias("tok"))
    term_counts = occ.groupBy("source", "tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    return term_counts.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        F.sum((F.col("c") == 1).cast("bigint")).alias("n_hapax"),
        (
            F.sum((F.col("c") == 1).cast("bigint")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("hapax_ratio"),
    )


HAPAX_RATE_ORACLE = f"""
WITH occ AS (
  SELECT source, unnest({_DUCK_TOKS}) AS tok FROM documents
),
term_counts AS (
  SELECT source, tok, count(*) AS c FROM occ GROUP BY source, tok
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_terms,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS hapax_ratio
FROM term_counts GROUP BY source
"""


# --------------------------------------------------------------------------
# Tokenizer fertility per language
# --------------------------------------------------------------------------

@query()
def tokenizer_fertility_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, n_docs, n_tokens, n_chars, chars_per_token): corpus-level
    tokenizer fertility proxy per language — how many characters one
    whitespace/punct token covers. Languages whose fertility diverges
    from the corpus mean need tokenizer vocabulary attention (the
    classic multilingual-BPE under-allocation signal).

    One scan, one map-side-combinable groupBy on a tiny key; the only
    float is the final division of two exact BIGINT sums."""
    docs = tables.table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        F.size(tokens_expr()).cast("bigint").alias("toks"),
        F.col("n_chars").cast("bigint").alias("chars"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("toks").alias("n_tokens"),
        F.sum("chars").alias("n_chars"),
        F.when(
            F.sum("toks") > 0,
            F.sum("chars").cast("double") / F.sum("toks").cast("double"),
        ).alias("chars_per_token"),
    )


TOKENIZER_FERTILITY_ORACLE = f"""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len({_DUCK_TOKS})) AS BIGINT) AS n_tokens,
       CAST(sum(n_chars) AS BIGINT) AS n_chars,
       CASE WHEN sum(len({_DUCK_TOKS})) > 0
            THEN CAST(sum(n_chars) AS DOUBLE)
                 / CAST(sum(len({_DUCK_TOKS})) AS DOUBLE) END
         AS chars_per_token
FROM documents GROUP BY lang
"""


# --------------------------------------------------------------------------
# Exact-integer term co-occurrence (PMI-style lift without the log)
# --------------------------------------------------------------------------

_COOC_TOP_V = 40  # candidate vocabulary: top-V terms by document frequency
_COOC_MIN_C = 2  # emit pairs co-occurring in >= this many documents


@query()
def term_cooccurrence_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(term_a, term_b, c_ab, c_a, c_b, lift_num, lift_den): document
    co-occurrence counts for unordered pairs of the top-V
    document-frequency terms, with the PMI lift carried as the EXACT
    integer fraction lift_num/lift_den = (c_ab·N)/(c_a·c_b) instead of
    its logarithm — log/ln are not cross-engine bit-stable, an integer
    fraction is, and any consumer can take the log client-side.

    Scale: the pair generator is bounded by construction — only the
    top-V vocabulary (a broadcast-sized frame; the ranking window runs
    over |vocabulary| rows, the same posture as every vocab-sized
    frame in this repo) joins back to the corpus, so a document
    contributes at most V(V-1)/2 pairs regardless of its length, and
    the shuffle carries (term, term) keys only. The corpus is touched
    once."""
    docs = tables.table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokens_expr()).alias("tok")
    ).distinct()
    df = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    top = (
        df.withColumn(
            "rn",
            F.row_number().over(Window.orderBy(F.desc("df"), F.asc("tok"))),
        )
        .filter(F.col("rn") <= _COOC_TOP_V)
        .select("tok", "df")
    )
    ft = toks.join(F.broadcast(top.select("tok")), "tok").select("doc_id", "tok")
    n_docs = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    a, b = ft.alias("a"), ft.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.tok") < F.col("b.tok")),
        )
        .groupBy(
            F.col("a.tok").alias("term_a"), F.col("b.tok").alias("term_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_ab"))
        .filter(F.col("c_ab") >= _COOC_MIN_C)
    )
    da = F.broadcast(top.select(F.col("tok").alias("ta"), F.col("df").alias("c_a")))
    db = F.broadcast(top.select(F.col("tok").alias("tb"), F.col("df").alias("c_b")))
    return (
        pairs.join(da, pairs.term_a == da.ta)
        .join(db, pairs.term_b == db.tb)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term_a",
            "term_b",
            "c_ab",
            "c_a",
            "c_b",
            (F.col("c_ab") * F.col("n_docs")).cast("bigint").alias("lift_num"),
            (F.col("c_a") * F.col("c_b")).cast("bigint").alias("lift_den"),
        )
    )


TERM_COOCCURRENCE_ORACLE = f"""
WITH toks AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, unnest({_DUCK_TOKS}) AS tok FROM documents
  )
),
df AS (SELECT tok, count(*) AS df FROM toks GROUP BY tok),
top AS (
  SELECT tok, df FROM (
    SELECT tok, df, row_number() OVER (ORDER BY df DESC, tok) AS rn FROM df
  ) WHERE rn <= {_COOC_TOP_V}
),
ft AS (SELECT t.doc_id, t.tok FROM toks t JOIN top USING (tok)),
nd AS (SELECT count(*) AS n_docs FROM documents),
pairs AS (
  SELECT a.tok AS term_a, b.tok AS term_b, count(*) AS c_ab
  FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND a.tok < b.tok
  GROUP BY a.tok, b.tok
  HAVING count(*) >= {_COOC_MIN_C}
)
SELECT term_a, term_b,
       CAST(c_ab AS BIGINT) AS c_ab,
       CAST(da.df AS BIGINT) AS c_a,
       CAST(db.df AS BIGINT) AS c_b,
       CAST(c_ab * nd.n_docs AS BIGINT) AS lift_num,
       CAST(da.df * db.df AS BIGINT) AS lift_den
FROM pairs
JOIN top da ON da.tok = pairs.term_a
JOIN top db ON db.tok = pairs.term_b
CROSS JOIN nd
"""


# --------------------------------------------------------------------------
# Log2-bucketed document-length histogram per source
# --------------------------------------------------------------------------

@query()
def doclen_log_hist_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, bucket, bucket_lo, n_docs): histogram of documents per
    source over power-of-two length buckets — bucket = floor(log2
    (n_chars)), the shape report that catches truncated/empty-doc
    pathologies a mean hides. floor(log2) is computed as
    length(bin(x)) - 1: both engines render bin(BIGINT) without
    leading zeros, making the string length an EXACT integer log2
    (IEEE log() would not be cross-engine hash-stable).

    One scan, one combinable groupBy on a (source, small-int) key."""
    docs = tables.table(spark, sf_dir, "documents")
    bucket = F.when(F.col("n_chars") <= 0, F.lit(-1).cast("int")).otherwise(
        (F.length(F.bin(F.col("n_chars"))) - 1).cast("int")
    )
    per_doc = docs.select("source", bucket.alias("bucket"))
    return per_doc.groupBy("source", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    ).select(
        "source",
        "bucket",
        F.when(F.col("bucket") < 0, F.lit(0).cast("bigint"))
        .otherwise(F.expr("shiftleft(1L, bucket)"))
        .alias("bucket_lo"),
        "n_docs",
    )


DOCLEN_LOG_HIST_ORACLE = """
WITH per_doc AS (
  SELECT source,
         CASE WHEN n_chars <= 0 THEN -1
              ELSE CAST(length(bin(n_chars)) - 1 AS INT) END AS bucket
  FROM documents
)
SELECT source, bucket,
       CASE WHEN bucket < 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(CAST(1 AS BIGINT) << bucket AS BIGINT) END AS bucket_lo,
       CAST(count(*) AS BIGINT) AS n_docs
FROM per_doc GROUP BY source, bucket
"""


# --------------------------------------------------------------------------
# Prefix-duplicate screen
# --------------------------------------------------------------------------

_PREFIX_LEN = 64


@query()
def prefix_dup_groups_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(prefix_md5, n_docs, min_doc_id, max_doc_id): groups of >= 2
    documents sharing an identical first-64-character prefix — the
    cheap screen that catches header/template duplication (same intro
    paragraph, different tails) that whole-document exact dedup
    misses and MinHash only catches at high shingle overlap. Grouping
    on the 32-hex md5 instead of the raw prefix keeps the shuffle key
    fixed-width (both engines' md5 renders identical lowercase hex).

    Scale: exact_dedup's posture — one hash-partitioned groupBy on a
    32-byte key; document bodies never shuffle (only the hashed
    prefix and ids do)."""
    docs = tables.table(spark, sf_dir, "documents")
    pref = docs.filter(F.col("n_chars") >= _PREFIX_LEN).select(
        F.md5(F.substring(F.col("text"), 1, _PREFIX_LEN)).alias("prefix_md5"),
        "doc_id",
    )
    return (
        pref.groupBy("prefix_md5")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )


PREFIX_DUP_GROUPS_ORACLE = f"""
SELECT md5(substring(text, 1, {_PREFIX_LEN})) AS prefix_md5,
       CAST(count(*) AS BIGINT) AS n_docs,
       min(doc_id) AS min_doc_id,
       max(doc_id) AS max_doc_id
FROM documents
WHERE n_chars >= {_PREFIX_LEN}
GROUP BY 1 HAVING count(*) >= 2
"""


# --------------------------------------------------------------------------
# Zipf's-law fit over the frequency head
# --------------------------------------------------------------------------

ZIPF_TOP = 1000  # head size the power law is fit over


@query()
def zipf_fit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_types, n_fit, slope, intercept, r2): the least-squares fit
    of ln(freq) against ln(rank) over the top-ZIPF_TOP vocabulary —
    the Zipf/power-law exponent report. A natural corpus fits slope
    ~ -1 with high r2; a synthetic or template corpus shows up
    immediately as a flat slope or a broken fit, making this the
    one-row smell test a data pipeline runs on every new source.

    Exactness: ranks come from a total order (freq DESC, token ASC —
    unique, so the LIMIT boundary is identical cross-engine); both
    regression coordinates are fixed-pointed (floor(1e6*ln(x)) on
    exact integers) so all five power sums are exact DECIMAL(38,0)
    integer sums; slope/intercept/r2 are final-step double ratios of
    those exact sums.

    Scale: vocabulary counting is the standard partial-aggregatable
    rollup (shuffle payload = vocabulary, not corpus); the head is a
    TakeOrdered top-k (per-partition partial top-k, constant-size
    result), and the rank window runs over the CONSTANT ZIPF_TOP-row
    frame — the one single-partition window here is over <= 1000 rows
    by construction, not a data-sized frame."""
    docs = tables.table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(tokens_expr()).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    n_types = vocab.agg(F.count(F.lit(1)).cast("bigint").alias("n_types"))
    head = vocab.orderBy(F.desc("c"), F.asc("tok")).limit(ZIPF_TOP)
    ranked = head.select(
        "c",
        F.row_number()
        .over(Window.orderBy(F.desc("c"), F.asc("tok")))
        .alias("rank"),
    )
    pts = ranked.select(
        F.expr("cast(floor(1e6 * ln(cast(rank as double))) as bigint)")
        .alias("x"),
        F.expr("cast(floor(1e6 * ln(cast(c as double))) as bigint)")
        .alias("y"),
    )
    sums = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.expr("cast(x as decimal(19,0)) * x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.expr("cast(y as decimal(19,0)) * y")).cast("decimal(38,0)").alias("syy"),
        F.sum(F.expr("cast(x as decimal(19,0)) * y")).cast("decimal(38,0)").alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    cov = n * sxy - sx * sy
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    return (
        sums.crossJoin(F.broadcast(n_types))
        .select(
            "n_types",
            F.col("n").alias("n_fit"),
            F.when(vx > 0, cov / vx).alias("slope"),
            F.when(
                vx > 0, (sy - (cov / vx) * sx) / (n * F.lit(1000000.0))
            ).alias("intercept"),
            F.when((vx > 0) & (vy > 0), cov * cov / (vx * vy)).alias("r2"),
        )
    )


ZIPF_FIT_ORACLE = f"""
WITH vocab AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS c FROM (
    SELECT unnest({_DUCK_TOKS}) AS tok FROM documents
  ) GROUP BY tok
),
nt AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM vocab),
head AS (
  SELECT c FROM vocab ORDER BY c DESC, tok ASC LIMIT {ZIPF_TOP}
),
ranked AS (
  SELECT c, row_number() OVER (ORDER BY c DESC) AS rank FROM head
),
pts AS (
  SELECT CAST(floor(1e6 * ln(CAST(rank AS DOUBLE))) AS BIGINT) AS x,
         CAST(floor(1e6 * ln(CAST(c AS DOUBLE))) AS BIGINT) AS y
  FROM ranked
),
sums AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS DECIMAL(38,0)) AS sx,
         CAST(sum(y) AS DECIMAL(38,0)) AS sy,
         CAST(sum(CAST(x AS DECIMAL(19,0)) * x) AS DECIMAL(38,0)) AS sxx,
         CAST(sum(CAST(y AS DECIMAL(19,0)) * y) AS DECIMAL(38,0)) AS syy,
         CAST(sum(CAST(x AS DECIMAL(19,0)) * y) AS DECIMAL(38,0)) AS sxy
  FROM pts
)
SELECT n_types, n AS n_fit,
       CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
            THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END AS slope,
       CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
            THEN (CAST(sy AS DOUBLE)
                  - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                    * CAST(sx AS DOUBLE))
                 / (CAST(n AS DOUBLE) * 1000000.0) END AS intercept,
       CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
             AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
            THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) END AS r2
FROM sums CROSS JOIN nt
"""


# --------------------------------------------------------------------------
# Chao1 vocabulary-richness estimate (how many types we HAVEN'T seen)
# --------------------------------------------------------------------------


@query()
def chao1_vocab_estimate_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(v_obs, s1, s2, n_tokens, chao1): the Chao1 lower-bound
    estimate of the TRUE vocabulary size behind the corpus sample —
    v_obs + s1*(s1-1) / (2*(s2+1)) (bias-corrected form), where s1/s2
    are the singleton/doubleton type counts. The ecology
    species-richness estimator, used on corpora to answer "how much
    unseen vocabulary does another crawl buy" — the forward-looking
    complement of the descriptive Zipf/Heaps fits (``zipf_fit``,
    ``vocab_growth``): those describe the sample, Chao1 extrapolates
    past it.

    Exactness: all four inputs are exact integer counts from two
    partial-aggregatable rollups (token -> freq, freq -> type count);
    the estimate is one fixed IEEE expression over them (the +1 in
    the corrected denominator also removes the s2 = 0 division
    hazard). Scale: corpus touched once; everything after the
    type-frequency rollup is vocabulary-sized, then 3 rows."""
    docs = tables.table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(tokens_expr("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    agg = freq.agg(
        F.count(F.lit(1)).cast("bigint").alias("v_obs"),
        F.sum((F.col("c") == 1).cast("int")).cast("bigint").alias("s1"),
        F.sum((F.col("c") == 2).cast("int")).cast("bigint").alias("s2"),
        F.sum("c").cast("bigint").alias("n_tokens"),
    )
    return agg.filter(F.col("v_obs") > 0).select(
        "v_obs",
        "s1",
        "s2",
        "n_tokens",
        (
            F.col("v_obs").cast("double")
            + (F.col("s1") * (F.col("s1") - 1)).cast("double")
            / (2.0 * (F.col("s2") + 1).cast("double"))
        ).alias("chao1"),
    )


CHAO1_VOCAB_ESTIMATE_ORACLE = """
WITH freq AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS c
  FROM (
    SELECT unnest(list_filter(string_split_regex(lower(text), '\\W+'),
                              x -> x <> '')) AS tok
    FROM documents
  ) GROUP BY 1
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS v_obs,
         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS s1,
         CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS s2,
         CAST(sum(c) AS BIGINT) AS n_tokens
  FROM freq
)
SELECT v_obs, s1, s2, n_tokens,
       CAST(v_obs AS DOUBLE)
         + CAST(s1 * (s1 - 1) AS DOUBLE) / (2.0 * CAST(s2 + 1 AS DOUBLE))
         AS chao1
FROM agg
WHERE v_obs > 0
"""


# --------------------------------------------------------------------------
# Good-Turing unseen-mass estimate per source
# --------------------------------------------------------------------------

@query()
def good_turing_unseen_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_tokens, n_terms, n1, n2, p_unseen, r1_star): the
    Turing estimator of the probability mass a source's NEXT token is
    a never-seen term (p_unseen = N1/N, the frequency of hapaxes) and
    the Good-Turing smoothed count for singletons (r1* = 2*N2/N1) —
    the standard answer to "how much more of this source must we
    crawl before its vocabulary saturates", the companion decision to
    the Chao1 richness estimate (chao1_vocab_estimate) which bounds
    the unseen TYPE count rather than the unseen mass.

    Exactness: N, V, N1, N2 are exact BIGINT aggregates of the
    (source, term) count rollup; the two estimates are single IEEE
    divisions of exact integers, bit-identical cross-engine.

    Scale: the same two partial-aggregatable shuffles as hapax_rate —
    (source, term) counts then a per-source rollup; counts-of-counts
    are conditional sums on that grid, no third shuffle."""
    docs = tables.table(spark, sf_dir, "documents")
    occ = docs.select("source", F.explode(tokens_expr()).alias("tok"))
    term_counts = occ.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    return term_counts.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        F.sum((F.col("c") == 1).cast("bigint")).alias("n1"),
        F.sum((F.col("c") == 2).cast("bigint")).alias("n2"),
        (
            F.sum((F.col("c") == 1).cast("bigint")).cast("double")
            / F.sum("c").cast("double")
        ).alias("p_unseen"),
        F.when(
            F.sum((F.col("c") == 1).cast("bigint")) > 0,
            F.lit(2.0)
            * F.sum((F.col("c") == 2).cast("bigint")).cast("double")
            / F.sum((F.col("c") == 1).cast("bigint")).cast("double"),
        ).alias("r1_star"),
    )


GOOD_TURING_UNSEEN_ORACLE = f"""
WITH occ AS (
  SELECT source, unnest({_DUCK_TOKS}) AS tok FROM documents
),
term_counts AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS c
  FROM occ GROUP BY source, tok
)
SELECT source,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_terms,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(sum(c) AS DOUBLE) AS p_unseen,
       CASE WHEN sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) > 0 THEN
         2.0 * CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
       END AS r1_star
FROM term_counts GROUP BY source
"""


# --------------------------------------------------------------------------
# Hill tail-index estimator on per-source document lengths
# --------------------------------------------------------------------------

_HILL_FP = 1_000_000_000  # 1e9 fixed-point scale for per-doc ln terms


@query()
def hill_tail_index_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_docs, k, x_k1, sum_fp, hill, alpha): the Hill
    estimator of each source's document-length tail index — over the
    top k = max(2, n_docs/5) order statistics, hill = (1/k) *
    sum_{i<=k} ln(x_(i) / x_(k+1)) and alpha = 1/hill. A heavy tail
    (small alpha) means a few enormous documents dominate token
    budget and shuffle-partition sizing; alpha is THE number that
    decides whether length-capping is needed before tokenizer
    training, and how aggressive the doc-splitting stage
    (chunking) must be.

    Exactness: the top-(k+1) VALUE multiset is deterministic (ranked
    by n_chars DESC; ties don't change the value multiset), k is an
    exact integer derived from exact counts, each ln term is
    fixed-pointed per row (floor(1e9 * ln(x)), BIGINT) before the
    unordered sum, and x_(k+1) enters once via an exact MIN. hill
    reassembles as sum_fp/1e9/k - ln(x_k1), a fixed final flop
    sequence.

    Scale: one per-source rank window over (source, n_chars) — the
    partitioned-window shape every sessionization here uses — then a
    per-source rollup on the top slice. k scales with the source, so
    the slice is a fixed FRACTION of the rollup, never a collect."""
    docs = tables.table(spark, sf_dir, "documents")
    sized = docs.select("source", "doc_id", "n_chars").filter(
        F.col("n_chars") > 0
    )
    counts = sized.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    wr = Window.partitionBy("source").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    ranked = sized.select(
        "source",
        "n_chars",
        F.row_number().over(wr).alias("rnk"),
    ).join(F.broadcast(counts), "source")
    # integer division on BOTH engines (a DOUBLE-divide-then-cast would
    # truncate on Spark but round on DuckDB)
    k = F.greatest(
        F.lit(2).cast("bigint"), F.expr("n_docs div 5").cast("bigint")
    )
    top = ranked.filter(F.col("rnk") <= k + F.lit(1)).select(
        "source", "n_chars", "rnk", "n_docs", k.alias("k")
    )
    return top.groupBy("source").agg(
        F.max("n_docs").alias("n_docs"),
        F.max("k").alias("k"),
        F.min(
            F.when(F.col("rnk") == F.col("k") + 1, F.col("n_chars"))
        ).cast("bigint").alias("x_k1"),
        F.sum(
            F.when(
                F.col("rnk") <= F.col("k"),
                F.floor(
                    F.lit(float(_HILL_FP))
                    * F.log(F.col("n_chars").cast("double"))
                ).cast("bigint"),
            ).otherwise(F.lit(0))
        ).cast("bigint").alias("sum_fp"),
    ).select(
        "source",
        "n_docs",
        "k",
        "x_k1",
        "sum_fp",
        (
            F.col("sum_fp").cast("double")
            / F.lit(float(_HILL_FP))
            / F.col("k").cast("double")
            - F.log(F.col("x_k1").cast("double"))
        ).alias("hill"),
    ).select(
        "*",
        F.when(
            F.col("hill") > 0, F.lit(1.0) / F.col("hill")
        ).alias("alpha"),
    )


HILL_TAIL_INDEX_ORACLE = f"""
WITH sized AS (
  SELECT source, doc_id, n_chars FROM documents WHERE n_chars > 0
),
counts AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
  FROM sized GROUP BY 1
),
ranked AS (
  SELECT s.source, s.n_chars, c.n_docs,
         row_number() OVER (
           PARTITION BY s.source ORDER BY s.n_chars DESC, s.doc_id ASC
         ) AS rnk,
         greatest(CAST(2 AS BIGINT), CAST(c.n_docs // 5 AS BIGINT)) AS k
  FROM sized s JOIN counts c USING (source)
),
top AS (
  SELECT * FROM ranked WHERE rnk <= k + 1
),
agg AS (
  SELECT source,
         max(n_docs) AS n_docs,
         max(k) AS k,
         CAST(min(CASE WHEN rnk = k + 1 THEN n_chars END) AS BIGINT)
           AS x_k1,
         CAST(sum(CASE WHEN rnk <= k THEN
           CAST(floor({float(_HILL_FP)!r}
                      * ln(CAST(n_chars AS DOUBLE))) AS BIGINT)
           ELSE 0 END) AS BIGINT) AS sum_fp
  FROM top GROUP BY 1
)
SELECT source, n_docs, k, x_k1, sum_fp,
       CAST(sum_fp AS DOUBLE) / {float(_HILL_FP)!r} / CAST(k AS DOUBLE)
         - ln(CAST(x_k1 AS DOUBLE)) AS hill,
       CASE WHEN CAST(sum_fp AS DOUBLE) / {float(_HILL_FP)!r}
                   / CAST(k AS DOUBLE)
                 - ln(CAST(x_k1 AS DOUBLE)) > 0
            THEN 1.0 / (CAST(sum_fp AS DOUBLE) / {float(_HILL_FP)!r}
                          / CAST(k AS DOUBLE)
                        - ln(CAST(x_k1 AS DOUBLE)))
       END AS alpha
FROM agg
"""


# --------------------------------------------------------------------------
# Burrows' Delta stylometric distance between source pairs
# --------------------------------------------------------------------------

_DELTA_TOP = 150          # most-frequent-word panel size
_DELTA_F_FP = 1_000_000_000_000   # 1e12 fixed point for relative freqs
_DELTA_Z_FP = 1_000_000_000       # 1e9 fixed point for per-term |z1-z2|


@query()
def burrows_delta_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src_a, src_b, n_terms, delta_fp, delta): Burrows' Delta — the
    stylometry-standard distance between every pair of sources: over
    the _DELTA_TOP most frequent words of the pooled corpus, z-score
    each source's relative frequency per word (across the source
    panel), then average |z_a - z_b|. Low Delta between two
    "different" sources is the classic signature of a shared
    generator/template or a re-crawled mirror — an authorship-level
    dedup signal that survives paraphrase-level edits which break
    shingle MinHash.

    Exactness: the top-word panel has a deterministic boundary (freq
    DESC, token ASC); relative frequencies are fixed-pointed
    (floor(1e12*c/n), BIGINT) BEFORE the cross-source moments, which
    are exact DECIMAL(38,0) sums (zipf_fit pattern); each z is
    (ns*f_fp - Sf)/sqrt(ns*Sff - Sf^2) — exact integer numerator,
    one sqrt+division — and each pair term |z_a - z_b| is re-fixed-
    pointed per word before the unordered pair sum. Constant words
    (zero panel variance) are excluded and n_terms reports the
    surviving panel size.

    Scale: one token-count rollup (corpus-sized shuffle, vocabulary
    payload), a TakeOrdered top-150 head, and all pair work on the
    150 x |sources|^2 grid — dimension-sized. The pair join
    broadcasts the 150 x |sources| z-panel."""
    docs = tables.table(spark, sf_dir, "documents")
    occ = docs.select("source", F.explode(tokens_expr()).alias("tok"))
    # vocabulary-sized rollup pinned: totals/top/panel all consume it,
    # and without the pin each consumer re-scans and re-explodes the
    # corpus (measured 12 Generate nodes in the unpinned plan)
    cnt = _pin(
        occ.groupBy("source", "tok").agg(
            F.count(F.lit(1)).cast("bigint").alias("c")
        )
    )
    totals = cnt.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n")
    )
    top = (
        cnt.groupBy("tok")
        .agg(F.sum("c").cast("bigint").alias("ct"))
        .orderBy(F.desc("ct"), F.asc("tok"))
        .limit(_DELTA_TOP)
        .select("tok")
    )
    # full panel: every (top word) x (source), zero-filled
    panel = (
        top.crossJoin(totals)
        .join(cnt, ["source", "tok"], "left")
        .select(
            "tok",
            "source",
            # the 1e12*c product runs through DECIMAL: as a BIGINT it
            # overflows int64 for any token with c > ~9.2e6 in one
            # source (plausible for top-150 corpus words at larger
            # SFs); the div quotient is <= 1e12 so the BIGINT result
            # is safe
            F.expr(
                f"cast({_DELTA_F_FP} as decimal(19,0)) * coalesce(c, 0)"
                " div n"
            ).cast("bigint").alias("f_fp"),
        )
    )
    mom = panel.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("ns"),
        F.sum("f_fp").cast("decimal(38,0)").alias("sf"),
        F.sum(F.expr("cast(f_fp as decimal(19,0)) * f_fp"))
        .cast("decimal(38,0)")
        .alias("sff"),
    )
    # den2 follows the zipf_fit pattern: exact DECIMAL sums cast to
    # DOUBLE, then a fixed flop sequence (a decimal*decimal product
    # would overflow DuckDB's 38-digit type algebra)
    den2 = (
        F.col("ns").cast("double") * F.col("sff").cast("double")
        - F.col("sf").cast("double") * F.col("sf").cast("double")
    )
    # the z-panel feeds BOTH sides of the pair join: pin the
    # (top-V x sources)-row frame so the pair join reads a cached
    # dimension table instead of re-deriving the panel twice
    zpanel = _pin(
        panel.join(F.broadcast(mom), "tok").select(
            "tok",
            "source",
            (
                (
                    F.col("ns") * F.col("f_fp") - F.col("sf").cast("bigint")
                ).cast("double")
                / F.sqrt(den2)
            ).alias("z"),
            den2.alias("den2"),
        ).filter(F.col("den2") > 0)
    )
    a = zpanel.select(
        F.col("tok").alias("tok"),
        F.col("source").alias("src_a"),
        F.col("z").alias("z_a"),
    )
    b = zpanel.select(
        F.col("tok").alias("tok2"),
        F.col("source").alias("src_b"),
        F.col("z").alias("z_b"),
    )
    pairs = a.join(
        F.broadcast(b),
        (F.col("tok") == F.col("tok2")) & (F.col("src_a") < F.col("src_b")),
    ).select(
        "src_a",
        "src_b",
        F.floor(
            F.lit(float(_DELTA_Z_FP)) * F.abs(F.col("z_a") - F.col("z_b"))
        ).cast("bigint").alias("d_fp"),
    )
    return pairs.groupBy("src_a", "src_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        F.sum("d_fp").cast("bigint").alias("delta_fp"),
        (
            F.sum("d_fp").cast("double")
            / F.lit(float(_DELTA_Z_FP))
            / F.count(F.lit(1)).cast("double")
        ).alias("delta"),
    )


BURROWS_DELTA_ORACLE = f"""
WITH occ AS (
  SELECT source, unnest({_DUCK_TOKS}) AS tok FROM documents
),
cnt AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS c
  FROM occ GROUP BY 1, 2
),
totals AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY 1
),
top AS (
  SELECT tok FROM (
    SELECT tok, CAST(sum(c) AS BIGINT) AS ct FROM cnt GROUP BY 1
  ) ORDER BY ct DESC, tok ASC LIMIT {_DELTA_TOP}
),
panel AS (
  SELECT t.tok, s.source,
         CAST(CAST({_DELTA_F_FP} AS HUGEINT) * COALESCE(c.c, 0) // s.n
              AS BIGINT) AS f_fp
  FROM top t
  CROSS JOIN totals s
  LEFT JOIN cnt c ON c.source = s.source AND c.tok = t.tok
),
mom AS (
  SELECT tok,
         CAST(count(*) AS BIGINT) AS ns,
         CAST(sum(f_fp) AS DECIMAL(38,0)) AS sf,
         CAST(sum(CAST(f_fp AS DECIMAL(19,0)) * f_fp) AS DECIMAL(38,0))
           AS sff
  FROM panel GROUP BY 1
),
zpanel AS (
  SELECT p.tok, p.source,
         CAST(m.ns * p.f_fp - CAST(m.sf AS BIGINT) AS DOUBLE)
           / sqrt(CAST(m.ns AS DOUBLE) * CAST(m.sff AS DOUBLE)
                  - CAST(m.sf AS DOUBLE) * CAST(m.sf AS DOUBLE)) AS z
  FROM panel p JOIN mom m USING (tok)
  WHERE CAST(m.ns AS DOUBLE) * CAST(m.sff AS DOUBLE)
          - CAST(m.sf AS DOUBLE) * CAST(m.sf AS DOUBLE) > 0
)
SELECT a.source AS src_a, b.source AS src_b,
       CAST(count(*) AS BIGINT) AS n_terms,
       CAST(sum(CAST(floor({float(_DELTA_Z_FP)!r} * abs(a.z - b.z))
                     AS BIGINT)) AS BIGINT) AS delta_fp,
       CAST(sum(CAST(floor({float(_DELTA_Z_FP)!r} * abs(a.z - b.z))
                     AS BIGINT)) AS DOUBLE)
         / {float(_DELTA_Z_FP)!r} / CAST(count(*) AS DOUBLE) AS delta
FROM zpanel a
JOIN zpanel b ON b.tok = a.tok AND a.source < b.source
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Per-source token entropy and Shannon evenness
# --------------------------------------------------------------------------

_ENT_FP = 1_000_000  # 1e6 fixed point for per-term ln(n/c), char_entropy's


@query()
def token_entropy_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_tokens, n_terms, h_fp, entropy_nats, evenness): the
    Shannon entropy of each source's unigram token distribution and
    its evenness (Pielou's J = H / ln V) — entropy in nats says how
    concentrated the vocabulary usage is; evenness normalizes out
    vocabulary size so sources of different richness compare on one
    [0, 1] axis. Low evenness = template/boilerplate-heavy source
    (few tokens carry the mass); the pre-tokenizer screen that
    complements hapax_rate (which sees the tail, not the
    concentration).

    Exactness: the char_entropy recipe on tokens — each term
    contributes the exact BIGINT c * floor(1e6 * ln(n/c)) BEFORE the
    unordered sum, so H = h_fp / (n * 1e6) reassembles from exact
    integers; evenness adds ONE ln(V) on an exact count.

    Scale: the same two shuffles as hapax_rate — (source, term)
    counts then the per-source rollup."""
    docs = tables.table(spark, sf_dir, "documents")
    occ = docs.select("source", F.explode(tokens_expr()).alias("tok"))
    cnt = occ.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    totals = cnt.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n")
    )
    grid = cnt.join(F.broadcast(totals), "source")
    per_src = grid.select(
        "source",
        "n",
        (
            F.col("c")
            * F.expr(
                f"cast(floor({_ENT_FP} * ln(cast(n as double) "
                "/ cast(c as double))) as bigint)"
            )
        ).cast("bigint").alias("term_fp"),
    ).groupBy("source").agg(
        F.max("n").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        F.sum("term_fp").cast("bigint").alias("h_fp"),
    )
    h = F.col("h_fp").cast("double") / (
        F.col("n_tokens").cast("double") * F.lit(float(_ENT_FP))
    )
    return per_src.select(
        "source",
        "n_tokens",
        "n_terms",
        "h_fp",
        h.alias("entropy_nats"),
        F.when(
            F.col("n_terms") > 1,
            h / F.log(F.col("n_terms").cast("double")),
        ).otherwise(F.lit(0.0)).alias("evenness"),
    )


TOKEN_ENTROPY_ORACLE = f"""
WITH occ AS (
  SELECT source, unnest({_DUCK_TOKS}) AS tok FROM documents
),
cnt AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS c
  FROM occ GROUP BY 1, 2
),
totals AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY 1
),
per_src AS (
  SELECT g.source,
         max(g.n) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_terms,
         CAST(sum(g.c * CAST(floor({_ENT_FP} * ln(CAST(g.n AS DOUBLE)
                                    / CAST(g.c AS DOUBLE))) AS BIGINT))
              AS BIGINT) AS h_fp
  FROM (SELECT c.source, c.c, t.n
        FROM cnt c JOIN totals t USING (source)) g
  GROUP BY 1
)
SELECT source, n_tokens, n_terms, h_fp,
       CAST(h_fp AS DOUBLE)
         / (CAST(n_tokens AS DOUBLE) * {float(_ENT_FP)!r})
         AS entropy_nats,
       CASE WHEN n_terms > 1 THEN
         (CAST(h_fp AS DOUBLE)
            / (CAST(n_tokens AS DOUBLE) * {float(_ENT_FP)!r}))
           / ln(CAST(n_terms AS DOUBLE))
       ELSE 0.0 END AS evenness
FROM per_src
"""


# --------------------------------------------------------------------------
# Tail token share per source (head-vocabulary coverage complement)
# --------------------------------------------------------------------------

TAIL_HEAD_K = 10  # global head-vocabulary size the tail is measured against


@query()
def tail_token_share_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_tokens, tail_tokens, tail_share): per source, the
    fraction of token mass carried by terms OUTSIDE the corpus-global
    top-TAIL_HEAD_K vocabulary. The complement of vocab_coverage at
    the source grain: a source whose tail share spikes relative to
    its peers is where tokenizer fertility degrades and where
    Zipf-tail pruning decisions (vocab truncation, UNK rates) bite
    first — the per-source readout hill_tail_index's corpus-level
    exponent doesn't give.

    Exactness: pure integer token counts; one final division.
    Scale: one (source, term) rollup (shuffle payload = per-source
    vocabulary, never the corpus), with the global head derived from
    the same frame by a constant-size TakeOrdered and broadcast back
    as a left-anti probe. No corpus-wide window, no second scan."""
    docs = tables.table(spark, sf_dir, "documents")
    cnt = _pin(
        docs.select("source", F.explode(tokens_expr()).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    head = (
        cnt.groupBy("tok")
        .agg(F.sum("c").cast("bigint").alias("ct"))
        .orderBy(F.desc("ct"), F.asc("tok"))
        .limit(TAIL_HEAD_K)
        .select("tok")
    )
    tail = cnt.join(F.broadcast(head), "tok", "left_anti")
    totals = cnt.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens")
    )
    tails = tail.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("tail_tokens")
    )
    return (
        totals.join(tails, "source", "left")
        .select(
            "source",
            "n_tokens",
            F.coalesce("tail_tokens", F.lit(0)).cast("bigint").alias(
                "tail_tokens"
            ),
            (
                F.coalesce("tail_tokens", F.lit(0)).cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("tail_share"),
        )
    )


TAIL_TOKEN_SHARE_ORACLE = f"""
WITH cnt AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS c FROM (
    SELECT source, unnest({_DUCK_TOKS}) AS tok FROM documents
  ) GROUP BY 1, 2
),
head AS (
  SELECT tok FROM (
    SELECT tok, CAST(sum(c) AS BIGINT) AS ct FROM cnt GROUP BY 1
  ) ORDER BY ct DESC, tok ASC LIMIT {TAIL_HEAD_K}
),
totals AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens FROM cnt GROUP BY 1
),
tails AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS tail_tokens
  FROM cnt WHERE tok NOT IN (SELECT tok FROM head) GROUP BY 1
)
SELECT t.source, t.n_tokens,
       COALESCE(l.tail_tokens, 0) AS tail_tokens,
       CAST(COALESCE(l.tail_tokens, 0) AS DOUBLE)
         / CAST(t.n_tokens AS DOUBLE) AS tail_share
FROM totals t LEFT JOIN tails l ON l.source = t.source
"""


# --------------------------------------------------------------------------
# Log-odds distinctive terms (informative-Dirichlet-prior z-scores)
# --------------------------------------------------------------------------

_LO_ALPHA0 = 500  # Dirichlet prior mass, split over the vocabulary


@query()
def log_odds_terms_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, tok, c_src, c_rest, z): the Monroe/Colaresi/Quinn
    "fightin' words" statistic — for every (source, term) cell, the
    z-scored log-odds of the term in that source versus the REST of
    the corpus, under an informative Dirichlet prior proportional to
    corpus-wide term frequencies (alpha_w = ALPHA0 * c_w / N). The
    standard distinctive-vocabulary report for corpus mixtures: |z|
    > ~2 terms characterize a source; a source with no high-|z|
    terms is stylistically indistinct. The full grid ships (no
    top-k-by-double cut, so the row set is engine-stable and the
    driver hash-checks every cell).

    Exactness: all counts exact integers; the prior, log-odds and
    variance are a fixed flop sequence on those integers (ln/sqrt at
    the boundary only, the zipf_fit discipline).

    Scale: one (source, term) rollup; the z grid is |vocabulary| x
    |sources| — dimension-sized, built by broadcasting the
    vocabulary-level totals onto the per-source panel."""
    docs = tables.table(spark, sf_dir, "documents")
    cnt = _pin(
        docs.select("source", F.explode(tokens_expr()).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    vocab = cnt.groupBy("tok").agg(
        F.sum("c").cast("bigint").alias("cw")
    )
    grand = vocab.agg(F.sum("cw").cast("bigint").alias("n"))
    totals = cnt.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("ns")
    )
    # zero-filled full grid: sources x vocabulary
    grid = (
        vocab.crossJoin(F.broadcast(totals))
        .join(cnt, ["source", "tok"], "left")
        .select(
            "source",
            "tok",
            "cw",
            "ns",
            F.coalesce("c", F.lit(0)).cast("bigint").alias("c"),
        )
        .crossJoin(F.broadcast(grand))
    )
    aw = F.lit(float(_LO_ALPHA0)) * F.col("cw").cast("double") / F.col(
        "n"
    ).cast("double")
    ys = F.col("c").cast("double") + aw
    ns_tot = F.col("ns").cast("double") + F.lit(float(_LO_ALPHA0))
    yr = (F.col("cw") - F.col("c")).cast("double") + aw
    nr_tot = (F.col("n") - F.col("ns")).cast("double") + F.lit(
        float(_LO_ALPHA0)
    )
    delta = (
        F.log(ys / (ns_tot - ys)) - F.log(yr / (nr_tot - yr))
    )
    var = F.lit(1.0) / ys + F.lit(1.0) / yr
    # Domain guard (r09 ADVICE): ns_tot - ys = (ns - c) + (A - aw) hits
    # 0 only in the degenerate cell where a source consists solely of
    # one term that is also the entire vocabulary (ns == c, cw == n);
    # symmetrically nr_tot - yr for the rest-corpus. ln(0) is -Inf in
    # Spark but an error/NULL path in DuckDB, so the guarded cell emits
    # NULL in BOTH engines and the hash stays engine-stable.
    z = F.when((ns_tot > ys) & (nr_tot > yr), delta / F.sqrt(var))
    return grid.select(
        "source",
        "tok",
        F.col("c").alias("c_src"),
        (F.col("cw") - F.col("c")).cast("bigint").alias("c_rest"),
        z.alias("z"),
    )


LOG_ODDS_TERMS_ORACLE = f"""
WITH cnt AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS c FROM (
    SELECT source, unnest({_DUCK_TOKS}) AS tok FROM documents
  ) GROUP BY 1, 2
),
vocab AS (
  SELECT tok, CAST(sum(c) AS BIGINT) AS cw FROM cnt GROUP BY 1
),
grand AS (SELECT CAST(sum(cw) AS BIGINT) AS n FROM vocab),
totals AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM cnt GROUP BY 1
),
grid AS (
  SELECT t.source, v.tok, v.cw, t.ns,
         COALESCE(c.c, 0) AS c, g.n
  FROM vocab v
  CROSS JOIN totals t
  LEFT JOIN cnt c ON c.source = t.source AND c.tok = v.tok
  CROSS JOIN grand g
)
SELECT source, tok, c_src, c_rest,
       CASE WHEN ns_tot > ys AND nr_tot > yr
            THEN (ln(ys / (ns_tot - ys)) - ln(yr / (nr_tot - yr)))
                 / sqrt(1.0 / ys + 1.0 / yr)
            ELSE NULL END AS z
FROM (
  SELECT source, tok, c AS c_src, cw - c AS c_rest,
         CAST(c AS DOUBLE)
           + {float(_LO_ALPHA0)!r} * CAST(cw AS DOUBLE)
             / CAST(n AS DOUBLE) AS ys,
         CAST(ns AS DOUBLE) + {float(_LO_ALPHA0)!r} AS ns_tot,
         CAST(cw - c AS DOUBLE)
           + {float(_LO_ALPHA0)!r} * CAST(cw AS DOUBLE)
             / CAST(n AS DOUBLE) AS yr,
         CAST(n - ns AS DOUBLE) + {float(_LO_ALPHA0)!r} AS nr_tot
  FROM grid
)
"""

"""Text analysis for training-data pipelines: language ID, quality
scoring, token counting, document fingerprinting.

All four are single-pass, shuffle-free per-document column expressions
(whole-stage codegen, no UDFs) — at 100 TB they run at parquet-scan
speed. Only lang-ID aggregates (over the *exploded* token stream,
partial-aggregated before its one shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import tables
from ..registry import query

# Tiny per-language stopword lists for the n-gram/stopword heuristic.
# Order matters: it is the deterministic tie-break (first wins).
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "es": ("el", "la", "de", "los", "y", "que", "en"),
    "de": ("der", "die", "das", "und", "ein", "zu", "ist"),
    "fr": ("le", "les", "des", "et", "un", "une", "est"),
}

_EN_STOPWORDS = LANG_STOPWORDS["en"]


def _sql_list(words: tuple[str, ...]) -> str:
    return ", ".join(f"'{w}'" for w in words)


def tokens_expr(text_col: str = "text") -> F.Column:
    """Non-empty lowercase word tokens (same split as wordcount)."""
    return F.filter(
        F.split(F.lower(F.col(text_col)), r"\W+"), lambda x: x != F.lit("")
    )


# --------------------------------------------------------------------------
# Quality scoring
# --------------------------------------------------------------------------

def quality_score_expr(text_col: str = "text") -> F.Column:
    """The composite quality score as ONE column expression — shared
    by the batch query below and the streaming corpus filter
    (``streaming/pipeline.streaming_corpus_filter``), so both
    execution modes score documents with literally the same plan
    fragment."""
    toks = tokens_expr(text_col)
    n_tokens = F.size(toks)
    stop_hits = F.size(F.filter(toks, lambda x: x.isin(*_EN_STOPWORDS)))
    n_chars = F.length(text_col)
    alpha_chars = F.length(
        F.regexp_replace(F.col(text_col), r"[^A-Za-z]", "")
    )
    return (
        F.lit(0.4) * F.least(F.lit(1.0), n_tokens.cast("double") / F.lit(50.0))
        + F.lit(0.3) * (alpha_chars.cast("double") / n_chars)
        + F.lit(0.3) * (F.lit(1.0) - stop_hits.cast("double") / n_tokens)
    )


def pred_lang_expr(text_col: str = "text") -> F.Column:
    """Predicted language as one column expression (stopword-hit
    heuristic, deterministic declaration-order tie-break, 'und' for
    zero hits) — shared by lang_id_query and the streaming filter."""
    toks = tokens_expr(text_col)

    def _hits(words: tuple[str, ...]) -> F.Column:
        return F.size(F.filter(toks, lambda x: x.isin(*words)))

    scores = {lang: _hits(words) for lang, words in LANG_STOPWORDS.items()}
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    for lang in reversed(list(LANG_STOPWORDS)):
        pred = F.when(
            (best > 0) & (scores[lang] == best), F.lit(lang)
        ).otherwise(pred)
    return pred


@query()
def quality_score_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features + a composite score.

    Features are exact integers (lengths, counts); the score combines
    them with fixed double arithmetic, so results are reproducible
    bit-for-bit across engines and partitionings.
    """
    docs = tables.spread(tables.table(spark, sf_dir, "documents"), "doc_id")
    toks = tokens_expr()
    n_tokens = F.size(toks)
    token_chars = F.aggregate(
        F.transform(toks, F.length), F.lit(0), lambda acc, x: acc + x
    )
    stop_hits = F.size(
        F.filter(toks, lambda x: x.isin(*_EN_STOPWORDS))
    )
    n_chars = F.length("text")
    alpha_chars = F.length(F.regexp_replace(F.col("text"), r"[^A-Za-z]", ""))
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_chars_actual"),
        (token_chars.cast("double") / n_tokens).alias("avg_token_len"),
        (stop_hits.cast("double") / n_tokens).alias("stopword_ratio"),
        (alpha_chars.cast("double") / n_chars).alias("alpha_ratio"),
        quality_score_expr().alias("quality_score"),
    )


QUALITY_SCORE_ORACLE = f"""
WITH base AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(lower(text), '\\W+'),
                     x -> x <> '') AS toks,
         length(text) AS n_chars_actual,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha_chars
  FROM documents
),
feat AS (
  SELECT doc_id, n_chars_actual, alpha_chars,
         len(toks) AS n_tokens,
         list_sum(list_transform(toks, x -> length(x))) AS token_chars,
         len(list_filter(toks, x -> x IN ({_sql_list(_EN_STOPWORDS)}))) AS stop_hits
  FROM base
)
SELECT doc_id, n_tokens, n_chars_actual,
       CAST(token_chars AS DOUBLE) / n_tokens AS avg_token_len,
       CAST(stop_hits AS DOUBLE) / n_tokens AS stopword_ratio,
       CAST(alpha_chars AS DOUBLE) / n_chars_actual AS alpha_ratio,
       0.4 * least(1.0, CAST(n_tokens AS DOUBLE) / 50.0)
         + 0.3 * (CAST(alpha_chars AS DOUBLE) / n_chars_actual)
         + 0.3 * (1.0 - CAST(stop_hits AS DOUBLE) / n_tokens) AS quality_score
FROM feat
"""


# --------------------------------------------------------------------------
# Token counting (whitespace + BPE-ish regex)
# --------------------------------------------------------------------------

_BPE_PATTERN = r"[a-z]+|[0-9]|[^a-z0-9\s]"


@query()
def token_count_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables.spread(tables.table(spark, sf_dir, "documents"), "doc_id")
    # Spark SQL string literals process backslash escapes ('\s' -> 's'),
    # so the regex needs doubled backslashes there; DuckDB keeps them.
    spark_pattern = _BPE_PATTERN.replace("\\", "\\\\")
    return docs.select(
        "doc_id",
        F.size(tokens_expr()).alias("ws_tokens"),
        F.size(
            F.expr(f"regexp_extract_all(lower(text), '{spark_pattern}', 0)")
        ).alias("bpe_tokens"),
    )


TOKEN_COUNT_ORACLE = f"""
SELECT doc_id,
       len(list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> ''))
           AS ws_tokens,
       len(regexp_extract_all(lower(text), '{_BPE_PATTERN}')) AS bpe_tokens
FROM documents
"""


# --------------------------------------------------------------------------
# Document fingerprint (normalization + md5)
# --------------------------------------------------------------------------

def fingerprint_expr(text_col: str = "text") -> F.Column:
    normalized = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return F.md5(normalized)


@query(name="doc_fingerprint")
def fingerprint_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables.spread(tables.table(spark, sf_dir, "documents"), "doc_id")
    return docs.select("doc_id", fingerprint_expr().alias("fingerprint"))


FINGERPRINT_ORACLE = """
SELECT doc_id,
       md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
FROM documents
"""


# --------------------------------------------------------------------------
# Language identification (stopword-hit heuristic)
# --------------------------------------------------------------------------

@query()
def lang_id_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predict language as the stopword list with the most token hits;
    ties and zero-hit documents resolve deterministically (declaration
    order, then 'und' for undetermined)."""
    docs = tables.spread(tables.table(spark, sf_dir, "documents"), "doc_id")
    toks = tokens_expr()

    def _hits(words: tuple[str, ...]) -> F.Column:
        # Single-param lambda: a second (defaulted) param would make
        # PySpark treat it as an (element, index) lambda.
        return F.size(F.filter(toks, lambda x: x.isin(*words)))

    scores = {lang: _hits(words) for lang, words in LANG_STOPWORDS.items()}
    sel = [F.col("doc_id")]
    sel += [scores[lang].alias(f"score_{lang}") for lang in LANG_STOPWORDS]
    sel.append(pred_lang_expr().alias("pred_lang"))
    return docs.select(*sel)


def _lang_score_duck(lang: str) -> str:
    return (
        "len(list_filter(toks, x -> x IN "
        f"({_sql_list(LANG_STOPWORDS[lang])})))"
    )


LANG_ID_ORACLE = f"""
WITH scored AS (
  SELECT doc_id,
         {", ".join(f"{_lang_score_duck(lang)} AS score_{lang}" for lang in LANG_STOPWORDS)}
  FROM (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS toks
    FROM documents
  )
)
SELECT doc_id, {", ".join(f"score_{lang}" for lang in LANG_STOPWORDS)},
       CASE
         WHEN greatest({", ".join(f"score_{lang}" for lang in LANG_STOPWORDS)}) = 0 THEN 'und'
         {" ".join(f"WHEN score_{lang} = greatest({', '.join(f'score_{x}' for x in LANG_STOPWORDS)}) THEN '{lang}'" for lang in LANG_STOPWORDS)}
       END AS pred_lang
FROM scored
"""


# --------------------------------------------------------------------------
# TF-IDF top terms per document
# --------------------------------------------------------------------------

TFIDF_TOP_K = 3


@query()
def tfidf_top_terms_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 terms per document by tf-idf.

    Uses the *linear* idf variant ``idf = N / df`` rather than
    ``ln(N/df)``: IEEE multiply/divide are correctly-rounded (so the
    DuckDB oracle hash-matches bit-for-bit), while ``ln`` differs
    between libm implementations in the last ulp (measured: Spark
    ln(3.0) = ...96, DuckDB = ...98). The ranking pipeline — explode,
    tf per (doc, term), df per term, broadcast-joined corpus size,
    windowed top-k — is identical either way; swap the idf expression
    to ``ln`` when cross-engine bit-equality is not a requirement.

    Scale: tf and df are partial-aggregatable counts; df and N are
    tiny (vocabulary-sized / scalar) so both join broadcast; the only
    big shuffles are the tf groupBy and the per-doc window. The tf
    subtree feeds both the df rollup and the scored join; profiling
    history: round 2 pinned it (1.31s) after an unpinned regression
    (2.06s), but by round 4 the pin itself was the cost — cache
    materialization + read-back measured 1.45s solo at sf0.1 vs
    1.06-1.12s letting both consumers re-derive (the scan+tokenize is
    two cheap column-pruned passes). At cluster scale the equivalent
    choice is writing tf to a parquet stage table vs rescanning; the
    crossover is corpus-size-dependent and this form takes the
    rescan side, which is also the plan with zero cached state."""
    docs = tables.spread(tables.table(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select(
        "doc_id", F.explode(tokens_expr()).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.select(F.count(F.lit(1)).alias("n_docs"))
    from pyspark.sql import Window

    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.col("tf").cast("double")
            * (F.col("n_docs").cast("double") / F.col("df").cast("double")),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tf", "df", "tfidf", "rank")
    )


TFIDF_TOP_TERMS_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\\W+'),
                            x -> x <> '')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT doc_id, term, tf, df, tfidf, rank FROM (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         CAST(tf.tf AS DOUBLE) * (CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE))
             AS tfidf,
         row_number() OVER (
           PARTITION BY tf.doc_id
           ORDER BY CAST(tf.tf AS DOUBLE)
                    * (CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)) DESC,
                    tf.term
         ) AS rank
  FROM tf JOIN df USING (term) CROSS JOIN n
)
WHERE rank <= {TFIDF_TOP_K}
"""


# --------------------------------------------------------------------------
# Text cleaning (normalization pass)
# --------------------------------------------------------------------------

@query()
def clean_text_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization pass every corpus gets before tokenization:
    collapse whitespace runs, strip leading/trailing space, lowercase.
    Emitted as (doc_id, cleaned-hash, before/after lengths) so the
    oracle hashes scalars; the expression itself is the reusable
    piece. Single-pass, shuffle-free, codegen'd."""
    docs = tables.spread(tables.table(spark, sf_dir, "documents"), "doc_id")
    cleaned = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    return docs.select(
        "doc_id",
        F.length("text").alias("len_raw"),
        F.length(cleaned).alias("len_clean"),
        F.md5(cleaned).alias("clean_md5"),
    )


CLEAN_TEXT_ORACLE = """
SELECT doc_id,
       length(text) AS len_raw,
       length(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS len_clean,
       md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS clean_md5
FROM documents
"""


# --------------------------------------------------------------------------
# PII scan (regex detectors)
# --------------------------------------------------------------------------

_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_URL_RE = r"https?://[^\s]+"
_LONGNUM_RE = r"[0-9]{6,}"


@query()
def pii_scan_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document PII indicator counts (emails, URLs, long digit
    runs) — the redaction pre-pass of a training pipeline. Pure
    regexp_extract_all counts: single-pass, no UDF. The patterns are
    deliberately simple/portable (same semantics in Java regex and
    DuckDB's RE2); a production pass swaps in a vetted detector
    library behind the same (doc_id -> counts) contract."""
    docs = tables.spread(tables.table(spark, sf_dir, "documents"), "doc_id")

    def n(pattern: str) -> F.Column:
        escaped = pattern.replace("\\", "\\\\")
        return F.size(F.expr(f"regexp_extract_all(text, '{escaped}', 0)"))

    return docs.select(
        "doc_id",
        n(_EMAIL_RE).alias("n_emails"),
        n(_URL_RE).alias("n_urls"),
        n(_LONGNUM_RE).alias("n_long_numbers"),
    )


PII_SCAN_ORACLE = f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails,
       len(regexp_extract_all(text, '{_URL_RE}')) AS n_urls,
       len(regexp_extract_all(text, '{_LONGNUM_RE}')) AS n_long_numbers
FROM documents
"""


# --------------------------------------------------------------------------
# Document chunking (overlapping token windows for context-length prep)
# --------------------------------------------------------------------------

_CHUNK_SIZE = 50
_CHUNK_STRIDE = 40


@query()
def doc_chunks_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split each document into overlapping token windows (size 50,
    stride 40 -> 10-token overlap) — the standard context-window prep
    step before tokenizer/packing stages.

    Entirely JVM-side: tokenize once, explode a `sequence` of window
    starts, `slice` the shared token array per start. Rows fan out
    ~n_tokens/stride per doc with no shuffle at all — the explode is
    map-local, so the operation scales linearly and partitions stay
    independent (a doc's chunks are computed where the doc lives)."""
    docs = tables.spread(tables.table(spark, sf_dir, "documents"), "doc_id")
    return (
        docs.select("doc_id", tokens_expr().alias("toks"))
        .filter(F.size("toks") > 0)
        .withColumn(
            "start",
            F.explode(F.expr(f"sequence(0, size(toks) - 1, {_CHUNK_STRIDE})")),
        )
        .select(
            "doc_id",
            F.expr(f"start div {_CHUNK_STRIDE}").alias("chunk_idx"),
            F.size(F.expr(f"slice(toks, start + 1, {_CHUNK_SIZE})"))
            .cast("long")
            .alias("n_tokens"),
            F.array_join(
                F.expr(f"slice(toks, start + 1, {_CHUNK_SIZE})"), " "
            ).alias("chunk_text"),
        )
    )


DOC_CHUNKS_ORACLE = f"""
WITH t AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '')
               AS toks
    FROM documents
), s AS (
    SELECT doc_id, toks,
           unnest(range(0, len(toks), {_CHUNK_STRIDE})) AS start
    FROM t WHERE len(toks) > 0
)
SELECT doc_id,
       start // {_CHUNK_STRIDE} AS chunk_idx,
       len(list_slice(toks, start + 1, start + {_CHUNK_SIZE})) AS n_tokens,
       array_to_string(list_slice(toks, start + 1, start + {_CHUNK_SIZE}), ' ')
           AS chunk_text
FROM s
"""


# --------------------------------------------------------------------------
# BM25 ranked retrieval (text-side similarity search)
# --------------------------------------------------------------------------

_BM25_TERMS = ("join", "vector", "stream")

# One formula string evaluated by BOTH engines (Spark's F.expr and the
# DuckDB oracle share arithmetic syntax), so the float operation order
# is literally identical and the scores hash-match bit-for-bit. Linear
# idf (no log — transcendentals differ in the last ulp across engines,
# same reason tf-idf above uses N/df); k1 = 1.2, b = 0.75.
_BM25_TERM_EXPR = (
    "(({n} - df_{t} + 0.5) / (df_{t} + 0.5))"
    " * ((tf_{t} * 2.2) / (tf_{t} + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))"
)


def _bm25_score_sql() -> str:
    return " + ".join(
        _BM25_TERM_EXPR.format(n="n_docs", t=t) for t in _BM25_TERMS
    )


@query()
def bm25_search_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents for a fixed conjunctive term query, scored with
    BM25. The classic two-pass shape: pass 1 aggregates corpus stats
    (N, avg doc length, per-term document frequencies) into ONE row;
    pass 2 re-scans documents and scores each against the broadcast
    stats row — so at 100 TB the only data movement is the top-k merge
    (TakeOrderedAndProject: per-partition heap of 10, driver merge),
    never a global sort. The fixed per-term sum keeps float addition
    order identical across engines and partitionings."""
    docs = tables.spread(tables.table(spark, sf_dir, "documents"), "doc_id")
    per_doc = docs.select("doc_id", tokens_expr().alias("toks")).select(
        "doc_id",
        F.size("toks").alias("dl"),
        *[
            F.expr(f"size(filter(toks, x -> x = '{t}'))").alias(f"tf_{t}")
            for t in _BM25_TERMS
        ],
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{t}") > 0).cast("long")).alias(f"df_{t}")
            for t in _BM25_TERMS
        ],
    )
    return (
        per_doc.crossJoin(F.broadcast(stats))
        .select("doc_id", F.expr(_bm25_score_sql()).alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col("doc_id"))
        .limit(10)
    )


def _bm25_oracle() -> str:
    tf_cols = ",\n           ".join(
        f"len(list_filter(toks, x -> x = '{t}')) AS tf_{t}" for t in _BM25_TERMS
    )
    df_cols = ",\n           ".join(
        f"SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS df_{t}"
        for t in _BM25_TERMS
    )
    return f"""
WITH t AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '')
               AS toks
    FROM documents
), d AS (
    SELECT doc_id, len(toks) AS dl,
           {tf_cols}
    FROM t
), s AS (
    SELECT COUNT(*) AS n_docs,
           CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
           {df_cols}
    FROM d
)
SELECT doc_id, {_bm25_score_sql()} AS bm25
FROM d, s
ORDER BY bm25 DESC, doc_id
LIMIT 10
"""


BM25_SEARCH_ORACLE = _bm25_oracle()


# --------------------------------------------------------------------------
# Sequence packing (chunks -> fixed token-budget training bins)
# --------------------------------------------------------------------------

_PACK_BUDGET = 256


@query()
def chunk_packing_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign each chunk to a training-sequence bin under a 256-token
    budget: contiguous fill in (doc_id, chunk_idx) order, new bin when
    the running total would overflow the budget. bin = floor(exclusive
    running token count / budget) — the deterministic, declarative
    variant of greedy packing (bins can span a boundary chunk's worth
    of slack, the usual trade for a single-pass rule).

    Packing is per `source` shard: the running sum is a window over
    (source), so each shard packs independently — at 100 TB the shard
    key is whatever unit you want sequences not to cross (corpus,
    date, tenant), and shards parallelize perfectly; there is no
    global sequential state."""
    from pyspark.sql import Window

    chunks = doc_chunks_query(spark, sf_dir)
    docs = tables.table(spark, sf_dir, "documents").select("doc_id", "source")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id", "chunk_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        chunks.join(docs, "doc_id")
        .withColumn("running", F.sum("n_tokens").over(w))
        .select(
            "source",
            "doc_id",
            "chunk_idx",
            "n_tokens",
            F.expr(f"(running - n_tokens) div {_PACK_BUDGET}").alias("bin_id"),
        )
    )


CHUNK_PACKING_ORACLE = f"""
WITH t AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '')
               AS toks
    FROM documents
), s AS (
    SELECT doc_id, toks,
           unnest(range(0, len(toks), {_CHUNK_STRIDE})) AS start
    FROM t WHERE len(toks) > 0
), c AS (
    SELECT doc_id,
           start // {_CHUNK_STRIDE} AS chunk_idx,
           len(list_slice(toks, start + 1, start + {_CHUNK_SIZE})) AS n_tokens
    FROM s
)
SELECT d.source, c.doc_id, c.chunk_idx, c.n_tokens,
       CAST((SUM(c.n_tokens) OVER (
            PARTITION BY d.source ORDER BY c.doc_id, c.chunk_idx
            ROWS UNBOUNDED PRECEDING) - c.n_tokens) // {_PACK_BUDGET}
            AS BIGINT) AS bin_id
FROM c JOIN documents d ON c.doc_id = d.doc_id
"""


# --------------------------------------------------------------------------
# Gopher-style quality gate (repetition + shape signals, map-local)
# --------------------------------------------------------------------------

# Thresholds tuned so the keep rule actually discriminates on the
# driver data (n_words spans 10-99, dup fraction 0-0.72): real Gopher
# rules (Rae et al. 2021, Table A1) use the same signal family with
# corpus-specific bounds.
_GOPHER_MIN_WORDS = 20
_GOPHER_MAX_WORDS = 100_000
_GOPHER_MIN_MWL = 3.0
_GOPHER_MAX_MWL = 10.0
_GOPHER_MAX_DUP_FRAC = 0.6


@query()
def gopher_quality_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style per-document quality gate: word count, mean word
    length, duplicate-word fraction, longest word — and the composite
    keep/drop decision.

    All signals are map-local column expressions over the token array
    (no explode, no shuffle): at 100 TB this runs at parquet-scan
    speed, which is exactly why production filters (Gopher, C4,
    FineWeb) are expressed this way. The duplicate fraction is
    1 - distinct/total over whole words — the word-level analog of
    Gopher's duplicate-line fraction (this corpus has no line
    structure).
    """
    docs = tables.spread(tables.table(spark, sf_dir, "documents"), "doc_id")
    toks = tokens_expr()
    n_words = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    total_chars = F.aggregate(
        F.transform(toks, F.length), F.lit(0), lambda a, x: a + x
    )
    mwl = total_chars.cast("double") / n_words
    dup_frac = F.lit(1.0) - n_distinct.cast("double") / n_words
    keep = (
        (n_words >= _GOPHER_MIN_WORDS)
        & (n_words <= _GOPHER_MAX_WORDS)
        & (mwl >= _GOPHER_MIN_MWL)
        & (mwl <= _GOPHER_MAX_MWL)
        & (dup_frac < _GOPHER_MAX_DUP_FRAC)
    )
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_distinct.alias("n_distinct_words"),
        mwl.alias("mean_word_len"),
        dup_frac.alias("dup_word_frac"),
        F.array_max(F.transform(toks, F.length)).alias("longest_word"),
        keep.alias("gopher_keep"),
    )


GOPHER_QUALITY_ORACLE = f"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '')
             AS toks
  FROM documents
), f AS (
  SELECT doc_id,
         len(toks) AS n_words,
         len(list_distinct(toks)) AS n_distinct_words,
         CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
             / len(toks) AS mean_word_len,
         1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
             AS dup_word_frac,
         list_max(list_transform(toks, x -> length(x))) AS longest_word
  FROM base
)
SELECT doc_id, n_words, n_distinct_words, mean_word_len, dup_word_frac,
       longest_word,
       (n_words >= {_GOPHER_MIN_WORDS} AND n_words <= {_GOPHER_MAX_WORDS}
        AND mean_word_len >= {_GOPHER_MIN_MWL}
        AND mean_word_len <= {_GOPHER_MAX_MWL}
        AND dup_word_frac < {_GOPHER_MAX_DUP_FRAC}) AS gopher_keep
FROM f
"""


# --------------------------------------------------------------------------
# Per-document n-gram repetition (top-bigram fraction)
# --------------------------------------------------------------------------


_BIGRAMS_FROM_TOKS = (
    "transform(sequence(1, size(toks) - 1),"
    " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
)


def _bigrams_col() -> F.Column:
    """Word bigrams as 'w1 w2' strings over a ``toks`` column; empty
    array when < 2 tokens (guarded: sequence(1, 0) would count DOWN,
    not produce empty)."""
    return F.when(F.size("toks") >= 2, F.expr(_BIGRAMS_FROM_TOKS)).otherwise(
        F.array().cast("array<string>")
    )


@query()
def doc_repetition_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: how much of it is one repeated bigram (the
    top-n-gram fraction from Gopher's repetition filters).

    Distributed shape: explode bigrams -> count per (doc, bigram) ->
    per-doc max/total. Both aggregations partial-aggregate before
    their shuffle, and the shuffled rows are (doc_id, bigram, cnt)
    triples — linear in corpus size, never quadratic. Tie on the max
    count resolves to the lexicographically smallest bigram on both
    engines (deterministic, unlike max_by/arg_max on ties).
    """
    from pyspark.sql import Window

    docs = tables.spread(tables.table(spark, sf_dir, "documents"), "doc_id")
    counts = (
        docs.select("doc_id", tokens_expr().alias("toks"))
        .select("doc_id", F.explode(_bigrams_col()).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("doc_id")
    return (
        counts.withColumn("mx", F.max("cnt").over(w))
        .withColumn("n_bigrams", F.sum("cnt").over(w))
        .filter(F.col("cnt") == F.col("mx"))
        .groupBy("doc_id")
        .agg(
            F.min("bigram").alias("top_bigram"),
            F.max("mx").alias("top_count"),
            F.max("n_bigrams").alias("n_bigrams"),
        )
        .select(
            "doc_id",
            "top_bigram",
            "top_count",
            "n_bigrams",
            (F.col("top_count").cast("double") / F.col("n_bigrams")).alias(
                "top_bigram_frac"
            ),
        )
    )


DOC_REPETITION_ORACLE = """
WITH base AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '')
             AS toks
  FROM documents
), bg AS (
  SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS bigram
  FROM base, UNNEST(range(1, len(toks))) AS t(i)
), counts AS (
  SELECT doc_id, bigram, COUNT(*) AS cnt
  FROM bg GROUP BY 1, 2
), win AS (
  SELECT doc_id, bigram, cnt,
         MAX(cnt) OVER (PARTITION BY doc_id) AS mx,
         SUM(cnt) OVER (PARTITION BY doc_id) AS total
  FROM counts
)
SELECT doc_id,
       MIN(bigram) AS top_bigram,
       CAST(MAX(mx) AS BIGINT) AS top_count,
       CAST(MAX(total) AS BIGINT) AS n_bigrams,
       CAST(MAX(mx) AS DOUBLE) / MAX(total) AS top_bigram_frac
FROM win
WHERE cnt = mx
GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# Vocabulary coverage (tokenizer-design feedback: cumulative frequency)
# --------------------------------------------------------------------------

VOCAB_TOP = 100


@query()
def vocab_coverage_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 corpus tokens with the cumulative fraction of all token
    occurrences they cover — the curve a tokenizer/vocab designer reads
    to pick a vocabulary size ("how many types cover 95% of tokens?").

    Determinism: the coverage fraction divides two exact BIGINT counts
    (window cumsum over a total order: count DESC, token ASC), and one
    correctly-rounded double division per row cross-engine-matches
    bit-for-bit.

    Scale: the corpus-wide explode feeds a partial-aggregatable count,
    so the shuffle carries one row per distinct TOKEN (vocabulary-
    sized, not corpus-sized). Top-VOCAB_TOP selection is
    orderBy().limit() — Spark plans TakeOrderedAndProject
    (per-partition heaps of 100 + a driver merge of 100), NEVER a
    vocabulary-wide single-partition sort (the round-4 fix: the old
    row_number-then-filter form sorted the whole vocabulary in one
    task to keep 100 rows). Rank and cumsum windows then run over the
    100 survivors only.
    """
    from pyspark.sql import Window

    docs = tables.spread(tables.table(spark, sf_dir, "documents"), "doc_id")
    counts = (
        docs.select(F.explode(tokens_expr()).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = counts.agg(F.sum("cnt").cast("bigint").alias("total_tokens"))
    w_rank = Window.orderBy(F.col("cnt").desc(), "token")
    top = (
        counts.orderBy(F.col("cnt").desc(), "token")
        .limit(VOCAB_TOP)
        .withColumn("vocab_rank", F.row_number().over(w_rank))
    )
    w_cum = Window.orderBy("vocab_rank").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        top.withColumn("cum_cnt", F.sum("cnt").over(w_cum))
        .crossJoin(F.broadcast(total))
        .select(
            "token",
            "cnt",
            "vocab_rank",
            (
                F.col("cum_cnt").cast("double")
                / F.col("total_tokens").cast("double")
            ).alias("cum_coverage"),
        )
    )


VOCAB_COVERAGE_ORACLE = f"""
WITH toks AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '\\W+'),
                            x -> x <> '')) AS token
  FROM documents
),
counts AS (SELECT token, count(*) AS cnt FROM toks GROUP BY 1),
ranked AS (
  SELECT token, cnt,
         CAST(row_number() OVER (ORDER BY cnt DESC, token) AS INTEGER)
             AS vocab_rank
  FROM counts
)
SELECT token, cnt, vocab_rank,
       CAST(SUM(cnt) OVER (ORDER BY vocab_rank) AS DOUBLE)
           / CAST((SELECT SUM(cnt) FROM counts) AS DOUBLE) AS cum_coverage
FROM ranked
WHERE vocab_rank <= {VOCAB_TOP}
"""


# --------------------------------------------------------------------------
# Per-source corpus profile (the dataset-card table)
# --------------------------------------------------------------------------


@query()
def source_profile_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per source: document count, token volume, language
    spread, mean length, and exact-duplicate rate — the summary table
    a dataset card (or a mixture-weight decision) starts from.

    The duplicate rate reuses the ``doc_fingerprint`` normalization
    (md5 of whitespace-collapsed lowercased text): a document counts
    as duplicated when its fingerprint occurs more than once ANYWHERE
    in the corpus, so a source that plagiarizes another source is
    charged for it even if each source is internally unique.

    Determinism: every emitted number is either an exact count or one
    correctly-rounded division of exact counts. Scale: the fingerprint
    multiplicity is a window keyed on the digest (digest-width
    shuffle); the per-source rollup is partial-aggregatable; language
    spread uses count(DISTINCT lang) over a handful of values.
    """
    from pyspark.sql import Window

    docs = tables.spread(tables.table(spark, sf_dir, "documents"), "doc_id")
    normalized = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    fp = docs.withColumn("fp", F.md5(normalized)).withColumn(
        "n_tokens", F.size(tokens_expr()).cast("bigint")
    )
    w_fp = Window.partitionBy("fp")
    flagged = fp.withColumn("fp_n", F.count(F.lit(1)).over(w_fp))
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.sum(F.when(F.col("fp_n") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("dup_docs"),
        )
        .select(
            "source",
            "n_docs",
            "total_tokens",
            "n_langs",
            (
                F.col("total_chars").cast("double")
                / F.col("n_docs").cast("double")
            ).alias("avg_chars"),
            (
                F.col("dup_docs").cast("double") / F.col("n_docs").cast("double")
            ).alias("dup_rate"),
        )
    )


SOURCE_PROFILE_ORACLE = """
WITH fp AS (
  SELECT source, lang, n_chars,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
         len(list_filter(string_split_regex(lower(text), '\\W+'),
                         x -> x <> '')) AS n_tokens
  FROM documents
),
flagged AS (
  SELECT source, lang, n_chars, n_tokens,
         COUNT(*) OVER (PARTITION BY fp) AS fp_n
  FROM fp
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_chars,
       CAST(SUM(CASE WHEN fp_n > 1 THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS dup_rate
FROM flagged
GROUP BY source
"""


# --------------------------------------------------------------------------
# Cross-source duplicate overlap (who plagiarizes whom)
# --------------------------------------------------------------------------


@query()
def source_overlap_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-overlap matrix: for each unordered source pair,
    how many distinct normalized fingerprints appear in BOTH — the
    drill-down behind source_profile's dup_rate (which source is
    copying which decides who gets dropped from the mixture).

    The self-join keys on the fingerprint digest after reducing to
    distinct (fp, source) rows, so fan-out is bounded by per-digest
    source multiplicity (<= |sources|, 20 here), never document
    multiplicity; the pair count is partial-aggregatable.
    """
    docs = tables.spread(tables.table(spark, sf_dir, "documents"), "doc_id")
    normalized = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    fps = (
        docs.select(F.md5(normalized).alias("fp"), "source").distinct()
    )
    a = fps.select(F.col("fp"), F.col("source").alias("source_a"))
    b = fps.select(F.col("fp"), F.col("source").alias("source_b"))
    return (
        a.join(b, "fp")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_fps"))
    )


SOURCE_OVERLAP_ORACLE = """
WITH fps AS (
  SELECT DISTINCT
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
         source
  FROM documents
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(count(*) AS BIGINT) AS shared_fps
FROM fps a
JOIN fps b ON b.fp = a.fp AND a.source < b.source
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# BPE merge-candidate counting (one tokenizer-training inner step)
# --------------------------------------------------------------------------

BPE_TOP_MERGES = 20


@query()
def bpe_merge_candidates_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top adjacent-character-pair merge candidates weighted by word
    frequency — the inner loop of BPE tokenizer training (each
    training step merges the heaviest pair; this computes one step's
    candidate table over the corpus).

    An adjacent symbol pair IS a 2-character substring, so the pair
    explosion is substr(word, i, 2) over i = 1..len-1 — no array
    construction at all. Weighting by the word-frequency table (not
    raw occurrences) matches how BPE training compresses its corpus:
    the explode runs over the VOCABULARY (distinct words), and the
    corpus-sized work is just the wordcount shuffle.

    Determinism: counts are exact BIGINTs; top-k ordering breaks ties
    on the pair string, so both engines emit identical rows.
    """
    from pyspark.sql import Window

    docs = tables.spread(tables.table(spark, sf_dir, "documents"), "doc_id")
    words = (
        docs.select(F.explode(tokens_expr()).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.length("word") >= 2)
    )
    pairs = words.select(
        "freq",
        F.explode(
            F.expr("sequence(1, length(word) - 1)")
        ).alias("i"),
        F.col("word"),
    ).select(F.expr("substring(word, i, 2)").alias("pair"), "freq")
    counted = pairs.groupBy("pair").agg(
        F.sum("freq").cast("bigint").alias("weight")
    )
    w = Window.orderBy(F.col("weight").desc(), "pair")
    return (
        counted.withColumn("merge_rank", F.row_number().over(w))
        .filter(F.col("merge_rank") <= BPE_TOP_MERGES)
    )


BPE_MERGE_CANDIDATES_ORACLE = f"""
WITH words AS (
  SELECT word, count(*) AS freq FROM (
    SELECT unnest(list_filter(string_split_regex(lower(text), '\\W+'),
                              x -> x <> '')) AS word
    FROM documents
  )
  GROUP BY word
  HAVING length(word) >= 2
),
pairs AS (
  SELECT substr(word, CAST(i AS INTEGER), 2) AS pair, freq
  FROM (
    SELECT word, freq, unnest(range(1, length(word))) AS i FROM words
  )
),
counted AS (
  SELECT pair, CAST(SUM(freq) AS BIGINT) AS weight FROM pairs GROUP BY pair
)
SELECT pair, weight,
       CAST(row_number() OVER (ORDER BY weight DESC, pair) AS INTEGER)
           AS merge_rank
FROM counted
QUALIFY merge_rank <= {BPE_TOP_MERGES}
"""


# --------------------------------------------------------------------------
# Unigram token-rarity scoring (the surprisal/perplexity-proxy filter)
# --------------------------------------------------------------------------

_RARITY_SCALE = 1_000_000


@query()
def token_rarity_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean and max unigram token rarity — the
    perplexity-proxy quality filter pretraining pipelines run when no
    model is in the loop: documents whose tokens are improbable under
    the corpus unigram distribution are OCR noise, codes, or gibberish
    (high rarity); boilerplate scores near the minimum.

    Rarity(t) = N_total / count(t) — the LINEAR analog of unigram
    surprisal -log p(t). Linear instead of log for the same reason
    tf-idf here uses linear idf: IEEE divide is correctly rounded so
    the DuckDB oracle matches bit-for-bit, while libm log differs in
    the last ulp between engines; swap in log2 when cross-engine
    equality is not required (the ranking is monotone-identical
    either way). The per-doc mean is a float sum, so each rarity is
    fixed-pointed first (floor(r * 1e6) -> BIGINT, the
    label_centroids contract): the sums are exact and associative,
    and the one double division at the end is correctly rounded.

    Scale: the term-count table is vocabulary-sized and broadcasts
    (the BM25 stats posture); the corpus total derives from it (no
    extra pass). Two passes over the token stream — one to count,
    one to score — and the only shuffles carry (term, count) and
    per-doc aggregate rows.
    """
    from ..pinning import pin as _pin

    docs = tables.spread(tables.table(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select("doc_id", F.explode(tokens_expr()).alias("term"))
    tc = _pin(toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt")))
    total = tc.agg(F.sum("cnt").cast("bigint").alias("total"))
    r_fp = F.floor(
        (F.col("total").cast("double") / F.col("cnt").cast("double"))
        * F.lit(float(_RARITY_SCALE))
    ).cast("long")
    return (
        toks.join(F.broadcast(tc), "term")
        .crossJoin(F.broadcast(total))
        .select("doc_id", r_fp.alias("r_fp"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("r_fp").cast("bigint").alias("sum_fp"),
            F.max("r_fp").alias("max_fp"),
        )
        .select(
            "doc_id",
            "n_tokens",
            (
                F.col("sum_fp").cast("double")
                / (F.col("n_tokens").cast("double") * F.lit(float(_RARITY_SCALE)))
            ).alias("mean_rarity"),
            (F.col("max_fp").cast("double") / F.lit(float(_RARITY_SCALE))).alias(
                "max_rarity"
            ),
        )
    )


TOKEN_RARITY_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\\W+'),
                            x -> x <> '')) AS term
  FROM documents
),
tc AS (SELECT term, count(*) AS cnt FROM toks GROUP BY 1),
n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM tc),
fp AS (
  SELECT t.doc_id,
         CAST(floor((CAST(n.total AS DOUBLE) / CAST(c.cnt AS DOUBLE))
                    * {float(_RARITY_SCALE)}) AS BIGINT) AS r_fp
  FROM toks t JOIN tc c USING (term) CROSS JOIN n
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(CAST(SUM(r_fp) AS BIGINT) AS DOUBLE)
           / (CAST(count(*) AS DOUBLE) * {float(_RARITY_SCALE)})
           AS mean_rarity,
       CAST(MAX(r_fp) AS DOUBLE) / {float(_RARITY_SCALE)} AS max_rarity
FROM fp
GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# Inverted index build (search-serving artifact)
# --------------------------------------------------------------------------

POSTINGS_CAP = 20  # postings materialized per term in the sample column


@query()
def inverted_index_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(term, df, total_tf, postings_head): the posting-list artifact
    a batch index build writes for a search tier — document frequency,
    corpus term frequency, and the first POSTINGS_CAP doc_ids of the
    (sorted) posting list rendered as a comma-joined string.

    Shape: one token explode, one (doc_id, term) partial-aggregated
    count (the per-doc tf), then one term-keyed aggregate producing
    df/total_tf and the capped posting head via sort_array+slice. At
    100 TB the term aggregate is the classic inverted-index shuffle —
    keyed by term, partial-aggregated map-side; the full posting list
    would go to a positional store (per-term files / range-bucketed
    parquet), which is why only a bounded head is materialized in the
    result row: no per-term row is ever wider than
    POSTINGS_CAP * id-width regardless of df. The head is rendered as
    a string so the artifact is engine-portable (and hashable by the
    driver's column-wise compare)."""
    docs = tables.spread(tables.table(spark, sf_dir, "documents"), "doc_id")
    tf = (
        docs.select("doc_id", F.explode(tokens_expr()).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").cast("bigint").alias("total_tf"),
        F.concat_ws(
            ",",
            F.slice(
                F.sort_array(F.collect_list(F.col("doc_id"))),
                1,
                POSTINGS_CAP,
            ).cast("array<string>"),
        ).alias("postings_head"),
    )


INVERTED_INDEX_ORACLE = f"""
WITH tf AS (
  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
  FROM (
    SELECT doc_id,
           unnest(list_filter(string_split_regex(lower(text), '\\W+'),
                              x -> x <> '')) AS term
    FROM documents
  )
  GROUP BY term, doc_id
)
SELECT term,
       CAST(count(*) AS BIGINT) AS df,
       CAST(sum(tf) AS BIGINT) AS total_tf,
       array_to_string(
         list_transform(list_sort(list(doc_id))[1:{POSTINGS_CAP}],
                        x -> CAST(x AS VARCHAR)),
         ',') AS postings_head
FROM tf
GROUP BY term
"""


# --------------------------------------------------------------------------
# Language confusion matrix (declared vs detected)
# --------------------------------------------------------------------------

@query()
def lang_confusion_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(declared_lang, pred_lang, n_docs, share_of_declared): the
    confusion matrix between each document's DECLARED language tag
    (ingest metadata — frequently wrong in crawled corpora) and the
    stopword-detector's prediction. The mislabeling audit a corpus
    intake runs before trusting upstream tags: off-diagonal mass is
    either detector noise (short docs -> 'und') or genuinely
    mislabeled ingest, and both need eyes before language-filtered
    training cuts.

    One scan (lang-id is scan-local), one partial-aggregated (tag,
    pred) groupBy, and the per-declared-tag share joins the tiny
    marginals back — matrix-sized output regardless of corpus."""
    docs = tables.spread(tables.table(spark, sf_dir, "documents"), "doc_id")
    pairs = docs.select(
        F.col("lang").alias("declared_lang"),
        pred_lang_expr().alias("pred_lang"),
    )
    counts = pairs.groupBy("declared_lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    marg = counts.groupBy("declared_lang").agg(
        F.sum("n_docs").cast("bigint").alias("t")
    )
    return counts.join(marg, "declared_lang").select(
        "declared_lang",
        "pred_lang",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        (F.col("n_docs").cast("double") / F.col("t").cast("double")).alias(
            "share_of_declared"
        ),
    )


def _lang_confusion_oracle() -> str:
    scores = ", ".join(
        f"{_lang_score_duck(lang)} AS score_{lang}" for lang in LANG_STOPWORDS
    )
    all_scores = ", ".join(f"score_{lang}" for lang in LANG_STOPWORDS)
    whens = " ".join(
        f"WHEN score_{lang} = greatest({all_scores}) THEN '{lang}'"
        for lang in LANG_STOPWORDS
    )
    return f"""
WITH scored AS (
  SELECT lang AS declared_lang, {scores}
  FROM (
    SELECT lang,
           list_filter(string_split_regex(lower(text), '\\W+'),
                       x -> x <> '') AS toks
    FROM documents
  )
),
pred AS (
  SELECT declared_lang,
         CASE WHEN greatest({all_scores}) = 0 THEN 'und' {whens}
         END AS pred_lang
  FROM scored
),
counts AS (
  SELECT declared_lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
  FROM pred GROUP BY 1, 2
),
marg AS (
  SELECT declared_lang, CAST(sum(n_docs) AS BIGINT) AS t
  FROM counts GROUP BY 1
)
SELECT c.declared_lang, c.pred_lang, c.n_docs,
       CAST(c.n_docs AS DOUBLE) / CAST(m.t AS DOUBLE) AS share_of_declared
FROM counts c JOIN marg m ON m.declared_lang = c.declared_lang
"""


LANG_CONFUSION_ORACLE = _lang_confusion_oracle()


# --------------------------------------------------------------------------
# Distinctive terms per source (lift-ranked)
# --------------------------------------------------------------------------

DISTINCTIVE_TOP_K = 5
DISTINCTIVE_MIN_COUNT = 20


@query()
def source_distinctive_terms_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(source, term, n_in_source, lift, rank): the terms that
    CHARACTERIZE each source — per-source token share divided by
    corpus-wide share (lift), top DISTINCTIVE_TOP_K per source among
    terms with at least DISTINCTIVE_MIN_COUNT in-source occurrences
    (the floor keeps one-off typos from dominating the ratio). The
    "what is this source about" report a corpus intake produces next
    to source_profile's volume numbers; pure rational arithmetic
    (no log-lift — the module's transcendental ban), ties on term.

    One tokenize pass -> (source, term) partial counts; the term
    marginals and source totals re-aggregate that table; the lift
    join is vocabulary-sized; top-k per source is a WindowGroupLimit
    over the (sources x qualifying terms) frame."""
    from ..pinning import pin as _pin

    docs = tables.spread(tables.table(spark, sf_dir, "documents"), "doc_id")
    st = _pin(
        docs.select("source", F.explode(tokens_expr()).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    src_tot = st.groupBy("source").agg(F.sum("n").cast("bigint").alias("s_tot"))
    term_tot = st.groupBy("term").agg(F.sum("n").cast("bigint").alias("t_tot"))
    grand = st.agg(F.sum("n").cast("bigint").alias("g_tot"))
    lift = (
        F.col("n").cast("double") / F.col("s_tot").cast("double")
    ) / (F.col("t_tot").cast("double") / F.col("g_tot").cast("double"))
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(
        F.col("lift").desc(), F.col("term")
    )
    return (
        st.filter(F.col("n") >= DISTINCTIVE_MIN_COUNT)
        .join(src_tot, "source")
        .join(term_tot, "term")
        .crossJoin(F.broadcast(grand))
        .select(
            "source",
            "term",
            F.col("n").cast("bigint").alias("n_in_source"),
            lift.alias("lift"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= DISTINCTIVE_TOP_K)
    )


SOURCE_DISTINCTIVE_TERMS_ORACLE = f"""
WITH st AS (
  SELECT source, term, CAST(count(*) AS BIGINT) AS n FROM (
    SELECT source,
           unnest(list_filter(string_split_regex(lower(text), '\\W+'),
                              x -> x <> '')) AS term
    FROM documents
  ) GROUP BY source, term
),
src_tot AS (SELECT source, CAST(sum(n) AS BIGINT) AS s_tot FROM st GROUP BY 1),
term_tot AS (SELECT term, CAST(sum(n) AS BIGINT) AS t_tot FROM st GROUP BY 1),
grand AS (SELECT CAST(sum(n) AS BIGINT) AS g_tot FROM st)
SELECT source, term, n_in_source, lift, rank FROM (
  SELECT s.source, s.term, s.n AS n_in_source,
         (CAST(s.n AS DOUBLE) / CAST(t1.s_tot AS DOUBLE))
           / (CAST(t2.t_tot AS DOUBLE) / CAST(g.g_tot AS DOUBLE)) AS lift,
         row_number() OVER (
           PARTITION BY s.source
           ORDER BY (CAST(s.n AS DOUBLE) / CAST(t1.s_tot AS DOUBLE))
                      / (CAST(t2.t_tot AS DOUBLE) / CAST(g.g_tot AS DOUBLE))
                    DESC, s.term
         ) AS rank
  FROM st s
  JOIN src_tot t1 ON t1.source = s.source
  JOIN term_tot t2 ON t2.term = s.term
  CROSS JOIN grand g
  WHERE s.n >= {DISTINCTIVE_MIN_COUNT}
)
WHERE rank <= {DISTINCTIVE_TOP_K}
"""


# --------------------------------------------------------------------------
# Vocabulary growth curve (Heaps-law audit)
# --------------------------------------------------------------------------

VOCAB_GROWTH_BUCKETS = 32


@query()
def vocab_growth_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(bucket, n_docs, n_tokens, new_terms, cum_terms): the corpus's
    vocabulary-growth (Heaps-law) curve in ingestion order — how many
    NEVER-SEEN-BEFORE terms each slice of the corpus contributes, and
    the running vocabulary size. Sub-linear growth is the healthy
    natural-language signature; a late bucket with a new-term spike
    is the classic symptom of an encoding break, language mix-in, or
    machine-generated flood entering the crawl.

    Scale shape (the same bucketed-prefix pattern as pareto/2p): each
    term's first occurrence is a partial-aggregatable min over
    (term, doc_id) pairs; doc_id space is cut into a fixed number of
    range buckets via a broadcast one-row max; the cumulative sum
    runs over the VOCAB_GROWTH_BUCKETS-row rollup only — no
    corpus-sized window anywhere."""
    docs = tables.spread(tables.table(spark, sf_dir, "documents"), "doc_id")
    hi = docs.agg((F.max("doc_id") + 1).alias("hi"))
    # integer division on BOTH engines: DuckDB's double->int CAST
    # rounds to nearest while Spark's truncates, so a float quotient
    # would disagree at bucket edges
    bucket = F.expr(
        f"cast(cast(doc_id as bigint) * {VOCAB_GROWTH_BUCKETS}"
        " div hi as int)"
    )
    per_doc = (
        docs.crossJoin(F.broadcast(hi))
        .select(
            bucket.alias("bucket"),
            F.size(tokens_expr()).cast("bigint").alias("n_tokens"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
    )
    first = (
        docs.select("doc_id", F.explode(tokens_expr()).alias("term"))
        .groupBy("term")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    new_terms = (
        first.crossJoin(F.broadcast(hi))
        .select(
            F.expr(
                f"cast(cast(first_doc as bigint) * {VOCAB_GROWTH_BUCKETS}"
                " div hi as int)"
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("new_terms"))
    )
    from pyspark.sql import Window

    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_doc.join(new_terms, "bucket", "left")
        .select(
            "bucket",
            "n_docs",
            "n_tokens",
            F.coalesce("new_terms", F.lit(0)).cast("bigint").alias("new_terms"),
        )
        .select(
            "bucket",
            "n_docs",
            "n_tokens",
            "new_terms",
            F.sum("new_terms").over(w).cast("bigint").alias("cum_terms"),
        )
    )


VOCAB_GROWTH_ORACLE = f"""
WITH hi AS (SELECT max(doc_id) + 1 AS hi FROM documents),
toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '')
           AS t
  FROM documents
),
per_doc AS (
  SELECT CAST(CAST(doc_id AS BIGINT) * {VOCAB_GROWTH_BUCKETS} // hi.hi AS INT)
           AS bucket,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(t)) AS BIGINT) AS n_tokens
  FROM toks CROSS JOIN hi
  GROUP BY 1
),
first AS (
  SELECT term, min(doc_id) AS first_doc
  FROM (SELECT doc_id, unnest(t) AS term FROM toks)
  GROUP BY 1
),
new_terms AS (
  SELECT CAST(CAST(first_doc AS BIGINT) * {VOCAB_GROWTH_BUCKETS} // hi.hi
              AS INT) AS bucket,
         CAST(count(*) AS BIGINT) AS new_terms
  FROM first CROSS JOIN hi
  GROUP BY 1
)
SELECT p.bucket, p.n_docs, p.n_tokens,
       COALESCE(n.new_terms, 0) AS new_terms,
       CAST(sum(COALESCE(n.new_terms, 0)) OVER (
         ORDER BY p.bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS cum_terms
FROM per_doc p LEFT JOIN new_terms n ON n.bucket = p.bucket
"""


# --------------------------------------------------------------------------
# Readability scoring (Flesch reading ease, deterministic counts)
# --------------------------------------------------------------------------


@query()
def readability_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_sentences, n_words, n_syllables, flesch): Flesch
    reading ease per document — the curation signal that separates
    prose from listings/code dumps (native prose clusters ~50-70;
    keyword-stuffed pages crater). Syllables via the standard
    vowel-group proxy (runs of aeiouy), sentences via the period
    split shared with line_dedup, words via the shared tokenizer —
    all exact regex counts, so the score is rational arithmetic on
    integers with literal coefficients: bit-identical cross-engine.
    Degenerate documents (no sentence or no word) emit NULL rather
    than a division error. Scan-local, zero shuffles."""
    docs = tables.spread(tables.table(spark, sf_dir, "documents"), "doc_id")
    words = F.size(tokens_expr())
    sentences = F.size(
        F.expr(
            "filter(transform(split(text, '\\\\.'), x -> trim(x)),"
            " x -> length(x) >= 1)"
        )
    )
    syllables = F.size(
        F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")
    )
    flesch = F.when(
        (sentences > 0) & (words > 0),
        F.lit(206.835)
        - F.lit(1.015) * (words.cast("double") / sentences.cast("double"))
        - F.lit(84.6) * (syllables.cast("double") / words.cast("double")),
    )
    return docs.select(
        "doc_id",
        sentences.cast("bigint").alias("n_sentences"),
        words.cast("bigint").alias("n_words"),
        syllables.cast("bigint").alias("n_syllables"),
        flesch.alias("flesch"),
    )


READABILITY_ORACLE = """
WITH feat AS (
  SELECT doc_id,
         CAST(len(list_filter(list_transform(string_split(text, '.'),
                x -> trim(x)), x -> length(x) >= 1)) AS BIGINT)
           AS n_sentences,
         CAST(len(list_filter(string_split_regex(lower(text), '\\W+'),
                x -> x <> '')) AS BIGINT) AS n_words,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
           AS n_syllables
  FROM documents
)
SELECT doc_id, n_sentences, n_words, n_syllables,
       CASE WHEN n_sentences > 0 AND n_words > 0 THEN
         206.835
         - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
         - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
       END AS flesch
FROM feat
"""


# --------------------------------------------------------------------------
# Character entropy (gibberish / encoding-noise screen)
# --------------------------------------------------------------------------


@query()
def char_entropy_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_chars_counted, n_distinct_chars, entropy_bits): the
    Shannon entropy of each document's character distribution — the
    classic cheap screen for gibberish, binary-in-text, and
    encoding damage (natural language sits ~3.5-4.5 bits/char;
    base64 blobs push toward 6, 'aaaa…' runs toward 0; both tails
    get quarantined by quality pipelines). The per-character terms
    are fixed-pointed BEFORE summation (count * floor(1e6 *
    ln(count/n)) as integers, the unigram-LM recipe), so the
    reduction is order-independent and the result cross-engine
    exact; the bits conversion is one deterministic double op on the
    final integer.

    Scale: the char explode is map-local and the (doc_id, ch)
    count partial-aggregates — shuffle rows are bounded by
    |docs| x |alphabet|, not corpus characters. Single pass."""
    docs = tables.table(spark, sf_dir, "documents")
    # both engines split '' into [''] — drop that phantom element so
    # empty docs have no characters (and no entropy row)
    chars = (
        tables.spread(docs, "doc_id")
        .select(
            "doc_id", F.explode(F.expr("split(lower(text), '')")).alias("ch")
        )
        .filter(F.col("ch") != "")
    )
    counts = chars.groupBy("doc_id", "ch").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    totals = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("n_distinct")
    )
    term_fp = F.expr(
        "c * cast(floor(1e6 * ln(cast(c as double) / cast(n as double)))"
        " as bigint)"
    )
    return (
        counts.join(totals, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.max("n").cast("bigint").alias("n_chars_counted"),
            F.max("n_distinct").cast("bigint").alias("n_distinct_chars"),
            F.sum(term_fp).alias("h_fp"),
        )
        .select(
            "doc_id",
            "n_chars_counted",
            "n_distinct_chars",
            F.expr(
                "-cast(h_fp as double)"
                " / (cast(n_chars_counted as double) * 1e6 * ln(2))"
            ).alias("entropy_bits"),
        )
    )


CHAR_ENTROPY_ORACLE = """
WITH chars AS (
  SELECT doc_id, ch FROM (
    SELECT doc_id, unnest(string_split(lower(text), '')) AS ch
    FROM documents
  ) WHERE ch <> ''
),
counts AS (
  SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c
  FROM chars GROUP BY 1, 2
),
totals AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS n_distinct
  FROM counts GROUP BY 1
)
SELECT c.doc_id,
       CAST(max(t.n) AS BIGINT) AS n_chars_counted,
       CAST(max(t.n_distinct) AS BIGINT) AS n_distinct_chars,
       -CAST(sum(c.c * CAST(floor(1e6 * ln(CAST(c.c AS DOUBLE)
            / CAST(t.n AS DOUBLE))) AS BIGINT)) AS DOUBLE)
         / (CAST(max(t.n) AS DOUBLE) * 1e6 * ln(2)) AS entropy_bits
FROM counts c JOIN totals t ON t.doc_id = c.doc_id
GROUP BY 1
"""


# --------------------------------------------------------------------------
# Phrase search (positional postings; the capability tf/df indexes lack)
# --------------------------------------------------------------------------


@query()
def phrase_search_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(term_a, term_b, doc_id, n_occurrences): every document
    containing the corpus's most frequent bigram as an EXACT adjacent
    phrase, with its occurrence count — the positional-index query
    that a tf/df inverted index (inverted_index) cannot answer:
    phrase matching needs token POSITIONS, and resolves as an
    equi-join of the two terms' postings on (doc_id, pos+1). The
    query phrase is data-derived (top bigram by count, lexicographic
    tiebreak) so the operator self-targets on any corpus.

    Scale: bigram counting is map-local (each doc's adjacent pairs
    come off its own token array — no index join); the phrase
    resolution first prunes the positional postings to the two query
    terms (term-selective, the access path a real positional index
    serves from disk), so the join touches only those postings,
    keyed (doc_id, pos). Nothing corpus-wide shuffles after the
    count rollup."""
    docs = tables.spread(tables.table(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select("doc_id", tokens_expr().alias("toks"))
    bigrams = toks.filter(F.size("toks") >= 2).select(
        F.explode(
            F.expr(
                "zip_with(slice(toks, 1, size(toks) - 1),"
                " slice(toks, 2, size(toks) - 1),"
                " (x, y) -> struct(x as a, y as b))"
            )
        ).alias("bg")
    ).select("bg.a", "bg.b")
    top = (
        bigrams.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "a", "b")
        .limit(1)
        .select("a", "b")
    )
    postings = toks.select(
        "doc_id", F.posexplode("toks").alias("pos0", "term")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "term")
    pa = postings.join(
        F.broadcast(top), postings.term == F.col("a")
    ).select("doc_id", "pos", "a", "b")
    pb = postings.select(
        F.col("doc_id").alias("doc_b"),
        F.col("pos").alias("pos_b"),
        F.col("term").alias("term_b"),
    )
    return (
        pa.join(
            pb,
            (F.col("doc_b") == F.col("doc_id"))
            & (F.col("pos_b") == F.col("pos") + 1)
            & (F.col("term_b") == F.col("b")),
        )
        .groupBy(
            F.col("a").alias("term_a"),
            F.col("b").alias("term_b"),
            "doc_id",
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_occurrences"))
    )


PHRASE_SEARCH_ORACLE = """
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '')
           AS toks
  FROM documents
),
bigrams AS (
  SELECT unnest([{'a': toks[i], 'b': toks[i + 1]}
                 for i in generate_series(1, len(toks) - 1)]) AS bg
  FROM tok WHERE len(toks) >= 2
),
top AS (
  SELECT bg.a AS a, bg.b AS b
  FROM bigrams GROUP BY 1, 2
  ORDER BY count(*) DESC, 1, 2 LIMIT 1
),
postings AS (
  SELECT doc_id, g.pos AS pos, g.t AS term
  FROM (
    SELECT doc_id, unnest([{'pos': i, 't': toks[i]}
                           for i in generate_series(1, len(toks))]) AS g
    FROM tok
  )
)
SELECT t.a AS term_a, t.b AS term_b, pa.doc_id,
       CAST(count(*) AS BIGINT) AS n_occurrences
FROM top t
JOIN postings pa ON pa.term = t.a
JOIN postings pb ON pb.doc_id = pa.doc_id
  AND pb.pos = pa.pos + 1 AND pb.term = t.b
GROUP BY 1, 2, 3
"""


# --------------------------------------------------------------------------
# Charset / encoding-quality profile (the web-corpus mojibake audit)
# --------------------------------------------------------------------------


@query()
def charset_profile_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_docs, n_chars, ascii_printable_rate, control_rate,
    replacement_rate, digit_rate, upper_rate): per-source character-
    class composition of the corpus — the encoding-quality audit a
    web-scale pipeline runs BEFORE language ID: mojibake (double-
    decoded UTF-8), U+FFFD replacement characters, and stray control
    bytes all surface here as nonzero control/replacement rates or a
    collapsed ascii rate, and they localize to a source, which is the
    actionable unit (fix the crawler/decoder, not the documents).

    All counts are exact BIGINT sums of per-doc regexp class counts
    (character classes are explicit code-point ranges, identically
    interpreted by both engines' regex dialects); every rate is one
    correctly-rounded division at the end. One scan, one
    partial-aggregatable rollup — scan-bound at any corpus size."""
    docs = tables.table(spark, sf_dir, "documents")

    def cnt(cls: str) -> str:
        # chars NOT in the class are deleted; the remainder's length
        # is the class count. Avoids lookaheads; both engines agree.
        return f"length(regexp_replace(text, '[^{cls}]', ''))"

    per = docs.selectExpr(
        "source",
        "length(text) as n",
        f"{cnt(' -~')} as a",  # printable ASCII incl space
        # C0 controls minus NUL. Spark's SQL string parser resolves
        # \\uXXXX escapes (it silently DROPS \\x ones), so the class
        # reaches the regex engine as literal control characters.
        f"{cnt(chr(92) + 'u0001-' + chr(92) + 'u001F')} as c",
        # U+FFFD via the Java regex \\u escape (Spark's chr() is
        # byte-range only, so no chr(65533) on this side)
        f"length(text) - length(regexp_replace(text,"
        f" '{chr(92)}{chr(92)}uFFFD', '')) as r",
        f"{cnt('0-9')} as d",
        f"{cnt('A-Z')} as u",
    )
    agg = per.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n").cast("bigint").alias("n_chars"),
        F.sum("a").cast("bigint").alias("sa"),
        F.sum("c").cast("bigint").alias("sc"),
        F.sum("r").cast("bigint").alias("sr"),
        F.sum("d").cast("bigint").alias("sd"),
        F.sum("u").cast("bigint").alias("su"),
    )
    nch = F.greatest(F.col("n_chars"), F.lit(1)).cast("double")
    return agg.select(
        "source",
        "n_docs",
        "n_chars",
        (F.col("sa").cast("double") / nch).alias("ascii_printable_rate"),
        (F.col("sc").cast("double") / nch).alias("control_rate"),
        (F.col("sr").cast("double") / nch).alias("replacement_rate"),
        (F.col("sd").cast("double") / nch).alias("digit_rate"),
        (F.col("su").cast("double") / nch).alias("upper_rate"),
    )


CHARSET_PROFILE_ORACLE = r"""
WITH per AS (
  SELECT source,
         length(text) AS n,
         length(regexp_replace(text, '[^ -~]', '', 'g')) AS a,
         length(regexp_replace(text, '[^\x01-\x1F]', '', 'g')) AS c,
         length(text) - length(replace(text, chr(65533), '')) AS r,
         length(regexp_replace(text, '[^0-9]', '', 'g')) AS d,
         length(regexp_replace(text, '[^A-Z]', '', 'g')) AS u
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n) AS BIGINT) AS n_chars,
       CAST(sum(a) AS DOUBLE) / greatest(CAST(sum(n) AS DOUBLE), 1.0)
         AS ascii_printable_rate,
       CAST(sum(c) AS DOUBLE) / greatest(CAST(sum(n) AS DOUBLE), 1.0)
         AS control_rate,
       CAST(sum(r) AS DOUBLE) / greatest(CAST(sum(n) AS DOUBLE), 1.0)
         AS replacement_rate,
       CAST(sum(d) AS DOUBLE) / greatest(CAST(sum(n) AS DOUBLE), 1.0)
         AS digit_rate,
       CAST(sum(u) AS DOUBLE) / greatest(CAST(sum(n) AS DOUBLE), 1.0)
         AS upper_rate
FROM per
GROUP BY source
"""


# --------------------------------------------------------------------------
# PII redaction (the transform pii_scan is the pre-pass for)
# --------------------------------------------------------------------------


@query()
def pii_redact_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, redacted, n_redacted): the corpus with emails, URLs
    and long digit runs replaced by typed placeholders — the
    materialized output of the redaction pass, next to how many spans
    were rewritten. The placeholder chain applies in a FIXED order
    (emails -> URLs -> digit runs) on both engines, so a URL
    containing digits redacts as one <URL>, never a <URL> with a
    <NUM> inside; n_redacted counts matches on the ORIGINAL text
    (the pii_scan numbers), making scan and redact mutually
    auditable.

    Scale: pure per-row regexp codegen — no shuffle, no UDF; the
    transform runs where each document lives and writes back
    column-for-column. Same portability contract as pii_scan (Java
    regex == RE2 on these patterns)."""
    docs = tables.spread(tables.table(spark, sf_dir, "documents"), "doc_id")

    def n(pattern: str) -> F.Column:
        escaped = pattern.replace("\\", "\\\\")
        return F.size(F.expr(f"regexp_extract_all(text, '{escaped}', 0)"))

    red = "text"
    for pattern, tag in (
        (_EMAIL_RE, "<EMAIL>"),
        (_URL_RE, "<URL>"),
        (_LONGNUM_RE, "<NUM>"),
    ):
        escaped = pattern.replace("\\", "\\\\")
        red = f"regexp_replace({red}, '{escaped}', '{tag}')"
    return docs.select(
        "doc_id",
        F.expr(red).alias("redacted"),
        (n(_EMAIL_RE) + n(_URL_RE) + n(_LONGNUM_RE)).alias("n_redacted"),
    )


def _pii_redact_oracle() -> str:
    red = "text"
    for pattern, tag in (
        (_EMAIL_RE, "<EMAIL>"),
        (_URL_RE, "<URL>"),
        (_LONGNUM_RE, "<NUM>"),
    ):
        red = f"regexp_replace({red}, '{pattern}', '{tag}', 'g')"
    return f"""
SELECT doc_id, {red} AS redacted,
       len(regexp_extract_all(text, '{_EMAIL_RE}'))
       + len(regexp_extract_all(text, '{_URL_RE}'))
       + len(regexp_extract_all(text, '{_LONGNUM_RE}')) AS n_redacted
FROM documents
"""


PII_REDACT_ORACLE = _pii_redact_oracle()


# --------------------------------------------------------------------------
# Source distributional-similarity matrix (unigram cosine)
# --------------------------------------------------------------------------

SRC_SIM_V = 200  # corpus-wide top-V terms define the comparison space


@query()
def source_similarity_matrix_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(source_a, source_b, cos_fp): pairwise cosine similarity
    between per-source unigram frequency vectors over the corpus-wide
    top-SRC_SIM_V vocabulary — the DISTRIBUTIONAL provenance
    complement to dedup.source_dedup_matrix (that one counts literal
    near-copies; this one says which sources write ALIKE even when no
    document is shared; both feed mixture design). Restricting to the
    global top-V makes the vector space identical for every source
    and bounds the pair join at |S|^2 * V terms.

    Determinism: counts are exact integers; cos_fp cross-multiplies
    in integer space — floor(1e6 * dot / (sqrt(na2)*sqrt(nb2))) where
    dot/na2/nb2 are exact BIGINT sums and the two sqrt/division ops
    are single correctly-rounded IEEE steps. Scale: one token rollup
    (corpus touched once), a broadcast top-V semi-join, and a V-keyed
    pair join between |S|-sized vectors."""
    docs = tables.spread(tables.table(spark, sf_dir, "documents"), "doc_id")
    tf = (
        docs.select(
            "source", F.explode(tokens_expr()).alias("tok")
        )
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    top = (
        tf.groupBy("tok")
        .agg(F.sum("c").alias("tc"))
        .orderBy(F.desc("tc"), F.asc("tok"))
        .limit(SRC_SIM_V)
        .select("tok")
    )
    vec = tf.join(F.broadcast(top), "tok")
    norms = vec.groupBy("source").agg(
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("n2")
    )
    a = vec.select("tok", F.col("source").alias("source_a"), F.col("c").alias("ca"))
    b = vec.select("tok", F.col("source").alias("source_b"), F.col("c").alias("cb"))
    dots = (
        a.join(b, "tok")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("bigint").alias("dot"))
    )
    # DOMAIN-COMPLETE matrix (the empty-pair-domain lesson): sources
    # with disjoint top-V vocabularies still get their row, cosine 0 —
    # a left join of the full ordered-pair domain against the sparse
    # dot table. A source with NO top-V terms at all has no vector
    # and therefore no defined cosine; the norms inner join excludes
    # it on both engines.
    na = norms.select(F.col("source").alias("source_a"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("source").alias("source_b"), F.col("n2").alias("nb2"))
    domain = na.join(nb, F.col("source_a") < F.col("source_b"))
    return (
        domain.join(dots, ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            F.expr(
                "cast(floor(1000000.0d * cast(coalesce(dot, 0L) as double)"
                " / (sqrt(cast(na2 as double)) * sqrt(cast(nb2 as double))))"
                " as bigint)"
            ).alias("cos_fp"),
        )
    )


SOURCE_SIMILARITY_MATRIX_ORACLE = f"""
WITH tf AS MATERIALIZED (
  SELECT source, unnest(list_filter(string_split_regex(lower(text), '\\W+'),
                                    x -> x <> '')) AS tok
  FROM documents
),
cnt AS MATERIALIZED (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS c
  FROM tf GROUP BY 1, 2
),
top AS MATERIALIZED (
  SELECT tok FROM (
    SELECT tok, sum(c) AS tc FROM cnt GROUP BY 1
    ORDER BY tc DESC, tok LIMIT {SRC_SIM_V}
  )
),
vec AS MATERIALIZED (
  SELECT c.source, c.tok, c.c FROM cnt c JOIN top USING (tok)
),
norms AS (
  SELECT source, CAST(sum(c * c) AS BIGINT) AS n2 FROM vec GROUP BY 1
),
dots AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(sum(a.c * b.c) AS BIGINT) AS dot
  FROM vec a JOIN vec b ON a.tok = b.tok AND a.source < b.source
  GROUP BY 1, 2
)
SELECT na.source AS source_a, nb.source AS source_b,
       CAST(floor(1000000.0 * CAST(coalesce(d.dot, 0) AS DOUBLE)
            / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))))
         AS BIGINT) AS cos_fp
FROM norms na
JOIN norms nb ON na.source < nb.source
LEFT JOIN dots d ON d.source_a = na.source AND d.source_b = nb.source
"""


# --------------------------------------------------------------------------
# PMI collocations (lift-ranked adjacent bigrams)
# --------------------------------------------------------------------------

COLLOC_MIN_COUNT = 5
COLLOC_TOP = 20


@query()
def collocation_pmi_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(w1, w2, c_ab, lift, rank): the corpus' strongest collocations
    — adjacent token bigrams ranked by association lift
    N * c(w1,w2) / (c(w1,·) * c(·,w2)), the exp of pointwise mutual
    information computed against the bigram contingency margins.
    Collocation mining is the classic first step of phrase-aware
    tokenizers and stop-phrase lists; lift is emitted instead of
    log-PMI so the hashed value is ONE division of exact integers
    (the log is monotone — ranking is identical — and transcendentals
    stay out of hashed output, per the repo's cross-engine rules).

    Low-count bigrams (c_ab < COLLOC_MIN_COUNT) are dropped before
    ranking — unit-count pairs otherwise own the lift tail (Zipf).
    Scale: bigram extraction is the zip_with slice form behind a
    size >= 2 guard (no sequence() on degenerate docs); the counts
    are three partial-aggregatable rollups joined on word-sized
    keys; the global top-COLLOC_TOP window runs on the >= MIN_COUNT
    survivors only."""
    docs = tables.table(spark, sf_dir, "documents")
    toks = docs.select(tokens_expr("text").alias("t")).filter(
        F.size("t") >= 2
    )
    bigrams = toks.select(
        F.explode(
            F.expr(
                "zip_with(slice(t, 1, size(t) - 1), "
                "slice(t, 2, size(t) - 1), "
                "(a, b) -> struct(a as w1, b as w2))"
            )
        ).alias("bg")
    ).select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    pair = bigrams.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_ab")
    )
    left = pair.groupBy("w1").agg(F.sum("c_ab").cast("bigint").alias("ca"))
    right = pair.groupBy("w2").agg(F.sum("c_ab").cast("bigint").alias("cb"))
    total = pair.agg(F.sum("c_ab").cast("bigint").alias("n_bg"))
    scored = (
        pair.filter(F.col("c_ab") >= COLLOC_MIN_COUNT)
        .join(left, "w1")
        .join(right, "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            "c_ab",
            (
                (F.col("n_bg") * F.col("c_ab")).cast("double")
                / (F.col("ca") * F.col("cb")).cast("double")
            ).alias("lift"),
        )
    )
    w = Window.orderBy(F.col("lift").desc(), "w1", "w2")
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("int")
    ).filter(F.col("rank") <= COLLOC_TOP)


COLLOCATION_PMI_ORACLE = f"""
WITH toks AS (
  SELECT list_filter(string_split_regex(lower(text), '\\W+'),
                     x -> x <> '') AS t
  FROM documents
),
bigrams AS (
  SELECT t[g.i] AS w1, t[g.i + 1] AS w2
  FROM toks,
       LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) g
  WHERE len(t) >= 2
),
pair AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_ab
  FROM bigrams GROUP BY 1, 2
),
lft AS (SELECT w1, CAST(sum(c_ab) AS BIGINT) AS ca FROM pair GROUP BY 1),
rgt AS (SELECT w2, CAST(sum(c_ab) AS BIGINT) AS cb FROM pair GROUP BY 1),
total AS (SELECT CAST(sum(c_ab) AS BIGINT) AS n_bg FROM pair),
scored AS (
  SELECT p.w1, p.w2, p.c_ab,
         CAST(t.n_bg * p.c_ab AS DOUBLE) / CAST(l.ca * r.cb AS DOUBLE)
           AS lift
  FROM pair p
  JOIN lft l ON l.w1 = p.w1
  JOIN rgt r ON r.w2 = p.w2
  CROSS JOIN total t
  WHERE p.c_ab >= {COLLOC_MIN_COUNT}
)
SELECT w1, w2, c_ab, lift, rank FROM (
  SELECT w1, w2, c_ab, lift,
         CAST(row_number() OVER (ORDER BY lift DESC, w1, w2) AS INTEGER)
           AS rank
  FROM scored
)
WHERE rank <= {COLLOC_TOP}
"""


# --------------------------------------------------------------------------
# Lexicon gate audit (blocklist filtering, the curation-side word gate)
# --------------------------------------------------------------------------

# Demo blocklist over the synthetic vocabulary; in production this is
# the policy/safety lexicon. Matching is token-exact (the tokens_expr
# split), never substring — 'slow' must not flag 'slowly'-style
# neighbors, the classic blocklist false-positive.
GATE_LEXICON = ("slow", "stale", "legacy")


@query()
def lexicon_gate_audit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_docs, n_flagged, n_hits, flag_rate): per source, how
    many documents contain at least one blocklisted token, and the
    total blocklisted-token count — the standard lexicon-gate audit a
    curation pipeline runs before enabling a wordlist filter (flag
    rates tell you the gate's cost per source BEFORE you pay it; a
    source with an outlier rate is either genuinely off-policy or the
    lexicon is mis-tokenized for it).

    Exactness: integer counts, one final division. Scale: one corpus
    scan; the per-doc hit count is a map-side array_intersect-free
    aggregate over the token array (no explode shuffle — the filter
    runs inside the doc row), then a |sources|-key rollup."""
    docs = tables.table(spark, sf_dir, "documents")
    lex = F.array(*[F.lit(w) for w in GATE_LEXICON])
    hits = F.size(
        F.filter(tokens_expr(), lambda t: F.array_contains(lex, t))
    ).cast("bigint")
    per_doc = docs.select("source", hits.alias("hits"))
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum((F.col("hits") > 0).cast("bigint")).cast("bigint").alias(
            "n_flagged"
        ),
        F.sum("hits").cast("bigint").alias("n_hits"),
        (
            F.sum((F.col("hits") > 0).cast("bigint")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("flag_rate"),
    )


_GATE_SQL_LIST = ", ".join(f"'{w}'" for w in GATE_LEXICON)
_GATE_DUCK_TOKS = (
    "list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '')"
)

LEXICON_GATE_AUDIT_ORACLE = f"""
WITH per_doc AS (
  SELECT source,
         CAST(len(list_filter({_GATE_DUCK_TOKS},
                  x -> list_contains([{_GATE_SQL_LIST}], x)))
            AS BIGINT) AS hits
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_flagged,
       CAST(sum(hits) AS BIGINT) AS n_hits,
       CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS flag_rate
FROM per_doc GROUP BY source
"""
